"""Continuous-aggregate tiers: 1m → 1h → 1d rollups (FIXTURES.md F3).

Tier-1 aggregates tier-0 events into 1-minute buckets; higher tiers
re-aggregate the tier below **without touching raw data** — only
decomposable aggregates are stored (sum, min, max, count; avg is finalized
as sum/cnt and never stored pre-averaged across tiers).

This generalizes the reference's scan→filter→derive→merge per-exporter
pipeline (/root/reference/workbook_exporter-fe.py:1622-1687, SURVEY §2 O23)
from "host rows → YAML config points" to "events → rolled-up points".

Scale design:
- `groupBy(source, bucket_ts)` does map-side partial aggregation for free
  (Catalyst HashAggregate partial/final) — the shuffle carries one partial
  row per (source, bucket) per task, not raw events.
- `source` is Zipf-skewed; for the heavy tier-1 agg we optionally pre-salt:
  group by (source, bucket, salt) first — the bucket key itself already
  splits the hot source across time, so salting only matters when a single
  (source, bucket) pair is hot. `rollup_tier1(salt_buckets=N)` does the
  two-phase salted aggregate; AQE skew handling stays on as backstop.
- `date_trunc` is a narrow expression (no window() struct materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData, Window
from pyspark.sql import functions as F

TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}

AGG_COLS = ["sum_v", "min_v", "max_v", "cnt"]


def combine_partials(grouped: GroupedData) -> DataFrame:
    """The combine rule of the decomposable tier columns, applied to
    ``grouped`` partial rows: ``sum_v`` and ``cnt`` add, ``min_v`` takes
    the min and ``max_v`` the max, and ``avg_v`` re-finalizes as
    sum_v / cnt. Re-aggregating a tier upward, folding a batch's partials
    into a stored tier and windowing tier rows all combine this way."""
    return grouped.agg(
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.sum("cnt").alias("cnt"),
    ).withColumn("avg_v", F.col("sum_v") / F.col("cnt"))


def rollup_tier1(
    events: DataFrame, salt_buckets: int = 0, value_col: str = "v"
) -> DataFrame:
    """events(source, event_ts, v) -> tier-1 rows keyed by (source, bucket_ts).

    With ``salt_buckets > 0`` the aggregation runs in two phases:
    partial agg on (source, bucket, salt) then final on (source, bucket) —
    the classic skew-salting pattern for a hot grouping key.
    """
    v = F.col(value_col)
    keys = [F.col("source"), F.date_trunc(TIER_TRUNC["1m"], F.col("event_ts")).alias("bucket_ts")]
    if salt_buckets > 0:
        salt = F.pmod(F.xxhash64(F.col("doc_id")) if "doc_id" in events.columns else F.spark_partition_id(), F.lit(salt_buckets))
        keys.append(salt.alias("_salt"))
    out = events.groupBy(*keys).agg(
        F.sum(v).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.count(v).alias("cnt"),
    )
    if salt_buckets > 0:
        return combine_partials(out.groupBy("source", "bucket_ts"))
    return out.withColumn("avg_v", F.col("sum_v") / F.col("cnt"))


def reaggregate(tier: DataFrame, to: str) -> DataFrame:
    """Re-aggregate a tier table to a coarser bucket ('1h' or '1d').

    Only decomposable aggs are combined; avg is re-finalized. This is the
    engine's continuous-aggregate cascade — answering 1d queries never
    rescans tier-0.
    """
    bucket = F.date_trunc(TIER_TRUNC[to], F.col("bucket_ts")).alias("bucket_ts")
    return combine_partials(tier.groupBy(F.col("source"), bucket))


def token_histogram(events: DataFrame, tier: str = "1m") -> DataFrame:
    """Per-bucket token histogram: (source, bucket_ts, tok_hist map<int,long>).

    Exact at test scale via explode+groupBy (SURVEY §4.2); the two-level
    groupBy means the wide exploded relation is partially aggregated
    map-side before the shuffle. At 100TB you'd cap the domain with a
    count-min sketch inside applyInPandas; the exact path is the oracle.
    """
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("event_ts")).alias("bucket_ts")
    per_token = (
        events.select("source", bucket, F.explode("tokens").alias("token"))
        .groupBy("source", "bucket_ts", "token")
        .agg(F.count("*").alias("n"))
    )
    return per_token.groupBy("source", "bucket_ts").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("token", "n")))
        ).alias("tok_hist")
    )


def merge_token_histograms(hist: DataFrame, to: str) -> DataFrame:
    """Re-aggregate tok_hist maps to a coarser tier (map explode + re-sum)."""
    bucket = F.date_trunc(TIER_TRUNC[to], F.col("bucket_ts")).alias("bucket_ts")
    exploded = hist.select(
        "source", bucket, F.explode("tok_hist").alias("token", "n")
    )
    per_token = exploded.groupBy("source", "bucket_ts", "token").agg(
        F.sum("n").alias("n")
    )
    return per_token.groupBy("source", "bucket_ts").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("token", "n")))
        ).alias("tok_hist")
    )


def distinct_sketch_tier1(
    events: DataFrame, key_col: str = "doc_id", lg_k: int = 12
) -> DataFrame:
    """Tier-1 HLL sketches: (source, bucket_ts, hll binary, cnt).

    COUNT(DISTINCT) is NOT decomposable, so a naive tier cascade would have
    to rescan tier-0 for every coarser bucket. Datasketches HLL is the
    standard fix: per-register max is associative/commutative, so tier-1
    stores the sketch bytes and every coarser tier merges sketches — same
    contract as sum/min/max/cnt. Spark ships this natively
    (hll_sketch_agg / hll_union_agg / hll_sketch_estimate), JVM-side,
    whole-stage-codegen friendly."""
    bucket = F.date_trunc(TIER_TRUNC["1m"], F.col("event_ts")).alias("bucket_ts")
    return events.groupBy(F.col("source"), bucket).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("hll"),
        F.count("*").alias("cnt"),
    )


def distinct_sketch_reaggregate(tier: DataFrame, to: str) -> DataFrame:
    """Merge tier HLL sketches to a coarser bucket — never rescans tier-0."""
    bucket = F.date_trunc(TIER_TRUNC[to], F.col("bucket_ts")).alias("bucket_ts")
    return tier.groupBy(F.col("source"), bucket).agg(
        F.hll_union_agg("hll").alias("hll"),
        F.sum("cnt").alias("cnt"),
    )


def distinct_sketch_finalize(tier: DataFrame) -> DataFrame:
    """(source, bucket_ts, approx_distinct, cnt) from a sketch tier."""
    return tier.select(
        "source",
        "bucket_ts",
        F.hll_sketch_estimate("hll").alias("approx_distinct"),
        "cnt",
    )


def quantile_sketch_tier1(
    events: DataFrame, value_col: str = "v", k: int = 200
) -> DataFrame:
    """Tier-1 KLL quantile sketches: (source, bucket_ts, kll binary, cnt).

    Percentiles are not decomposable either; KLL sketches merge with
    bounded rank error (~1.7% at k=200), so p50/p95/p99 at 1h/1d come from
    merging 1m sketches, never from rescanning tier-0 — the same
    continuous-aggregate contract as the HLL distinct path."""
    bucket = F.date_trunc(TIER_TRUNC["1m"], F.col("event_ts")).alias("bucket_ts")
    return events.groupBy(F.col("source"), bucket).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias("kll"),
        F.count("*").alias("cnt"),
    )


def quantile_sketch_reaggregate(tier: DataFrame, to: str) -> DataFrame:
    """Merge tier KLL sketches to a coarser bucket."""
    bucket = F.date_trunc(TIER_TRUNC[to], F.col("bucket_ts")).alias("bucket_ts")
    return tier.groupBy(F.col("source"), bucket).agg(
        F.kll_merge_agg_double("kll").alias("kll"),
        F.sum("cnt").alias("cnt"),
    )


def quantile_sketch_finalize(
    tier: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """(source, bucket_ts, p50, p95, ..., cnt) from a KLL sketch tier."""
    cols = [
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(q)).alias(
            f"p{int(q * 100)}"
        )
        for q in quantiles
    ]
    return tier.select("source", "bucket_ts", *cols, "cnt")


def sketch_tier1(
    events: DataFrame, key_col: str = "doc_id", value_col: str = "v",
    lg_k: int = 12, kll_k: int = 200,
) -> DataFrame:
    """Combined sketch tier row: (source, bucket_ts, hll, kll, cnt).

    One pass over tier-0 builds both non-decomposable aggregates (distinct
    keys via HLL, value quantiles via KLL) next to the exact cnt — the
    pipeline stores this beside the sum/min/max tier so 1h/1d answers for
    COUNT DISTINCT and percentiles re-merge sketches instead of rescanning."""
    bucket = F.date_trunc(TIER_TRUNC["1m"], F.col("event_ts")).alias("bucket_ts")
    return events.groupBy(F.col("source"), bucket).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("hll"),
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(kll_k)).alias("kll"),
        F.count("*").alias("cnt"),
    )


def sketch_reaggregate(tier: DataFrame, to: str) -> DataFrame:
    bucket = F.date_trunc(TIER_TRUNC[to], F.col("bucket_ts")).alias("bucket_ts")
    return tier.groupBy(F.col("source"), bucket).agg(
        F.hll_union_agg("hll").alias("hll"),
        F.kll_merge_agg_double("kll").alias("kll"),
        F.sum("cnt").alias("cnt"),
    )


def sketch_finalize(
    tier: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    qcols = [
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(q)).alias(f"p{int(q * 100)}")
        for q in quantiles
    ]
    return tier.select(
        "source",
        "bucket_ts",
        F.hll_sketch_estimate("hll").alias("approx_distinct"),
        *qcols,
        "cnt",
    )


def theta_bucket_sketches(
    events: DataFrame, tier: str = "1h", key_col: str = "doc_id", lg_k: int = 12
) -> DataFrame:
    """(source, bucket_ts, theta binary, cnt): per-bucket theta sketches.

    Theta sketches support set EXPRESSIONS (union / intersection /
    difference), which HLL cannot — the basis for cohort questions like
    "how many keys from bucket B also appeared in bucket B-1"."""
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("event_ts")).alias("bucket_ts")
    return events.groupBy(F.col("source"), bucket).agg(
        F.theta_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("theta"),
        F.count("*").alias("cnt"),
    )


def bucket_churn(sketches: DataFrame) -> DataFrame:
    """Consecutive-bucket churn from theta sketches: per (source, bucket),
    estimated total / returning (∩ previous bucket) / new (∖ previous).

    A lag window hands each bucket its predecessor's sketch — set algebra
    then runs as scalar sketch expressions, no rescan of keys. At corpus
    scale this answers retention/churn over any tier without a
    distinct-join between adjacent partitions (which would shuffle the
    full key universe)."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("bucket_ts")
    prev = F.lag("theta").over(w)
    cur = F.col("theta")
    return (
        sketches.select(
            "source",
            "bucket_ts",
            cur.alias("theta"),
            prev.alias("prev_theta"),
        )
        .filter(F.col("prev_theta").isNotNull())
        .select(
            "source",
            "bucket_ts",
            F.round(F.theta_sketch_estimate("theta"), 2).alias("est_total"),
            F.round(
                F.theta_sketch_estimate(F.theta_intersection("theta", "prev_theta")), 2
            ).alias("est_returning"),
            F.round(
                F.theta_sketch_estimate(F.theta_difference("theta", "prev_theta")), 2
            ).alias("est_new"),
        )
    )


# Continuous-aggregate READ path: answer a granularity-G query from the
# coarsest stored tier whose bucket divides G (SURVEY §4.2's tier-skipping
# rewrite — a library routine, no Catalyst rule needed: the caller asks for
# a granularity, never a tier).

_TIER_SECONDS = (("tier3", 86400), ("tier2", 3600), ("tier1", 60))
_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def granularity_seconds(gran: str) -> int:
    """'5m' → 300. Units: s, m, h, d."""
    unit = gran[-1]
    if unit not in _UNIT_SECONDS or not gran[:-1].isdigit():
        raise ValueError(f"bad granularity {gran!r} (want e.g. '5m', '4h', '1d')")
    return int(gran[:-1]) * _UNIT_SECONDS[unit]


def rollup_at(spark, out_dir: str, gran: str) -> DataFrame:
    """(source, bucket_ts, sum_v, min_v, max_v, cnt, avg_v) at any
    granularity that is a multiple of the finest stored tier.

    Picks the coarsest tier table that divides the request — a '1d' query
    scans ~1/1440th of the rows a tier-1 scan would — then re-aggregates
    the decomposable columns into floor(epoch/G)*G buckets (handles
    non-calendar grains like '5m'/'4h' that date_trunc can't express)."""
    want = granularity_seconds(gran)
    for tier, sec in _TIER_SECONDS:
        if want % sec == 0:
            df = spark.read.parquet(f"{out_dir}/{tier}")
            if want == sec:
                return df
            bucket = F.timestamp_seconds(
                F.floor(F.unix_timestamp(F.col("bucket_ts").cast("timestamp")) / want)
                * want
            ).alias("bucket_ts")
            return combine_partials(df.groupBy(F.col("source"), bucket))
    raise ValueError(
        f"{gran!r} ({want}s) is not derivable from stored tiers (finest: 60s)"
    )


def tier_over_time(
    tiers: dict[int, DataFrame],
    func: str,
    range_s: int,
    key: str = "source",
) -> DataFrame:
    """PromQL-style trailing-window aggregate answered from the COARSEST
    tier that can answer it exactly — the continuous-aggregate router for
    range windows.

    ``tiers`` maps bucket step seconds → tier table (the standard
    (source, bucket_ts, sum_v, min_v, max_v, cnt) relation);
    ``func`` ∈ sum/count/min/max/avg — the decomposable family, so a
    window that is a whole number of coarse buckets computes IDENTICAL
    values from the coarse tier while scanning step-ratio× fewer rows
    (e.g. avg_over_time[1d] over tier-1h reads 1/60th of tier-1m, and
    never touches tier-0). The chosen tier's bucket timestamps are the
    evaluation grid (engine deviation 1); the exactness contract — the
    value at coarse bucket T equals the fine-tier evaluation at the LAST
    fine bucket inside T — is pinned in tests/test_tiers_router.py.

    The frame is ``RANGE (range_s - step) PRECEDING .. CURRENT ROW`` over
    epoch seconds of the bucket START: a window of range_s seconds worth
    of buckets ending with the current bucket, sparse-series safe (no
    densify needed). One Exchange on the series key, one WindowExec.
    """
    aggs = {
        "sum": lambda: F.sum("sum_v"),
        "count": lambda: F.sum("cnt"),
        "min": lambda: F.min("min_v"),
        "max": lambda: F.max("max_v"),
        "avg": None,  # sum/cnt pair, finalized below
    }
    if func not in aggs:
        raise ValueError(f"non-decomposable func {func!r}; use promql() "
                         "over the fine tier for rate/quantile/stddev")
    candidates = [s for s in tiers if s <= range_s and range_s % s == 0]
    if not candidates:
        raise ValueError(
            f"no registered tier divides range {range_s}s: {sorted(tiers)}"
        )
    step = max(candidates)
    t = tiers[step]
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("bucket_ts").cast("timestamp").cast("double"))
        .rangeBetween(-(range_s - step), 0)
    )
    if func == "avg":
        val = F.sum("sum_v").over(w) / F.sum("cnt").over(w)
    else:
        val = aggs[func]().over(w)
    return t.select(
        key, "bucket_ts", val.alias("value"),
        F.lit(step).alias("tier_step_s"),
    )
