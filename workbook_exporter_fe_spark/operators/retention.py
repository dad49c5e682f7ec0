"""Retention: tier-specific expiry of old buckets.

Each tier keeps a TTL window behind the watermark (max observed bucket):
tier-1 keeps fine-grained recent data, tier-2/3 keep progressively longer
horizons — the classic downsample-and-expire layout. Expiry is a partition-
level operation (filter + overwrite of expired partitions), never a row
mutation, so the per-row invariant holds: any sequence that survives
retention keeps its exact `tokens` array (BASELINE.json:15) — retention
only ever drops whole rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.merge import _rollback, _swap

# TTL per tier, expressed in the tier's own bucket units → interval.
DEFAULT_TTL = {"1m": "interval 2 days", "1h": "interval 60 days", "1d": "interval 3650 days"}


def watermark(tier: DataFrame) -> "F.Column":
    return tier.agg(F.max("bucket_ts")).collect()[0][0]


def apply_retention(tier: DataFrame, ttl_interval: str, wm=None) -> DataFrame:
    """Keep rows with bucket_ts > watermark - ttl. Pure filter → at table
    level this prunes whole partitions (bucket_ts-derived partition cols)."""
    if wm is None:
        wm = watermark(tier)
    cutoff = F.lit(wm) - F.expr(ttl_interval)
    return tier.filter(F.col("bucket_ts") > cutoff)


def surviving_sequences(sequences: DataFrame, events: DataFrame, kept_events: DataFrame) -> DataFrame:
    """Project the retention decision back to sequences via doc_id semi-join.

    Used by the invariant test: sequences surviving retention must carry
    byte-identical token arrays (no transform in this path ever touches
    `tokens`)."""
    return sequences.join(kept_events.select("doc_id"), "doc_id", "left_semi")


def bound_late_events(
    events: DataFrame, delay: str = "interval 1 hour", wm=None, prior_wm=None
) -> tuple[DataFrame, "F.Column"]:
    """Batch watermark for late tier-0 data: (bounded_events, watermark).

    The batch analog of Structured Streaming's `withWatermark`: events with
    `event_ts <= high_water - delay` are dropped before the rollup, so an
    incremental tier merge never reopens buckets that earlier runs already
    finalized — the same guarantee the streaming path gets from its
    watermark, and the reason the pipeline's keyed merge stays idempotent
    under out-of-order arrivals.

    The never-reopen guarantee only holds if the frontier is MONOTONE
    ACROSS RUNS, exactly like a streaming watermark: callers pass the last
    recorded watermark as ``prior_wm`` (TierPipeline reads it back from the
    manifest) and the new frontier is ``max(prior_wm, batch_max)`` — a
    replay of old data can then never recompute an old watermark and
    reopen buckets a previous run finalized, and a full-history run's
    cutoff comes from the frontier, not from the batch's own max. The
    returned watermark is what the manifest records as the run's
    `watermark` position.

    Events are dropped by whole tier-1 buckets: an event is admitted iff
    its minute is at or after the cutoff's minute, so a later run whose
    cutoff falls inside a bucket an earlier run aggregated in full
    re-derives that bucket from all of its events, never from a part."""
    if wm is None:
        wm = events.agg(F.max("event_ts")).collect()[0][0]
    if prior_wm is not None and (wm is None or prior_wm > wm):
        wm = prior_wm
    cutoff = F.date_trunc("minute", F.lit(wm) - F.expr(delay))
    return events.filter(F.date_trunc("minute", "event_ts") >= cutoff), wm


def expire_tiers(
    spark,
    out_dir: str,
    policies: dict[str, str] | None = None,
    wm=None,
) -> dict:
    """Table-level downsample-then-expire across the tier cascade.

    ``policies`` maps tier dir name → TTL interval (defaults mirror
    DEFAULT_TTL: fine tiers keep short windows, coarse tiers keep long
    ones). All tiers share ONE frontier (tier-1's max bucket, or ``wm``)
    so the horizons nest; TTLs must be non-decreasing with coarseness —
    the downsample-before-expire contract: a bucket only ever leaves a
    FINE tier while a coarser tier still covers its time range, so no
    time range silently vanishes from the store. Enforced, not assumed.

    Each expiry rewrites the filtered tier as one flat table, its column
    order kept, through the store's one crash-safe swap
    (operators/merge._swap) — never a row mutation, so surviving rows are
    byte-identical by construction. At 100 TB, partition tier tables by a
    day column and this filter becomes partition DELETEs; on the
    hive-parquet backend here it is a local-filesystem table rewrite of
    the small tier relations (object stores need the table-format DELETE
    path instead).

    A published serving store (``{out_dir}/snapshot_tiers``) is then
    republished in full (plans/pipeline.republish), so it serves the
    expired tiers, not the rows they dropped.

    Every expiry also records its per-tier cutoff in
    ``{out_dir}/_manifest/retention.json`` (max-merged across runs) so
    ``TierPipeline.verify()`` can scope its cross-tier equality and chunk
    round-trip checks to the range where BOTH tiers are still retained —
    without this, a verify after any expiry would flag a perfectly
    healthy store.

    Returns per-tier {rows_before, rows_after, dropped, cutoff}.
    """
    policies = policies or {
        "tier1": DEFAULT_TTL["1m"],
        "tier2": DEFAULT_TTL["1h"],
        "tier3": DEFAULT_TTL["1d"],
    }
    order = [t for t in ("tier1", "tier2", "tier3") if t in policies]

    def _secs(iv: str) -> float:
        df = spark.range(1).select(
            (F.lit("2000-01-01").cast("timestamp") + F.expr(iv)).cast("double")
            - F.lit("2000-01-01").cast("timestamp").cast("double")
        )
        return df.collect()[0][0]

    ttls = [_secs(policies[t]) for t in order]
    if any(a > b for a, b in zip(ttls, ttls[1:])):
        raise ValueError(
            f"retention must be non-decreasing with tier coarseness: {policies}"
        )

    for tier in order:  # an interrupted swap must not skew the counts
        _rollback(f"{out_dir}/{tier}")
    if wm is None:
        wm = watermark(spark.read.parquet(f"{out_dir}/{order[0]}"))
    stats: dict = {}
    cutoffs: dict[str, str] = {}
    for tier, ttl_secs in zip(order, ttls):
        path = f"{out_dir}/{tier}"
        t = spark.read.parquet(path)
        kept = apply_retention(t, policies[tier], wm=wm)
        before, after = t.count(), kept.count()
        if after < before:
            # one whole-table swap (rolled back if interrupted) to a flat
            # table, a source= one of an older store included
            _swap(path, lambda staging: kept.write.parquet(staging))
        from datetime import timedelta

        cutoff_ts = wm - timedelta(seconds=ttl_secs)
        cutoffs[tier] = cutoff_ts.isoformat()
        stats[tier] = {
            "rows_before": before,
            "rows_after": after,
            "dropped": before - after,
            "cutoff": cutoffs[tier],
        }
    # every time, not only after a swap: a re-run after a crash between
    # the swaps and the publish finds nothing left to drop
    from workbook_exporter_fe_spark.plans.pipeline import republish

    republish(spark, out_dir)
    _record_cutoffs(out_dir, cutoffs)
    return stats


def _record_cutoffs(out_dir: str, cutoffs: dict[str, str]) -> None:
    """Max-merge per-tier retention cutoffs into the manifest sidecar."""
    import json
    import os

    path = os.path.join(out_dir, "_manifest", "retention.json")
    prior: dict[str, str] = {}
    if os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
    # max() on ISO strings is chronological (fixed-width format)
    merged = dict(prior)
    for t, c in cutoffs.items():
        merged[t] = max(merged.get(t, c), c)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(merged, f)


def read_cutoffs(out_dir: str) -> dict:
    """Per-tier retention cutoffs recorded by expire_tiers (datetime
    values), or {} if the store has never been expired."""
    import json
    import os
    from datetime import datetime

    path = os.path.join(out_dir, "_manifest", "retention.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {t: datetime.fromisoformat(c) for t, c in json.load(f).items()}
