"""Additive tier refresh, LTTB / min-max downsampling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.eventize import eventize
from workbook_exporter_fe_spark.operators.tiers import rollup_tier1
from workbook_exporter_fe_spark.sources.datagen import gen_sequences


def _rows(df):
    return sorted(
        (r["source"], r["bucket_ts"], round(r["sum_v"], 6), r["min_v"], r["max_v"], r["cnt"])
        for r in df.collect()
    )


def test_additive_merge_equals_full_rollup(spark, tmp_path):
    """Splitting tier-0 into two batches that SHARE buckets and additive-
    merging their partial rollups must equal the full rollup bit-for-bit —
    the continuous-aggregate refresh contract (key-replace would drop the
    first batch's partials)."""
    from workbook_exporter_fe_spark.operators.merge import merge_tier_additive_path

    seq = gen_sequences(spark, 4000, seed=42)
    ev = eventize(seq).select("source", "event_ts", "v", "doc_id")
    # split WITHIN buckets: even/odd doc hash → same (source, minute) keys
    # appear in both batches with partial data
    gate = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
    b1, b2 = ev.filter(gate), ev.filter(~gate)
    full = rollup_tier1(ev)

    path = str(tmp_path / "tier1")
    merge_tier_additive_path(spark, path, rollup_tier1(b1), ["source", "bucket_ts"])
    merge_tier_additive_path(spark, path, rollup_tier1(b2), ["source", "bucket_ts"])
    got = spark.read.parquet(path)

    shared = (
        rollup_tier1(b1).select("source", "bucket_ts")
        .intersect(rollup_tier1(b2).select("source", "bucket_ts"))
        .count()
    )
    assert shared > 0  # the batches genuinely share partial buckets
    assert _rows(got) == _rows(full)
    # avg re-finalized, not averaged-of-averages
    bad = got.filter(F.abs(F.col("avg_v") - F.col("sum_v") / F.col("cnt")) > 1e-9)
    assert bad.count() == 0


def test_downsample_minmax_preserves_extremes(spark, events):
    from workbook_exporter_fe_spark.operators.downsample import downsample_minmax

    t1 = rollup_tier1(events)
    ds = downsample_minmax(t1, to="1h", value_col="avg_v")
    # exactly one row per (source, hour); v_min/v_max equal the true hourly
    # extremes of the 1m series
    truth = t1.groupBy(
        "source", F.date_trunc("hour", "bucket_ts").alias("bucket_ts")
    ).agg(F.min("avg_v").alias("tmin"), F.max("avg_v").alias("tmax"))
    j = ds.join(truth, ["source", "bucket_ts"])
    assert j.count() == ds.count() == truth.count()
    assert j.filter((F.col("v_min") != F.col("tmin")) | (F.col("v_max") != F.col("tmax"))).count() == 0
    # the argmin/argmax timestamps point at real 1m rows carrying those values
    back = ds.select("source", F.col("ts_min").alias("bucket_ts"), F.col("v_min").alias("avg_v"))
    assert back.join(t1.select("source", "bucket_ts", "avg_v"), ["source", "bucket_ts", "avg_v"], "left_anti").count() == 0


def test_lttb_budget_and_endpoints(spark, events):
    from workbook_exporter_fe_spark.operators.downsample import lttb

    t1 = rollup_tier1(events).select("source", "bucket_ts", "avg_v")
    n_out = 24
    ds = lttb(t1, n_out=n_out, value_col="avg_v")
    per = {r["source"]: r["n"] for r in ds.groupBy("source").agg(F.count("*").alias("n")).collect()}
    sizes = {r["source"]: r["n"] for r in t1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in per.items():
        assert n == min(n_out, sizes[s])
    # endpoints always kept; every selected row is a real source row
    ends = t1.groupBy("source").agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
    j = ds.groupBy("source").agg(F.min("bucket_ts").alias("dlo"), F.max("bucket_ts").alias("dhi")).join(ends, "source")
    assert j.filter((F.col("dlo") != F.col("lo")) | (F.col("dhi") != F.col("hi"))).count() == 0
    assert ds.join(t1, ["source", "bucket_ts", "avg_v"], "left_anti").count() == 0


def test_lttb_indices_reference():
    """Pin the selection against a hand-checkable case: a single spike must
    survive any budget ≥ 3."""
    from workbook_exporter_fe_spark.operators.downsample import _lttb_indices

    ts = np.arange(100, dtype=np.float64)
    vs = np.zeros(100)
    vs[57] = 100.0  # spike
    idx = _lttb_indices(ts, vs, 10)
    assert len(idx) == 10 and idx[0] == 0 and idx[-1] == 99
    assert 57 in idx
    assert np.all(np.diff(idx) > 0)


def test_downsample_minmax_tie_break_deterministic(spark):
    """Equal values in a bucket: min resolves to the EARLIEST point, max
    to the LATEST (lexicographic (v, ts) struct order) — identical on
    any partitioning, matching the q21 oracle's row_number tie order."""
    import datetime as dt

    from workbook_exporter_fe_spark.operators.downsample import (
        downsample_minmax,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        ("s", t0 + dt.timedelta(minutes=m), v)
        for m, v in [(0, 5.0), (10, 1.0), (20, 1.0), (30, 9.0), (40, 9.0)]
    ]
    df = spark.createDataFrame(
        rows, "source string, bucket_ts timestamp, avg_v double"
    )
    for parts in (1, 7):
        got = downsample_minmax(df.repartition(parts), to="1h").collect()[0]
        assert got.v_min == 1.0 and got.ts_min.minute == 10  # earliest tie
        assert got.v_max == 9.0 and got.ts_max.minute == 40  # latest tie
