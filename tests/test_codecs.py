"""Codec tests: numpy round-trip properties + Spark compress/decompress."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.functions.codecs import (
    dod_decode,
    dod_decode_v2,
    dod_encode,
    dod_encode_v2,
    gorilla_decode,
    gorilla_decode_v2,
    gorilla_encode,
    gorilla_encode_v2,
)

GORILLA = {1: (gorilla_encode, gorilla_decode), 2: (gorilla_encode_v2, gorilla_decode_v2)}
DOD = {1: (dod_encode, dod_decode), 2: (dod_encode_v2, dod_decode_v2)}
from workbook_exporter_fe_spark.functions.spark_codecs import (
    compress_tier,
    decompress_chunks,
    encode_ratio,
)
from workbook_exporter_fe_spark.operators.tiers import rollup_tier1


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
@pytest.mark.parametrize("ver", [1, 2])
def test_gorilla_roundtrip_property(ver, vals):
    enc, dec = GORILLA[ver]
    v = np.array(vals, dtype=np.float64)
    got = dec(enc(v), len(v))
    assert got.tobytes() == v.tobytes()  # bit-exact incl. NaN payloads, ±0


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
@pytest.mark.parametrize("ver", [1, 2])
def test_dod_roundtrip_property(ver, ts):
    enc, dec = DOD[ver]
    t = np.array(ts, dtype=np.int64)
    got = dec(enc(t), len(t))
    assert np.array_equal(got, t)


def test_gorilla_edge_bits():
    v = np.array([np.nan, 0.0, -0.0, np.inf, -np.inf, 5e-324, 1.7976931348623157e308])
    dec = gorilla_decode(gorilla_encode(v), len(v))
    assert dec.tobytes() == v.tobytes()


def test_dod_regular_series_compresses_hard():
    t = np.arange(0, 86400, 60, dtype=np.int64)  # one day of 1m buckets
    enc = dod_encode(t)
    assert len(enc) < len(t)  # >8x better than raw (1 bit/point + header)
    assert np.array_equal(dod_decode(enc, len(t)), t)


@pytest.mark.usefixtures("spark")
def test_spark_compress_roundtrip(spark, events):
    t1 = rollup_tier1(events).cache()
    chunks = compress_tier(t1, value_col="avg_v").cache()
    back = decompress_chunks(chunks, value_col="avg_v")
    orig = t1.select("source", "bucket_ts", "avg_v")
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    # chunk bookkeeping: points preserved, ratio < 1 (beats raw 16B/point)
    ratios = encode_ratio(chunks).collect()
    total_points = sum(r["points"] for r in ratios)
    assert total_points == t1.count()
    # weighted overall ratio beats raw (tiny segments are header-dominated,
    # so assert the aggregate, not per-source)
    overall = sum(r["encoded_bytes"] for r in ratios) / (16.0 * total_points)
    assert overall < 1.0


def test_mixed_version_chunk_table_decodes(spark, events):
    """v1 and v2 chunks coexist in one table; the reader dispatches per row."""
    t1 = rollup_tier1(events).cache()
    c1 = compress_tier(t1, value_col="avg_v", codec_version=1)
    c2 = compress_tier(t1, value_col="avg_v", codec_version=2)
    mixed = c1.filter(F.xxhash64("source") % 2 == 0).unionByName(
        c2.filter(F.xxhash64("source") % 2 != 0)
    )
    back = decompress_chunks(mixed, value_col="avg_v")
    orig = t1.select("source", "bucket_ts", "avg_v")
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def _encoded(spark, tier, cap, ver, tz, rows):
    """``compress_tier``'s rows under the row bound ``rows``, with the
    Arrow batch cap set to ``cap`` and the session in time zone ``tz``,
    and whether the executors encoded them (a pandas UDF in the plan)."""
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": str(cap),
            "spark.sql.session.timeZone": tz}
    prior = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        chunks = compress_tier(tier, value_col="avg_v", codec_version=ver,
                               rows=rows)
        plan = chunks._jdf.queryExecution().executedPlan().toString()
        rows = sorted(map(tuple, chunks.collect()), key=repr)
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    return rows, "FlatMapGroupsInPandas" in plan


@pytest.mark.parametrize("ver,tz", [(1, "UTC"), (2, "UTC"), (2, "Asia/Kolkata")])
def test_driver_and_executor_encode_agree(spark, ver, tz):
    """A tier-1 input bounded by exactly the Arrow batch cap is encoded
    on the driver; one row past the cap, with the cap not positive, or
    with no bound, on the executors. All give the same chunk rows,
    payload bytes included: a null-source segment is kept, and segments
    split at the session's midnight (18:30 UTC in Kolkata) on both
    sides."""
    import datetime

    t0 = datetime.datetime(2026, 1, 1, 18, 20)
    rng = np.random.default_rng(7)
    rows = [
        (src, t0 + datetime.timedelta(days=d, minutes=m), float(rng.normal()))
        for src in ("a", "b", None) for d in (0, 2) for m in range(0, 20, 2)
    ]
    rows[3] = (*rows[3][:2], float("nan"))
    tier = spark.createDataFrame(
        rows, "source string, bucket_ts timestamp, avg_v double")
    n = len(rows)
    driver, on_executors = _encoded(spark, tier, n, ver, tz, n)
    assert not on_executors
    # in Kolkata each day's rows straddle the session's midnight
    assert len(driver) == (6 if tz == "UTC" else 12)
    assert [r[0] for r in driver].count(None) == len(driver) // 3
    for cap, rows in ((n - 1, n), (0, n), (n, None)):
        executor, on_executors = _encoded(spark, tier, cap, ver, tz, rows)
        assert on_executors
        assert executor == driver, (cap, rows)
