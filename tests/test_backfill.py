"""TierPipeline.backfill: window-replace correction semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.eventize import eventize
from workbook_exporter_fe_spark.plans.pipeline import TierPipeline


@pytest.fixture()
def store(spark, sequences, tmp_path):
    out = str(tmp_path / "store")
    pipe = TierPipeline(spark, out)
    pipe.run(sequences, "base")
    ev = eventize(sequences).select("source", "event_ts", "v", "doc_id")
    return pipe, out, ev


def _table(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.collect())


def _window(spark, ev):
    lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).collect()[0]
    return lo, hi


def test_backfill_same_data_is_noop(spark, store):
    pipe, out, ev = store
    before = {t: _table(spark, f"{out}/{t}")
              for t in ("tier1", "tier2", "tier3", "chunks")}
    lo, hi = _window(spark, ev)
    import datetime as dt

    stats = pipe.backfill(
        ev, lo.isoformat(), (hi + dt.timedelta(seconds=1)).isoformat(), "bf1"
    )
    assert stats["tier1"] > 0
    for t, rows in before.items():
        assert _table(spark, f"{out}/{t}") == rows, t


def test_backfill_correction_replaces_window_and_verifies(spark, store):
    pipe, out, ev = store
    lo, hi = _window(spark, ev)
    import datetime as dt

    span = (hi - lo).total_seconds()
    w_lo = lo + dt.timedelta(seconds=span // 3)
    w_hi = lo + dt.timedelta(seconds=2 * span // 3)
    # corrected events: drop one source entirely, double another's values
    corrected = ev.filter(
        ~((F.col("event_ts") >= F.lit(w_lo)) & (F.col("event_ts") < F.lit(w_hi))
          & (F.col("source") == "src-01"))
    ).withColumn(
        "v",
        F.when(
            (F.col("event_ts") >= F.lit(w_lo)) & (F.col("event_ts") < F.lit(w_hi))
            & (F.col("source") == "src-02"),
            F.col("v") * 2,
        ).otherwise(F.col("v")),
    )
    t1_before = spark.read.parquet(f"{out}/tier1")
    outside_before = sorted(
        tuple(r) for r in t1_before.filter(
            ~((F.col("bucket_ts") >= F.lit(w_lo - dt.timedelta(seconds=60)))
              & (F.col("bucket_ts") < F.lit(w_hi + dt.timedelta(seconds=60))))
        ).collect()
    )
    pipe.backfill(corrected, w_lo.isoformat(), w_hi.isoformat(), "bf2")
    t1 = spark.read.parquet(f"{out}/tier1")
    # the dropped source vanished from the window's interior
    interior = t1.filter(
        (F.col("bucket_ts") >= F.lit(w_lo + dt.timedelta(seconds=60)))
        & (F.col("bucket_ts") < F.lit(w_hi - dt.timedelta(seconds=60)))
        & (F.col("source") == "src-01")
    )
    assert interior.count() == 0
    # untouched buckets outside the window are bit-identical
    outside_after = sorted(
        tuple(r) for r in t1.filter(
            ~((F.col("bucket_ts") >= F.lit(w_lo - dt.timedelta(seconds=60)))
              & (F.col("bucket_ts") < F.lit(w_hi + dt.timedelta(seconds=60))))
        ).collect()
    )
    assert outside_after == outside_before
    # cross-tier invariants hold after the repair
    checks = pipe.verify()
    assert checks["ok"], checks


def test_window_alignment_is_timezone_independent(monkeypatch):
    """_floor/_ceil must read the naive window bounds as UTC the way the
    Spark session does — datetime.timestamp() reads them in the host's
    LOCAL zone, shifting the replaced window (and its minute/hour/day
    alignment) by the UTC offset on any non-UTC host. Pin the helpers
    under a non-UTC, non-whole-hour TZ."""
    import os
    import time
    import datetime as dt

    from workbook_exporter_fe_spark.plans.pipeline import _ceil, _floor

    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kathmandu"  # UTC+5:45 — catches sub-hour bugs
    time.tzset()
    try:
        ts = dt.datetime(2024, 3, 5, 10, 17, 43)
        assert _floor(ts, 60) == dt.datetime(2024, 3, 5, 10, 17, 0)
        assert _ceil(ts, 60) == dt.datetime(2024, 3, 5, 10, 18, 0)
        assert _floor(ts, 3600) == dt.datetime(2024, 3, 5, 10, 0, 0)
        assert _ceil(ts, 3600) == dt.datetime(2024, 3, 5, 11, 0, 0)
        assert _floor(ts, 86400) == dt.datetime(2024, 3, 5)
        assert _ceil(ts, 86400) == dt.datetime(2024, 3, 6)
        # already-aligned bounds are fixpoints
        assert _floor(dt.datetime(2024, 3, 5, 10), 3600) == dt.datetime(
            2024, 3, 5, 10
        )
        assert _ceil(dt.datetime(2024, 3, 5, 10), 3600) == dt.datetime(
            2024, 3, 5, 10
        )
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_run_tiers_rejects_backfill_with_from_snapshots(tmp_path):
    """--backfill --from-snapshots used to die with a NameError deep in
    the run, and --backfill --snapshot-tiers silently skipped the
    first publish of a serving store; both must be usage errors up
    front."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cases = [
        (["--from-snapshots", str(tmp_path)], "--backfill needs explicit events"),
        (["--generate", "10", "--snapshot-tiers"],
         "--backfill republishes the tiers a serving store already holds"),
    ]
    for extra, message in cases:
        r = subprocess.run(
            [sys.executable, "run_tiers.py", *extra,
             "--backfill", "2024-01-01..2024-01-02", "--out", str(tmp_path / "o")],
            capture_output=True, text=True, cwd=repo,
        )
        assert r.returncode == 2, extra
        assert message in r.stderr, extra


def test_run_tiers_backfill_verifies(spark, tmp_path):
    """--backfill --verify audits the store after the backfill and exits
    non-zero when the audit fails: a tier-2 that no longer equals the
    re-aggregated tier-1 outside the backfilled window fails it."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    from workbook_exporter_fe_spark.sources.datagen import gen_sequences

    seq = gen_sequences(spark, 300, seed=3)
    out, events = str(tmp_path / "store"), str(tmp_path / "events")
    TierPipeline(spark, out).run(seq, "base")
    eventize(seq).select("source", "event_ts", "v", "doc_id").write.parquet(events)
    tier2 = f"{out}/tier2"
    spark.read.parquet(tier2).withColumn("sum_v", F.col("sum_v") + 1).write.parquet(
        tier2 + ".bad")
    shutil.rmtree(tier2)
    os.rename(tier2 + ".bad", tier2)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "run_tiers.py", "--events", events, "--out", out,
         "--backfill", "2099-01-01..2099-01-02", "--verify"],
        capture_output=True, text=True, cwd=repo,
    )
    assert r.returncode == 1, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["backfill"] == ["2099-01-01", "2099-01-02"]
    assert result["verify"]["ok"] is False
