"""Snapshot-table tier serving store (r5, VERDICT r4 item #3).

Pins: publish_snapshot_tiers lays tiers out as SnapshotTables with
hidden partitioning [day(bucket_ts)] (the default spec); run_rules.build_store
registers them LAZILY; query_range derives a conservative prune window
from the expression and opens ≈ the queried window's files (manifest
min/max + day() transform pruning, zero data listing) while returning
rows PINNED EQUAL to the unpartitioned parquet evaluation; the ``@``
modifier disables pruning rather than guessing.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.plans.promql import (
    prune_allowance,
    query_range,
)

T0 = 1700000000  # 2023-11-14T22:13:20Z
DAY = 86400
N_DAYS = 20


@pytest.fixture(scope="module")
def tier_out(spark, tmp_path_factory):
    """A pipeline-shaped out dir: 20 days × 2 sources of hourly tier-1
    buckets in OUT/tier1, published to OUT/snapshot_tiers/tier1."""
    out = str(tmp_path_factory.mktemp("tiers"))
    n = N_DAYS * 24 * 2  # hourly buckets, 2 sources
    (
        spark.range(n)
        .select(
            F.concat(F.lit("s"), (F.col("id") % 2).cast("string"))
            .alias("source"),
            F.timestamp_seconds(
                T0 + (F.col("id") / 2).cast("long") * 3600
            ).alias("bucket_ts"),
            (F.col("id") * 1.0).alias("sum_v"),
        )
        .write.parquet(f"{out}/tier1")
    )
    from workbook_exporter_fe_spark.plans.pipeline import (
        publish_snapshot_tiers,
    )

    info = publish_snapshot_tiers(spark, out, tier_names=("tier1",))
    assert info["tier1"]["files"] >= N_DAYS  # day-partitioned layout
    return out, info


def _store(spark, table_path):
    from run_rules import build_store

    return build_store(spark, {"metrics": [{
        "name": "tok", "table": table_path,
        "value": "sum_v", "labels": ["source"],
    }]})


def test_prune_allowance():
    assert prune_allowance("avg_over_time(x[5m])") == 300
    # subquery: range + inner range + offset all count; the ':1m' step
    # lexes as one ident and adds no reach (steps never extend windows)
    assert prune_allowance(
        "max_over_time(avg_over_time(x[5m])[30m:1m]) offset 1h"
    ) == 300 + 1800 + 3600
    assert prune_allowance("sum(x)") == 0
    assert prune_allowance("x @ 1700000000") is None
    # r5 review fix: lag/min-anchored functions reach past any fixed
    # window (predecessor via F.lag over the UNBOUNDED series sort,
    # deriv/predict_linear anchor at whole-partition min) — pruning
    # must be disabled, never guessed
    for fn in ("rate", "increase", "irate", "idelta", "resets",
               "changes", "deriv"):
        assert prune_allowance(f"{fn}(x[5m])") is None, fn
    assert prune_allowance("predict_linear(x[10m], 300)") is None


def test_query_range_prunes_and_matches_unpartitioned(spark, tier_out):
    out, info = tier_out
    lazy = _store(spark, info["tier1"]["root"])
    eager = _store(spark, f"{out}/tier1")
    expr = "avg_over_time(tok[2h])"
    # one day in the middle of the 20-day table
    start, end = T0 + 10 * DAY, T0 + 11 * DAY
    got = query_range(lazy, expr, start, end, step="1h").collect()
    want = query_range(eager, expr, start, end, step="1h").collect()
    key = lambda r: (r.source, r.ts)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    assert len(got) > 0
    stats = lazy.pruning_stats["tok"]
    total = stats["files_opened"] + stats["files_pruned"]
    assert total == info["tier1"]["files"]
    # 1-day window (+2h allowance +5m lookback) over 20 days:
    # ~2 days × 2 sources of files survive
    assert stats["files_opened"] <= 6
    assert stats["files_pruned"] >= total - 6


def test_lag_functions_never_pruned(spark, tier_out):
    """rate()'s per-sample delta references the predecessor via F.lag
    over the UNBOUNDED series sort — a pruned file boundary would null
    the first in-window delta. The fix disables pruning for these
    functions; rows must be pinned equal to the eager store AND no
    pruning stats recorded."""
    from workbook_exporter_fe_spark.plans.promql import query_range

    out, info = tier_out
    lazy = _store(spark, info["tier1"]["root"])
    eager = _store(spark, f"{out}/tier1")
    expr = "rate(tok[2h])"
    start, end = T0 + 10 * DAY, T0 + 11 * DAY
    got = query_range(lazy, expr, start, end, step="1h").collect()
    want = query_range(eager, expr, start, end, step="1h").collect()
    key = lambda r: (r.source, r.ts)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key) and len(got) > 0
    assert "tok" not in lazy.pruning_stats


def test_instant_query_full_load(spark, tier_out):
    from workbook_exporter_fe_spark.plans.promql import promql

    out, info = tier_out
    lazy = _store(spark, info["tier1"]["root"])
    eager = _store(spark, f"{out}/tier1")
    expr = "sum by (source) (tok)"
    key = lambda r: (r.source, r.ts)  # noqa: E731
    assert sorted(promql(lazy, expr).collect(), key=key) \
        == sorted(promql(eager, expr).collect(), key=key)


def test_at_modifier_disables_pruning(spark, tier_out):
    out, info = tier_out
    lazy = _store(spark, info["tier1"]["root"])
    eager = _store(spark, f"{out}/tier1")
    expr = f"tok @ {T0 + 3600}"
    start, end = T0 + 10 * DAY, T0 + 10 * DAY + 3600
    got = query_range(lazy, expr, start, end, step="1h").collect()
    want = query_range(eager, expr, start, end, step="1h").collect()
    key = lambda r: (r.source, r.ts)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    # pruning was skipped: the @-pinned sample (day 0) still resolved,
    # and no pruning stats were recorded for this evaluation
    assert "tok" not in lazy.pruning_stats or (
        lazy.pruning_stats["tok"]["files_pruned"] == 0
    )


def test_run_tiers_snapshot_tiers_cli(spark, tmp_path, monkeypatch, capsys):
    """--snapshot-tiers end-to-end: pipeline run → published store →
    run_query prints the pruning line."""
    import importlib.util
    import os
    import sys

    def _load(name):
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(os.path.dirname(__file__), "..", f"{name}.py")
        )
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return m

    out = str(tmp_path / "t")
    rt = _load("run_tiers")
    monkeypatch.setattr(sys, "argv", [
        "run_tiers.py", "--generate", "4000", "--out", out,
        "--snapshot-tiers",
    ])
    monkeypatch.setattr(rt, "get_spark", lambda **kw: spark, raising=False)
    import workbook_exporter_fe_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rt.main()
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = rep["snapshot_tiers"]
    assert set(st) == {"tier1", "tier2", "tier3"}
    assert all(v["files"] > 0 for v in st.values())

    rq = _load("run_query")
    monkeypatch.setattr(sys, "argv", [
        "run_query.py",
        "--metric", f"tok={st['tier1']['root']}:sum_v",
        "--promql", "avg_over_time(tok[15m])",
        "--range", "2026-01-01T00:00:00..2026-01-01T00:10:00",
        "--step", "15m", "--limit", "3",
    ])
    rq.main()
    lines = capsys.readouterr().out.strip().splitlines()
    prune = json.loads(lines[-1])
    assert "pruning" in prune and "tok" in prune["pruning"]
