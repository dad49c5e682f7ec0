"""Recording + alerting rules: intra-group chaining, `for:`-duration
streak semantics (gaps reset), python-reference-pinned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.plans.promql import (
    MetricStore,
    PromQLError,
)
from workbook_exporter_fe_spark.plans.rules import (
    AlertingRule,
    RecordingRule,
    RuleEngine,
)

T0 = 1700000000


def _vals(src: str) -> dict[int, float]:
    """Gauge with planted above-threshold streaks of varied length."""
    out = {}
    for i in range(60):
        if src == "s1" and i % 11 == 5:
            continue  # scrape gap
        hot = (10 <= i < 13) or (30 <= i < 42) or (i >= 55)
        out[T0 + i * 60] = 100.0 + i if hot else 1.0
    return out


@pytest.fixture(scope="module")
def store(spark):
    rows = [
        (s, t, v) for s in ("s0", "s1") for t, v in sorted(_vals(s).items())
    ]
    df = spark.createDataFrame(
        rows, "source string, tsec long, value double"
    ).select("source", F.timestamp_seconds("tsec").alias("bucket_ts"), "value")
    return MetricStore().register("mem_bytes", df)


def test_recording_rule_chaining(store):
    eng = RuleEngine(store)
    out = eng.run(
        [
            RecordingRule("job:mem:sum", "sum by (source) (mem_bytes)"),
            RecordingRule("job:mem:double", "job:mem:sum * 2"),
        ]
    )
    a = {(r["source"], r["ts"]): r["value"] for r in out["job:mem:sum"].collect()}
    b = {
        (r["source"], r["ts"]): r["value"]
        for r in out["job:mem:double"].collect()
    }
    assert a and set(a) == set(b)
    for k, v in a.items():
        assert b[k] == pytest.approx(2 * v)


def test_recording_rule_scalar_rejected(store):
    with pytest.raises(PromQLError):
        RuleEngine(store).run([RecordingRule("nope", "1 + 2")])


def test_alert_for_duration_streaks(store):
    """firing exactly when the condition held at every grid step of the
    trailing 5m (6 consecutive samples incl. current); gaps reset."""
    eng = RuleEngine(store)
    out = eng.run(
        [AlertingRule("MemHot", "mem_bytes > 50", for_s=300, step_s=60)]
    )["MemHot"]
    got = {
        (r["source"], int(r["ts"].timestamp())): r["state"]
        for r in out.collect()
    }
    for src in ("s0", "s1"):
        vals = _vals(src)
        ts = sorted(vals)
        hot = [t for t in ts if vals[t] > 50]
        assert set(k[1] for k in got if k[0] == src) == set(hot)
        for t in hot:
            # streak = consecutive 60s-grid presence ending at t
            streak = 1
            tt = t - 60
            while tt in vals and vals.get(tt, 0) > 50:
                streak += 1
                tt -= 60
            want = "firing" if streak >= 6 else "pending"
            assert got[(src, t)] == want, (src, t, streak)
    # both states actually occur (short streak stays pending; 12-sample
    # streak fires; s1's scrape gap inside a hot run resets the streak)
    states = set(got.values())
    assert states == {"pending", "firing"}


def test_alert_zero_for_fires_immediately(store):
    out = RuleEngine(store).run(
        [AlertingRule("AnyHot", "mem_bytes > 50", for_s=0, step_s=60)]
    )["AnyHot"]
    assert out.filter(F.col("state") != "firing").count() == 0
    assert out.count() > 0


def test_epoch_bounds_parsing():
    """r5 review fix: ISO parsing wins over the numeric fast path —
    compact ISO dates ('20240101') must not be misread as tiny epochs."""
    from run_rules import _epoch

    assert _epoch(1700000000) == 1700000000
    assert _epoch("1700000000") == 1700000000
    assert _epoch(" 1700000000.5 ") == 1700000000
    assert _epoch("2023-11-14T22:13:20") == 1700000000  # naive = UTC
    assert _epoch("20240101") == 1704067200  # compact ISO, NOT epoch 2e7
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad time bound"):
        _epoch("not-a-time")


def test_lookback_seconds():
    from workbook_exporter_fe_spark.plans.rules import lookback_seconds

    assert lookback_seconds("mem_bytes") == 0.0
    assert lookback_seconds("rate(mem_bytes[5m])") == 300.0
    assert lookback_seconds("rate(mem_bytes[5m] offset 10m)") == 900.0
    assert lookback_seconds(
        "avg_over_time(mem_bytes[3m]) / max_over_time(mem_bytes[1h])"
    ) == 3600.0
    assert lookback_seconds("topk(2, sum by (source) (rate(m[2m])))") == 120.0
    # chained recorded metrics compound
    rec = {"job:mem:avg": 900.0}
    assert lookback_seconds("max_over_time(job:mem:avg[10m])", rec) == 1500.0


def test_rule_materializer_incremental(spark, tmp_path):
    """Two refreshes over a growing store produce exactly the same rows
    as one full evaluation (per rule), with the second refresh reading
    only the restricted window; re-refresh with no new data is a no-op."""
    from workbook_exporter_fe_spark.plans.rules import RuleMaterializer

    def mk_store(upto: int) -> MetricStore:
        rows = [
            (s, t, v)
            for s in ("s0", "s1")
            for t, v in sorted(_vals(s).items())
            if t < T0 + upto * 60
        ]
        df = spark.createDataFrame(
            rows, "source string, tsec long, value double"
        ).select(
            "source", F.timestamp_seconds("tsec").alias("bucket_ts"), "value"
        )
        return MetricStore().register("mem_bytes", df)

    rules = [
        RecordingRule("job:mem:avg5m", "avg_over_time(mem_bytes[5m])"),
        RecordingRule("job:mem:hot_share", "job:mem:avg5m / 100"),
        AlertingRule("MemHot", "mem_bytes > 50", for_s=180, step_s=60),
    ]
    mat = RuleMaterializer(spark, str(tmp_path / "rules"))
    s1 = mat.refresh(mk_store(30), rules)
    assert all(v["watermark"] is None for v in s1.values())
    s2 = mat.refresh(mk_store(60), rules)
    assert all(v["new_rows"] > 0 for v in s2.values())
    # incremental result == one-shot full evaluation, rule by rule
    full = RuleEngine(mk_store(60)).run(rules)
    for name in ("job:mem:avg5m", "job:mem:hot_share", "MemHot"):
        got = sorted(
            map(tuple, mat._table(name).read().collect())
        )
        want = sorted(map(tuple, full[name].collect()))
        assert got == want, name
    # caught up: no new rows, no new snapshot
    seqs = {n: mat._table(n).current_sequence() for n in s2}
    s3 = mat.refresh(mk_store(60), rules)
    assert all(v["new_rows"] == 0 for v in s3.values())
    assert seqs == {n: mat._table(n).current_sequence() for n in s3}


def test_alert_transitions(spark, store):
    from workbook_exporter_fe_spark.plans.rules import alert_transitions

    alerts = RuleEngine(store).run(
        [AlertingRule("MemHot", "mem_bytes > 50", for_s=300, step_s=60)]
    )["MemHot"]
    got = sorted(
        (r["source"], int(r["ts"].timestamp()), r["event"])
        for r in alert_transitions(alerts, labels=("source",)).collect()
    )
    # python reference over the same dense alert frame
    rows = sorted(
        (r["source"], int(r["ts"].timestamp()), r["state"])
        for r in alerts.collect()
    )
    want = []
    by_src = {}
    for s, t, st in rows:
        by_src.setdefault(s, []).append((t, st))
    for s, seq in by_src.items():
        prev = None
        for i, (t, st) in enumerate(seq):
            if prev is None or t - prev[0] > 60 or st != prev[1]:
                want.append((s, t, st))
            if i + 1 < len(seq) and seq[i + 1][0] - t > 60:
                want.append((s, t + 60, "resolved"))
            prev = (t, st)
    assert got == sorted(want)
    events = {e for _, _, e in got}
    assert events == {"pending", "firing", "resolved"}


def test_run_rules_cli_library_path(spark, tmp_path):
    """run_rules.py building blocks: YAML config -> store + rules ->
    incremental refresh; SnapshotTable sources are autodetected."""
    import sys

    import yaml

    sys.path.insert(0, "/root/repo")
    from run_rules import build_rules, build_store
    from workbook_exporter_fe_spark.plans.rules import RuleMaterializer
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    tier = spark.createDataFrame(
        [(s, t, v) for s in ("s0", "s1") for t, v in sorted(_vals(s).items())],
        "source string, tsec long, value double",
    ).select("source", F.timestamp_seconds("tsec").alias("bucket_ts"),
             F.col("value").alias("sum_v"))
    # one plain parquet source + one SnapshotTable source
    pq_dir = str(tmp_path / "tier_pq")
    tier.write.parquet(pq_dir)
    st = SnapshotTable(spark, str(tmp_path / "tier_snap"))
    st.commit(tier)
    cfg = yaml.safe_load(f"""
metrics:
  - name: mem_pq
    table: {pq_dir}
    labels: [source]
    ts: bucket_ts
    value: sum_v
  - name: mem_snap
    table: {tmp_path / "tier_snap"}
    labels: [source]
    ts: bucket_ts
    value: sum_v
groups:
  - name: g
    rules:
      - record: "job:mem:avg5m"
        expr: avg_over_time(mem_pq[5m])
      - alert: Hot
        expr: mem_snap > 50
        for: 3m
        step: 1m
""")
    store = build_store(spark, cfg)
    rules = build_rules(cfg)
    assert [type(r).__name__ for r in rules] == ["RecordingRule", "AlertingRule"]
    assert rules[1].for_s == 180.0 and rules[1].step_s == 60.0
    stats = RuleMaterializer(spark, str(tmp_path / "out")).refresh(store, rules)
    assert stats["job:mem:avg5m"]["new_rows"] > 0
    assert stats["Hot"]["new_rows"] > 0
    # both sources resolved identically (same underlying rows)
    a = store.metric("mem_pq").df.count()
    b = store.metric("mem_snap").df.count()
    assert a == b > 0


def test_absent_alert_streaks(store):
    """AbsentAlertingRule: absence islands get the same for:-streak
    semantics as presence alerts — singleton scrape gaps stay pending,
    the post-data tail fires once the streak covers `for`."""
    from workbook_exporter_fe_spark.plans.rules import AbsentAlertingRule

    eng = RuleEngine(store)
    out = eng.run(
        [
            AbsentAlertingRule(
                "S1Dead",
                'mem_bytes{source="s1"}',
                start=T0,
                end=T0 + 70 * 60,
                for_s=120,
                step_s=60,
                lookback_s=30,
            )
        ]
    )["S1Dead"]
    got = {
        int(r["ts"].timestamp()): (r["value"], r["state"])
        for r in out.collect()
    }
    gaps = {i for i in range(60) if i % 11 == 5}  # s1 scrape gaps
    tail = set(range(60, 71))  # beyond the data: an 11-step absence run
    assert set(got) == {T0 + i * 60 for i in gaps | tail}
    for i in gaps:
        assert got[T0 + i * 60] == (1.0, "pending")  # singleton islands
    for i in (60, 61):
        assert got[T0 + i * 60][1] == "pending"  # streak shorter than for
    for i in range(62, 71):
        assert got[T0 + i * 60][1] == "firing"


def test_build_rules_absent_yaml():
    """run_rules.py config: absent(expr) alerts parse into
    AbsentAlertingRule with grid bounds; missing bounds are an error."""
    import sys

    import pytest as _pytest

    sys.path.insert(0, "/root/repo")
    from run_rules import build_rules

    from workbook_exporter_fe_spark.plans.rules import AbsentAlertingRule

    cfg = {
        "groups": [
            {
                "name": "g",
                "rules": [
                    {
                        "alert": "Dead",
                        "expr": "absent(mem_bytes)",
                        "for": "2m",
                        "step": "1m",
                        "lookback": "90s",
                        "start": "2023-11-14T22:13:20",
                        "end": 1700004200,
                    }
                ],
            }
        ]
    }
    (r,) = build_rules(cfg)
    assert isinstance(r, AbsentAlertingRule)
    assert r.expr == "mem_bytes" and r.for_s == 120.0 and r.step_s == 60.0
    assert r.lookback_s == 90.0
    # ISO string read as UTC (never host-zone): 2023-11-14T22:13:20 == T0
    assert r.start == T0 and r.end == 1700004200
    cfg["groups"][0]["rules"][0].pop("start")
    with _pytest.raises(ValueError):
        build_rules(cfg)


def test_rule_materializer_snapshot_backed_store(spark, tmp_path):
    """r5: the incremental refresh works over LAZY (SnapshotTable-backed)
    metrics — the second pass restricts through store.bounded(), so the
    refresh window becomes a manifest prune (files opened ≈ window) AND
    the lazy metric doesn't vanish from the restricted view (the r5
    _restrict fix). Results pinned equal to one full evaluation."""
    from run_rules import build_store
    from workbook_exporter_fe_spark.plans.rules import RuleMaterializer
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    root = str(tmp_path / "tier1")
    tier = SnapshotTable(spark, root)

    def mk_batch(lo: int, hi: int):
        rows = [
            (s, t, v)
            for s in ("s0", "s1")
            for t, v in sorted(_vals(s).items())
            if T0 + lo * 60 <= t < T0 + hi * 60
        ]
        return spark.createDataFrame(
            rows, "source string, tsec long, value double"
        ).select(
            "source", F.timestamp_seconds("tsec").alias("bucket_ts"), "value"
        )

    cfg = {"metrics": [{"name": "mem_bytes", "table": root,
                        "value": "value", "labels": ["source"]}]}
    rules = [
        RecordingRule("job:mem:avg5m", "avg_over_time(mem_bytes[5m])"),
        AlertingRule("MemHot", "mem_bytes > 50", for_s=180, step_s=60),
    ]
    mat = RuleMaterializer(spark, str(tmp_path / "rules"))
    tier.commit(mk_batch(0, 30))
    s1 = mat.refresh(build_store(spark, cfg), rules)
    assert all(v["watermark"] is None for v in s1.values())
    tier.commit(mk_batch(30, 60))
    store2 = build_store(spark, cfg)
    s2 = mat.refresh(store2, rules)
    assert all(v["new_rows"] > 0 for v in s2.values())
    # the second pass pruned through the manifest (bounded loader ran)
    assert "mem_bytes" in store2.pruning_stats
    # incremental result == one-shot full evaluation over the full store
    full = RuleEngine(build_store(spark, cfg)).run(rules)
    for name in ("job:mem:avg5m", "MemHot"):
        got = sorted(map(tuple, mat._table(name).read().collect()))
        want = sorted(map(tuple, full[name].collect()))
        assert got == want, name


def test_restricted_lazy_store_keeps_query_range_prune_window(spark):
    """A query_range over a _restrict'ed store hands its lazy loaders the
    intersection of its own prune window with the refresh window, not
    the unbounded (min_ts, far future) one; results equal the eager
    store's."""
    from workbook_exporter_fe_spark.plans.promql import query_range
    from workbook_exporter_fe_spark.plans.rules import _restrict

    rows = [(s, t, v) for s in ("s0", "s1") for t, v in sorted(_vals(s).items())]
    df = spark.createDataFrame(
        rows, "source string, tsec long, value double"
    ).select("source", F.timestamp_seconds("tsec").alias("bucket_ts"), "value")
    seen = []

    def loader(bounds):
        seen.append(bounds)
        return df

    min_ts = T0 + 5 * 60
    lazy = _restrict(MetricStore().register_lazy("mem_bytes", loader), min_ts)
    eager = _restrict(MetricStore().register("mem_bytes", df), min_ts)
    start, end = T0 + 40 * 60, T0 + 50 * 60
    q = "avg_over_time(mem_bytes[5m])"
    got = query_range(lazy, q, start, end, step="1m")
    assert seen == [(start - 300 - 300, end + 300)]
    want = query_range(eager, q, start, end, step="1m")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # a prune window reaching before min_ts is clipped to the refresh window
    seen.clear()
    query_range(lazy, q, T0 + 6 * 60, T0 + 8 * 60, step="1m").collect()
    assert seen == [(min_ts, T0 + 8 * 60 + 300)]
