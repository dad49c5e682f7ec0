"""Pipeline tests: resumability, idempotency, manifest lineage."""

from __future__ import annotations

import json
import os
import re
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.plans import pipeline as pl
from workbook_exporter_fe_spark.plans.pipeline import TierPipeline
from workbook_exporter_fe_spark.sources.datagen import gen_sequences
from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable


def _tiers_sorted(df):
    return [r.asDict() for r in df.orderBy("source", "bucket_ts").collect()]


def test_full_run_and_reresume_noop(spark, tmp_path):
    seq = gen_sequences(spark, 2000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"))
    t = pipe.run(seq, run_fp="r1")
    t1_first = _tiers_sorted(t["tier1"])
    # second run with same fingerprint: all stages skipped, tables unchanged
    pipe2 = TierPipeline(spark, str(tmp_path / "out"))
    t2 = pipe2.run(seq, run_fp="r1")
    assert _tiers_sorted(t2["tier1"]) == t1_first
    stages = [e["stage"] for e in pipe2.manifest.entries if e["status"] == "done"]
    assert len(stages) == len(set(stages))  # no duplicate stage entries


def test_crash_after_tier1_resume_converges(spark, tmp_path, monkeypatch):
    seq = gen_sequences(spark, 2000, seed=42)

    # reference result: uninterrupted run
    ref = TierPipeline(spark, str(tmp_path / "ref")).run(seq, run_fp="r1")
    ref_t3 = _tiers_sorted(ref["tier3"])

    # crash the first reaggregate call (tier2 stage)
    calls = {"n": 0}
    real = pl.reaggregate

    def flaky(df, to):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after tier1")
        return real(df, to)

    monkeypatch.setattr(pl, "reaggregate", flaky)
    crashed = TierPipeline(spark, str(tmp_path / "out"))
    with pytest.raises(RuntimeError):
        crashed.run(seq, run_fp="r1")
    done = [e["stage"] for e in crashed.manifest.entries if e["status"] == "done"]
    assert "tier1_1m" in done and "tier2_1h" not in done

    # resume: completed stages skipped, rest re-run; final tables identical
    resumed = TierPipeline(spark, str(tmp_path / "out")).run(seq, run_fp="r1")
    assert _tiers_sorted(resumed["tier3"]) == ref_t3
    # no double-counted buckets: total cnt equals event count
    assert (
        resumed["tier3"].agg(F.sum("cnt")).collect()[0][0]
        == ref["events"].count()
    )


def test_manifest_lineage_metrics(spark, tmp_path):
    seq = gen_sequences(spark, 1000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"))
    pipe.run(seq, run_fp="r1")
    mpath = str(tmp_path / "out" / "_manifest" / "manifest.jsonl")
    assert os.path.exists(mpath)
    entries = [json.loads(line) for line in open(mpath)]
    by_stage = {e["stage"]: e for e in entries}
    assert set(by_stage) == {"t0_eventize", "tier1_1m", "tier2_1h", "tier3_1d", "compress"}
    t1 = by_stage["tier1_1m"]
    assert t1["rows_out"] > 0 and t1["watermark"] and t1["wall_sec"] > 0
    # per-partition lineage: per-source row counts recorded
    assert sum(t1["partitions"].values()) == t1["rows_out"]
    comp = by_stage["compress"]
    assert 0 < comp["encode_ratio"] < 1.5 and comp["points"] == t1["rows_out"]


def test_new_data_merges_incrementally(spark, tmp_path):
    """Second batch with a new fingerprint upserts; buckets never double."""
    seq_a = gen_sequences(spark, 1500, seed=42)
    out = str(tmp_path / "out")
    TierPipeline(spark, out).run(seq_a, run_fp="batch_a")
    # superset batch (same 1500 + 500 more): rerun as batch_b
    seq_b = gen_sequences(spark, 2000, seed=42)
    t = TierPipeline(spark, out).run(seq_b, run_fp="batch_b")
    # final tier1 == tier1 of a clean 2000-row run
    clean = TierPipeline(spark, str(tmp_path / "clean")).run(seq_b, run_fp="x")
    assert _tiers_sorted(t["tier1"]) == _tiers_sorted(clean["tier1"])


def test_sketch_tiers_in_pipeline(spark, tmp_path):
    """--sketches adds mergeable HLL/KLL tiers that resume like the rest
    and whose finalized estimates track the exact tier counts."""
    from pyspark.sql import functions as F

    from workbook_exporter_fe_spark.operators.tiers import sketch_finalize

    seq = gen_sequences(spark, 3000, seed=42)
    out = str(tmp_path / "out")
    t = TierPipeline(spark, out, with_sketches=True).run(seq, run_fp="r1")
    assert {"sketch1", "sketch2", "sketch3"} <= set(t)
    # one sketch row per (source, bucket): aligned with the sum/max tier
    assert t["sketch1"].count() == t["tier1"].count()
    fin = sketch_finalize(t["sketch2"])
    joined = fin.join(
        t["tier2"].select("source", "bucket_ts", F.col("cnt").alias("cnt_t")),
        ["source", "bucket_ts"],
    ).collect()
    assert joined
    for r in joined:
        assert r.cnt == r.cnt_t  # exact count decomposes identically
        # every doc is one event, so distinct ≈ cnt within HLL error
        assert abs(r.approx_distinct - r.cnt) <= max(0.02 * r.cnt, 2)
        assert r.p50 is not None and r.p95 is not None
    # resume: rerun is a no-op with identical tables
    t2 = TierPipeline(spark, out, with_sketches=True).run(seq, run_fp="r1")
    assert t2["sketch2"].count() == t["sketch2"].count()


def test_metrics_parquet_table(spark, tmp_path):
    """The JSONL manifest is mirrored as a queryable parquet metrics table."""
    seq = gen_sequences(spark, 1000, seed=42)
    out = str(tmp_path / "out")
    TierPipeline(spark, out).run(seq, run_fp="r1")
    m = spark.read.parquet(f"{out}/_manifest/metrics")
    stages = {r.stage for r in m.collect()}
    assert {"t0_eventize", "tier1_1m", "tier2_1h", "tier3_1d", "compress"} <= stages
    comp = m.filter(m.stage == "compress").first()
    assert comp.encode_ratio is not None and comp.rows_out > 0


def test_pipeline_late_delay_bounds_tier1(spark, tmp_path):
    """With late_delay set, buckets behind (watermark - delay) never enter
    tier-1; the manifest records the watermark position."""
    import datetime

    from pyspark.sql import functions as F

    seq = gen_sequences(spark, 3000, seed=42)
    full = TierPipeline(spark, str(tmp_path / "full")).run(seq, run_fp="r1")
    bounded = TierPipeline(
        spark, str(tmp_path / "bounded"), late_delay="interval 10 minutes"
    ).run(seq, run_fp="r1")
    n_full, n_bounded = full["tier1"].count(), bounded["tier1"].count()
    assert 0 < n_bounded < n_full
    wm = full["events"].agg(F.max("event_ts")).first()[0]
    lo = wm - datetime.timedelta(minutes=10)
    assert bounded["tier1"].filter(F.col("bucket_ts") < F.lit(lo) - F.expr("interval 1 minute")).count() == 0
    m = spark.read.parquet(f"{tmp_path}/bounded/_manifest/metrics")
    assert m.filter(m.stage == "late_bound").count() == 1


def test_rollup_at_routes_to_coarsest_tier(spark, tmp_path):
    from pyspark.sql import functions as F

    from workbook_exporter_fe_spark.operators.tiers import rollup_at

    seq = gen_sequences(spark, 3000, seed=42)
    out = str(tmp_path / "out")
    TierPipeline(spark, out).run(seq, run_fp="r1")

    # '1d' answers come from the tier3 files, not tier1
    d = rollup_at(spark, out, "1d")
    files = d.inputFiles()
    assert files and all("/tier3/" in f for f in files)

    # non-calendar grain: '5m' re-aggregates tier1 and matches a direct
    # re-aggregation of the same tier
    five = rollup_at(spark, out, "5m")
    t1 = spark.read.parquet(f"{out}/tier1")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(F.col("bucket_ts").cast("timestamp")) / 300) * 300
    ).alias("bucket_ts")
    want = (
        t1.groupBy("source", bucket)
        .agg(
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("cnt").alias("cnt"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )
    assert five.exceptAll(want).count() == 0 and want.exceptAll(five).count() == 0

    # '4h' divides 3600 -> routed to tier2; total cnt matches tier1
    four_h = rollup_at(spark, out, "4h")
    assert all("/tier2/" in f for f in four_h.inputFiles())
    assert (
        four_h.agg(F.sum("cnt")).first()[0] == t1.agg(F.sum("cnt")).first()[0]
    )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rollup_at(spark, out, "90s")


def test_backfill_and_expiry_keep_tiers_flat(spark, tmp_path, small_store):
    """The pipeline's tiers are flat, and backfill and expiry keep them
    flat, with the column order they had."""
    import datetime

    from workbook_exporter_fe_spark.operators.retention import expire_tiers

    store = str(tmp_path / "store")
    shutil.copytree(small_store[0], store)
    tiers = ("tier1", "tier2", "tier3")
    columns = {t: spark.read.parquet(f"{store}/{t}").columns for t in tiers}
    assert {c[-1] for c in columns.values()} == {"source"}
    ev = small_store[1]
    lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).first()
    TierPipeline(spark, store).backfill(
        ev, lo, hi + datetime.timedelta(seconds=1), "bf"
    )
    expire_tiers(spark, store, {"tier1": "interval 2 minutes"})
    for t in tiers:
        assert _flat(store, t), t
        assert spark.read.parquet(f"{store}/{t}").columns == columns[t], t


def test_merge_reads_stored_schema_without_inference(spark, tmp_path):
    """A merge reads its table with the merged rows' schema in the stored
    column order and runs no schema-inference job; a column only the
    stored files hold raises instead of being dropped."""
    from workbook_exporter_fe_spark.operators.merge import merge_upsert_path

    path = str(tmp_path / "t")
    keys = ["source", "bucket"]
    merge_upsert_path(spark, path, _kv(spark, [("a", 1, 1.0), ("b", 1, 2.0)]), keys)
    new = _kv(spark, [("a", 1, 5.0)]).select("v", "bucket", "source")
    descs = _spark_jobs(spark, "stored-schema", lambda: merge_upsert_path(
        spark, path, new, keys))
    # the keys' dedupe, their broadcast and the write; a schema
    # inference over the stored footers would be a fourth job
    assert len(descs) == 3, len(descs)
    got = spark.read.parquet(path)
    assert got.columns == ["source", "bucket", "v"]
    assert sorted(map(tuple, got.collect())) == [("a", 1, 5.0), ("b", 1, 2.0)]
    with pytest.raises(ValueError, match="stores columns"):
        merge_upsert_path(spark, path, new.drop("v"), keys)


def test_late_bound_watermark_monotone_across_runs(spark, tmp_path):
    """Replaying old data must NOT lower the watermark and reopen buckets:
    the pipeline feeds the manifest's recorded frontier back into
    bound_late_events (max(prior_wm, batch_max))."""
    import datetime

    seq = gen_sequences(spark, 2000, seed=42)
    out = str(tmp_path / "out")
    pipe = TierPipeline(spark, out, late_delay="interval 30 seconds")
    pipe.run(seq, run_fp="r1")
    wm1 = pipe.manifest.last_watermark("late_bound")
    assert wm1 is not None

    # replay documents whose events ALL predate (wm1 - 2*delay) under a new
    # run fingerprint — strictly late data
    ev_all = pl.eventize(seq)
    old_cut = wm1 - datetime.timedelta(seconds=60)
    old_docs = (
        ev_all.groupBy("doc_id")
        .agg(F.max("event_ts").alias("m"))
        .filter(F.col("m") <= F.lit(old_cut))
        .select("doc_id")
    )
    old_seq = seq.join(old_docs, "doc_id", "left_semi")
    assert 0 < old_seq.count() < seq.count()
    pipe2 = TierPipeline(spark, out, late_delay="interval 30 seconds")
    pipe2.run(old_seq, run_fp="r2_replay")
    wm2 = pipe2.manifest.last_watermark("late_bound")
    # the frontier never moves backward, even though this batch's own max
    # is strictly older than wm1 (without prior_wm feedback, wm2 would be
    # the replay's max and finalized buckets would reopen)
    assert wm2 >= wm1
    # every replayed event was behind (frontier - delay): the merged events
    # table survives the bound with EXACTLY the same rows as run 1 — the
    # replay contributed nothing inside the finalized window
    def _rows_out(fp):
        es = [
            e for e in pipe2.manifest.entries
            if e["stage"] == "late_bound" and e["run_fp"] == fp
        ]
        return es[-1]["rows_out"] if es else None

    assert _rows_out("r2_replay") == _rows_out("r1")


def test_incremental_refresh_equals_full_cascade(spark, tmp_path):
    """Two incremental event batches (splitting buckets' data in half) must
    produce tiers AND re-encoded chunks bit-identical to one full run —
    the continuous-aggregate refresh contract across the whole cascade."""
    from workbook_exporter_fe_spark.functions.spark_codecs import decompress_chunks

    seq = gen_sequences(spark, 3000, seed=42)
    full = TierPipeline(spark, str(tmp_path / "full")).run(seq, run_fp="rf")

    ev = pl.eventize(seq).select("source", "event_ts", "v", "doc_id")
    gate = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
    out_dir = str(tmp_path / "inc")
    TierPipeline(spark, out_dir).run_incremental(ev.filter(gate), run_fp="b1")
    # second batch through a FRESH pipeline instance (manifest reload path)
    inc = TierPipeline(spark, out_dir).run_incremental(ev.filter(~gate), run_fp="b2")

    # both batches genuinely contributed partials to shared buckets
    from workbook_exporter_fe_spark.operators.tiers import rollup_tier1 as _r1

    shared = (
        _r1(ev.filter(gate)).select("source", "bucket_ts")
        .intersect(_r1(ev.filter(~gate)).select("source", "bucket_ts"))
        .count()
    )
    assert shared > 0

    for tier in ("tier1", "tier2", "tier3"):
        a = _tiers_sorted(full[tier].select("source", "bucket_ts", "sum_v", "min_v", "max_v", "cnt"))
        b = _tiers_sorted(inc[tier].select("source", "bucket_ts", "sum_v", "min_v", "max_v", "cnt"))
        assert a == b, f"{tier} diverged"

    # chunks: decoded points identical (only affected segments re-encoded)
    pf = decompress_chunks(full["chunks"]).orderBy("source", "bucket_ts").collect()
    pi = decompress_chunks(inc["chunks"]).orderBy("source", "bucket_ts").collect()
    assert pf == pi

    # idempotent resume: same fingerprints are no-ops. The replay runs
    # only its probe: done tables are read with their footers' schema, and
    # a disk write of partials no stage reads, a schema-inference job per
    # table or an encode before the chunk stage's done check would add jobs
    probe = _spark_jobs(spark, "probe", lambda: TierPipeline(
        spark, out_dir)._probe(ev.filter(~gate)))
    again = {}
    descs = _spark_jobs(spark, "replay", lambda: again.update(TierPipeline(
        spark, out_dir).run_incremental(ev.filter(~gate), run_fp="b2")))
    assert len(descs) <= len(probe), (len(descs), len(probe))
    assert _tiers_sorted(again["tier1"]) == _tiers_sorted(inc["tier1"])


def test_anomaly_tier_in_pipeline(spark, tmp_path):
    from workbook_exporter_fe_spark.operators.rates import anomaly_zscore

    seq = gen_sequences(spark, 2000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"), with_anomaly=True)
    t = pipe.run(seq, run_fp="r1")
    assert "anomaly1" in t
    got = t["anomaly1"]
    assert {"zscore", "is_anomaly", "roll_mean", "roll_std"} <= set(got.columns)
    # table equals the operator applied to the stored tier-1
    want = anomaly_zscore(
        t["tier1"].select("source", "bucket_ts", "avg_v"), n=30, threshold=3.0
    )
    assert got.count() == want.count()
    cols = ["source", "bucket_ts", "is_anomaly", "roll_n"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    # manifest recorded the stage; resume skips it
    assert any(e["stage"] == "anomaly_1m" for e in pipe.manifest.entries)
    pipe2 = TierPipeline(spark, str(tmp_path / "out"), with_anomaly=True)
    t2 = pipe2.run(seq, run_fp="r1")
    assert t2["anomaly1"].count() == got.count()


def test_pipeline_verify_invariants(spark, tmp_path):
    seq = gen_sequences(spark, 2000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"))
    pipe.run(seq, run_fp="r1")
    checks = pipe.verify()
    assert checks["ok"], checks
    assert checks["tier2_equals_reagg_tier1"]
    assert checks["chunks_roundtrip_tier1"]
    assert any(e["stage"] == "verify" for e in pipe.manifest.entries)

    # corrupt tier2 (drop a row) -> verify must fail the reagg check
    t2p = str(tmp_path / "out" / "tier2")
    t2 = spark.read.parquet(t2p).cache()
    t2.count()
    t2.limit(max(t2.count() - 1, 0)).write.mode("overwrite").parquet(t2p)
    bad = pipe.verify()
    assert not bad["ok"]
    assert not bad["tier2_equals_reagg_tier1"]


def test_incremental_anomaly_recomputes_touched_sources(spark, tmp_path):
    from workbook_exporter_fe_spark.operators.eventize import eventize
    from workbook_exporter_fe_spark.operators.rates import anomaly_zscore

    out = str(tmp_path / "out")
    seq = gen_sequences(spark, 3000, seed=42)
    ev = eventize(seq).select("source", "event_ts", "v", "doc_id").cache()
    sources = sorted(r["source"] for r in ev.select("source").distinct().collect())
    half = set(sources[: len(sources) // 2])
    b1 = ev.filter(F.col("source").isin(list(half)))
    b2 = ev.filter(~F.col("source").isin(list(half)))

    pipe = TierPipeline(spark, out, with_anomaly=True)
    pipe.run_incremental(b1, run_fp="b1")
    pipe2 = TierPipeline(spark, out, with_anomaly=True)
    t = pipe2.run_incremental(b2, run_fp="b2")

    # after both batches: anomaly table equals the operator over full tier-1
    want = anomaly_zscore(
        spark.read.parquet(f"{out}/tier1").select("source", "bucket_ts", "avg_v"),
        n=30, threshold=3.0,
    )
    got = t["anomaly1"]
    assert got.count() == want.count()
    cols = ["source", "bucket_ts", "is_anomaly", "roll_n"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0


# --- crash injection: one swap, interrupted at every step -----------------


class _Crash(OSError):
    """An injected failure of one filesystem step."""


@contextmanager
def _faulty_fs(monkeypatch, prefix: str, crash_at: int | None = None):
    """Record every os.rename, os.replace and os.link (a swap's steps, a
    snapshot commit's) and error-raising shutil.rmtree on a path under
    ``prefix``; the ``crash_at``-th one raises before it touches the
    disk, leaving it as a process killed at that step would."""
    real_rename, real_rmtree = os.rename, shutil.rmtree
    real_replace, real_link = os.replace, os.link
    calls: list[str] = []

    def step(p):
        if str(p).startswith(prefix):
            calls.append(str(p))
            if len(calls) == crash_at:
                raise _Crash(f"injected crash at step {crash_at}: {p}")

    def rename(src, dst, *a, **k):
        step(src)
        return real_rename(src, dst, *a, **k)

    def replace(src, dst, *a, **k):
        step(dst)
        return real_replace(src, dst, *a, **k)

    def link(src, dst, *a, **k):
        step(dst)
        return real_link(src, dst, *a, **k)

    def rmtree(p, ignore_errors=False, *a, **k):
        if not ignore_errors:  # an ignoring rmtree cannot fail its caller
            step(p)
        return real_rmtree(p, ignore_errors, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        m.setattr(os, "replace", replace)
        m.setattr(os, "link", link)
        m.setattr(shutil, "rmtree", rmtree)
        yield calls


def _table(spark, root, table):
    """A store's table: the live rows of the events SnapshotTable, else
    the hive parquet tier."""
    path = os.path.join(root, table)
    if table == "events":
        return SnapshotTable(spark, path).read()
    return spark.read.parquet(path)


def _snapshot(spark, root, tables):
    """Rows and partition dirs of each table, plus the swap leftovers."""
    state = {}
    for t in tables:
        path = os.path.join(root, t)
        rows = _table(spark, root, t).collect()
        state[t] = (
            sorted((tuple(r) for r in rows), key=repr),
            sorted(d for d in os.listdir(path) if "=" in d),
        )
    state["leftovers"] = sorted(
        d for d in os.listdir(root) if d.endswith((".staging", ".old"))
    )
    return state


def _assert_recovers(spark, monkeypatch, tmp_path, pre, op, swapped, tables,
                     steps=None, min_steps=3):
    """``op(root)`` makes one swap of ``root/swapped`` (and maybe more),
    or one snapshot commit to it.

    A clean run on a copy of ``pre`` gives the wanted state and the
    swap's steps (at least ``min_steps``: a whole-table swap takes 3, a
    commit 2). Then, for each step, a fresh copy crashes there; the next
    ``op`` call must roll the half-done swap back and re-run it, to the
    same rows and partition dirs, with no .staging/.old left."""
    clean = str(tmp_path / "clean")
    shutil.copytree(pre, clean)
    with _faulty_fs(monkeypatch, os.path.join(clean, swapped)) as calls:
        op(clean)
    want = _snapshot(spark, clean, tables)
    assert want["leftovers"] == [] and len(calls) >= min_steps, calls
    for k in steps or range(1, len(calls) + 1):
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(pre, root)
        with _faulty_fs(monkeypatch, os.path.join(root, swapped), crash_at=k):
            with pytest.raises(_Crash):
                op(root)
        op(root)
        assert _snapshot(spark, root, tables) == want, f"crash at step {k}"


def _flat(root, table):
    """The parquet files directly in a flat table's dir; empty if the
    table holds a ``col=value`` dir."""
    path = os.path.join(root, table)
    if any("=" in d for d in os.listdir(path)):
        return []
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _kv(spark, rows):
    return spark.createDataFrame(rows, "source string, bucket long, v double")


def _partial(spark, rows):
    return spark.createDataFrame(
        [(s, b, v, v, v, 1, v) for s, b, v in rows],
        "source string, bucket long, sum_v double, min_v double, "
        "max_v double, cnt long, avg_v double",
    )


def test_swap_crash_recovery_merges(spark, tmp_path, monkeypatch):
    """Upsert and additive merge: a crash at any rename or rmtree of the
    whole-table swap (the live table moved aside, the staged one
    promoted, the commit) is rolled back by the next call. The additive
    merge is not idempotent, so a promote that survived would count the
    batch twice on the re-run. Null-source rows merge like any other,
    never dropped."""
    from workbook_exporter_fe_spark.operators.merge import (
        merge_tier_additive_path,
        merge_upsert_path,
    )

    keys = ["source", "bucket"]
    base = [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0), (None, 1, 4.0)]
    batch = [("a", 2, 5.0), ("c", 1, 7.0), (None, 2, 6.0)]
    cases = {
        "upsert": (_kv, merge_upsert_path),
        "additive": (_partial, merge_tier_additive_path),
    }
    for name, (frame, merge) in cases.items():
        pre = str(tmp_path / name / "pre")
        merge(spark, f"{pre}/t", frame(spark, base), keys)
        new = frame(spark, batch)
        _assert_recovers(
            spark, monkeypatch, tmp_path / name, pre,
            lambda root: merge(spark, f"{root}/t", new, keys),
            "t", ["t"],
        )


@pytest.fixture(scope="module")
def small_store(spark, tmp_path_factory):
    """A 600-document tier store and the events it was built from."""
    seq = gen_sequences(spark, 600, seed=7)
    root = str(tmp_path_factory.mktemp("crash") / "pre")
    TierPipeline(spark, root).run(seq, run_fp="base")
    ev = pl.eventize(seq).select("source", "event_ts", "v", "doc_id")
    return root, ev.localCheckpoint()


def test_swap_crash_recovery_backfill_and_expire(spark, tmp_path, monkeypatch,
                                                 small_store):
    """Backfill and expiry rewrite whole tiers: a crash at each step of
    the tier-1 swap is rolled back and the re-run matches a clean run."""
    from workbook_exporter_fe_spark.operators.retention import expire_tiers

    pre, ev = small_store
    lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).first()
    mid = lo + (hi - lo) / 2
    fixed = ev.withColumn("v", F.col("v") * 2)
    tiers = ["tier1", "tier2", "tier3", "chunks"]
    _assert_recovers(
        spark, monkeypatch, tmp_path / "backfill", pre,
        lambda root: TierPipeline(spark, root).backfill(fixed, lo, mid, "bf"),
        "tier1", tiers,
    )
    _assert_recovers(
        spark, monkeypatch, tmp_path / "expire", pre,
        lambda root: expire_tiers(spark, root, {"tier1": "interval 1 minute"}),
        "tier1", ["tier1"],
    )


def test_swap_crash_recovery_incremental_stage(spark, tmp_path, monkeypatch,
                                               small_store):
    """Pipeline level: a crash at each step of the whole-table tier-1
    additive swap of run_incremental (the live table moved aside, the
    staged one promoted, the commit) leaves the stage unrecorded;
    re-running the batch rolls the swap back and folds it once, so every
    table matches an uninterrupted run."""
    pre, ev = small_store
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-r")))
    _assert_recovers(
        spark, monkeypatch, tmp_path, pre,
        lambda root: TierPipeline(spark, root).run_incremental(batch, "b1"),
        "tier1", ["events", "tier1", "tier2", "tier3", "chunks"],
    )


def _two_batches(ev):
    """Two new-doc batches over the small store: the first ends before
    the store's frontier, the second is a day past it."""
    lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).first()
    early = ev.filter(F.col("event_ts") < F.lit(lo + (hi - lo) / 2))
    late = ev.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0).withColumn(
        "event_ts", F.col("event_ts") + F.expr("interval 1 day")
    )
    return [
        b.withColumn("doc_id", F.concat("doc_id", F.lit(f"-b{i}")))
        for i, b in enumerate((early, late))
    ]


def _spark_jobs(spark, tag, fn):
    """Run ``fn`` in a job group of its own; returns the descriptions of
    the Spark jobs it ran. Every job the SparkContext started during the
    call must be in that group — a stage thread that dropped the caller's
    group fails here. Job ids are contiguous, so the counts compare."""
    sc = spark.sparkContext
    jvm = sc._jsc.sc()
    group = f"{tag}-{os.getpid()}"
    started = jvm.dagScheduler().numTotalJobs()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = jvm.dagScheduler().numTotalJobs() - started
    jvm.listenerBus().waitUntilEmpty()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    assert len(ids) == started, (len(ids), started)
    return [jvm.statusStore().job(j).description() for j in ids]


#: physical-plan nodes that run Python code on the executors
_PYTHON_NODE = re.compile(r"\w*(?:Python|InPandas|InArrow)\w*")


def _python_nodes(spark, tag):
    """The Python-running nodes in the physical plans of every SQL
    execution that ran a job of ``_spark_jobs``' group ``tag``."""
    sc = spark.sparkContext
    ids = set(sc.statusTracker().getJobIdsForGroup(f"{tag}-{os.getpid()}"))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    found = []
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = {int(j) for j in e.jobs().keys().mkString(",").split(",") if j}
        if jobs & ids:
            found += _PYTHON_NODE.findall(e.physicalPlanDescription())
    return found


def _assert_rows_match_tables(spark, pipe, root, stages, run_fps,
                              events_rows=None):
    """Each of ``stages`` (stage, table, watermark column) has one manifest
    row per run fingerprint, and the last one's rows_out, watermark and
    per-source partitions equal count(), max() and the per-source counts
    of its table — except the events stage's rows_out, which is the rows
    its batch committed (``events_rows``), not the table's."""
    for stage, table, col in stages:
        rec = [e for e in pipe.manifest.entries if e["stage"] == stage]
        assert [e["run_fp"] for e in rec] == run_fps, stage
        t = _table(spark, root, table)
        want = events_rows if table == "events" else t.count()
        assert rec[-1]["rows_out"] == want, stage
        if col:
            assert rec[-1]["watermark"] == str(t.agg(F.max(col)).first()[0]), stage
        if "partitions" in rec[-1]:
            assert rec[-1]["partitions"] == {
                r["source"]: r["count"] for r in t.groupBy("source").count().collect()
            }, stage


#: jobs one run_incremental may run on the small store: it runs 21 —
#: the batch probe, the events commit and its key extraction, the
#: partials' disk write, the collect of the chunk segments' tier-1 rows,
#: then per merge its query stages and the write (the chunk merge
#: replaces its local delta's own keys, so no job finds them). A schema-inference or
#: listing job per read or a touched-partition probe per merge would
#: pass it.
_BATCH_JOB_CEILING = 24


def test_incremental_batch_job_budget(spark, tmp_path, small_store,
                                      monkeypatch):
    """run_incremental works out what a batch touches once: it runs no
    file-listing job and at most a pinned number of jobs, runs no Python
    code on the executors (the chunk encoding runs once, on the driver),
    and leaves one file in each tier and at most two in chunks, not one
    per source. After each of two batches (one behind the store's
    frontier, one past it) every stage's manifest row still equals
    count() and max() of its table; the events stage records the rows
    its batch committed, and the events table's live rows are the base
    docs' and every batch's."""
    from workbook_exporter_fe_spark.functions import spark_codecs

    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    assert ev.select("source").distinct().count() > 32
    encodes = []
    real = spark_codecs.encode_segments

    def spy(pdf, *a, **k):
        encodes.append(len(pdf))
        return real(pdf, *a, **k)

    monkeypatch.setattr(spark_codecs, "encode_segments", spy)
    live = ev.count()
    for i, batch in enumerate(_two_batches(ev)):
        pipe = TierPipeline(spark, root)
        descs = _spark_jobs(spark, f"budget-{i}",
                            lambda: pipe.run_incremental(batch, f"b{i}"))
        assert not [d.get() for d in descs
                    if d.isDefined() and d.get().startswith("Listing")]
        assert 0 < len(descs) <= _BATCH_JOB_CEILING, len(descs)
        assert _python_nodes(spark, f"budget-{i}") == []
        assert len(encodes) == i + 1 and encodes[-1] > 0, encodes
        # chunks: the kept rows and the re-encoded segments, two tasks
        files = [len(_flat(root, t)) for t in ("tier1", "tier2", "tier3", "chunks")]
        assert files[:3] == [1, 1, 1] and 1 <= files[3] <= 2, files
        rows = batch.count()
        live += rows
        _assert_rows_match_tables(spark, pipe, root, (
            ("t0_events_inc", "events", "doc_id"),
            ("tier1_inc", "tier1", "bucket_ts"),
            ("tier2_inc", "tier2", "bucket_ts"),
            ("tier3_inc", "tier3", "bucket_ts"),
            ("compress_inc", "chunks", None),
        ), [f"b{k}" for k in range(i + 1)], events_rows=rows)
        assert _table(spark, root, "events").count() == live


def test_chunk_stage_encodes_alike_on_driver_and_executors(
        spark, tmp_path, small_store):
    """With the Arrow batch cap below the tier-1 table's rows, a batch's
    chunk stage encodes on the executors and its merge replaces the
    touched segments' keys; the chunk table is the driver path's, row for
    row, payload bytes included."""
    pre, ev = small_store
    batch = _two_batches(ev)[1]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    chunks, pythons = {}, {}
    for cap in ("10000", "1"):
        root = str(tmp_path / cap)
        shutil.copytree(pre, root)
        prior = spark.conf.get(key)
        spark.conf.set(key, cap)
        try:
            _spark_jobs(spark, f"side-{cap}", lambda: TierPipeline(
                spark, root).run_incremental(batch, "b1"))
        finally:
            spark.conf.set(key, prior)
        pythons[cap] = _python_nodes(spark, f"side-{cap}")
        chunks[cap] = sorted(map(tuple, _table(spark, root, "chunks").collect()),
                             key=repr)
    assert pythons["10000"] == [] and pythons["1"], pythons
    assert chunks["1"] == chunks["10000"]


def test_stage_jobs_carry_the_stage_name(spark, tmp_path, small_store):
    """Every Spark job run_incremental runs inside a stage is described by
    that stage's name: the manifest's for a table-writing stage, the
    fold's for the partials' disk write. Only the batch probe runs
    outside every stage, and it and the caller keep the caller's
    description. A publish's commits are described ``publish_<tier>``."""
    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    batch = _two_batches(ev)[1]
    sc = spark.sparkContext
    after = []

    def run(fn):
        fn()
        after.append(sc.getLocalProperty("spark.job.description"))

    descs = _spark_jobs(spark, "named", lambda: run(
        lambda: TierPipeline(spark, root).run_incremental(batch, "b1")))
    group = f"named-{os.getpid()}"
    names = [d.get() for d in descs]
    assert names.count(group) == 1 and after == [group], (names, after)
    assert set(names) - {group} == {
        "t0_events_inc", "partial", "tier1_inc", "tier2_inc", "tier3_inc",
        "compress_inc"}, names
    descs = _spark_jobs(spark, "named-publish", lambda: run(
        lambda: pl.publish_snapshot_tiers(spark, root)))
    assert {d.get() for d in descs} == {
        "publish_tier1", "publish_tier2", "publish_tier3"}, descs
    assert after[-1] == f"named-publish-{os.getpid()}"


#: jobs one run may run over the small store's own sequences under a new
#: fingerprint: it runs 29 — a probe of the eventized sequences, the
#: events commit and its key extraction, a probe of the bounded events
#: table, then per merge its query stages, the write and, for tier1–3,
#: the per-source row counts, and the chunk metrics. It ran 48 with a
#: touched-partition and a watermark job per stage, 32 with two-job
#: probes, and 30 before the chunk merge took its local delta's keys.
_RUN_JOB_CEILING = 35


def test_run_job_budget(spark, tmp_path, small_store):
    """run probes its eventized sequences once and its bounded events
    once; every merge takes the touched sources from the probe, and every
    stage's manifest row still equals count() and max() of its table."""
    root = str(tmp_path / "store")
    shutil.copytree(small_store[0], root)
    seq = gen_sequences(spark, 600, seed=7)
    pipe = TierPipeline(spark, root)
    descs = _spark_jobs(spark, "run-budget", lambda: pipe.run(seq, "again"))
    assert 0 < len(descs) <= _RUN_JOB_CEILING, len(descs)
    # the same docs again: all of them committed, none added
    n = small_store[1].count()
    _assert_rows_match_tables(spark, pipe, root, (
        ("t0_eventize", "events", "doc_id"),
        ("tier1_1m", "tier1", "bucket_ts"),
        ("tier2_1h", "tier2", "bucket_ts"),
        ("tier3_1d", "tier3", "bucket_ts"),
        ("compress", "chunks", None),
    ), ["base", "again"], events_rows=n)
    assert _table(spark, root, "events").count() == n


def test_run_with_late_delay_feeds_merged_tier_below(spark, tmp_path,
                                                    small_store):
    """A later run whose frontier has passed the first run's buckets no
    longer produces them from its bounded events; tier-1 keeps them, and
    the coarser tiers, re-aggregated from the merged tier below, still
    cover them, so the stored tables pass verify()."""
    import datetime

    root = str(tmp_path / "store")
    shutil.copytree(small_store[0], root)
    last = spark.read.parquet(f"{root}/tier1").agg(F.max("bucket_ts")).first()[0]
    pipe = TierPipeline(spark, root, late_delay="interval 2 minutes")
    pipe.run(gen_sequences(spark, 1500, seed=7), run_fp="newer")
    # the frontier moved past every first-run bucket
    wm = pipe.manifest.last_watermark("late_bound")
    assert last < wm - datetime.timedelta(minutes=3)
    checks = pipe.verify()
    assert checks["ok"], checks


def test_run_with_late_delay_never_splits_a_bucket(spark, tmp_path,
                                                   small_store):
    """The store counted every event; a later run over the same docs with
    a 90-second ``late_delay`` has its cutoff (frontier - delay) inside a
    minute. That tier-1 bucket keeps counting all of its events: the run
    re-derives it from the whole minute, not from the events after the
    cutoff."""
    import datetime

    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    cut = ev.agg(F.max("event_ts")).first()[0] - datetime.timedelta(seconds=90)
    minute = cut.replace(second=0, microsecond=0)
    in_minute = (F.col("event_ts") >= F.lit(minute)) & (
        F.col("event_ts") < F.lit(minute + datetime.timedelta(minutes=1)))
    # the cutoff splits the minute's events
    assert ev.filter(in_minute & (F.col("event_ts") <= F.lit(cut))).count() > 0
    assert ev.filter(in_minute & (F.col("event_ts") > F.lit(cut))).count() > 0
    want = {r["source"]: r["count"]
            for r in ev.filter(in_minute).groupBy("source").count().collect()}

    TierPipeline(spark, root, late_delay="interval 90 seconds").run(
        gen_sequences(spark, 600, seed=7), run_fp="shorter")
    got = spark.read.parquet(f"{root}/tier1").filter(
        F.col("bucket_ts") == F.lit(minute))
    assert {r["source"]: r["cnt"] for r in got.collect()} == want


def test_incremental_with_sketches_raises_before_writing(spark, tmp_path,
                                                         small_store):
    """The sketch tiers hold no additive partials: an incremental refresh
    of a pipeline built with_sketches raises before any table or the
    manifest changes, instead of leaving sketch1/2/3 stale."""
    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)

    def files():
        return {
            os.path.join(d, f): (os.path.getsize(os.path.join(d, f)),
                                 os.path.getmtime(os.path.join(d, f)))
            for d, _, fs in os.walk(root) for f in fs
        }

    before = files()
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-s")))
    with pytest.raises(ValueError, match="sketch"):
        TierPipeline(spark, root, with_sketches=True).run_incremental(batch, "b1")
    assert files() == before


@pytest.mark.parametrize("source", [["--events", "batch.parquet"],
                                    ["--from-snapshots", "tbl"]])
def test_run_tiers_rejects_sketches_with_incremental_sources(tmp_path, source):
    import subprocess
    import sys

    cli = os.path.join(os.path.dirname(os.path.dirname(__file__)), "run_tiers.py")
    p = subprocess.run(
        [sys.executable, cli, *source, "--sketches", "--out", str(tmp_path)],
        capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 2 and "--sketches" in p.stderr, p.stderr


def test_metrics_table_is_append_only(spark, tmp_path, small_store):
    """Each flush appends only the manifest entries the metrics table
    lacks: files already there (a Spark-written mirror from an older
    store included) keep their mtimes, and an entry recorded before a
    crash skipped its flush is appended by the next run."""
    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    mpath = f"{root}/_manifest/metrics"
    # the mirror as older stores hold it: written whole by Spark
    spark.read.parquet(mpath).write.parquet(f"{root}/spark_mirror")
    shutil.rmtree(mpath)
    os.rename(f"{root}/spark_mirror", mpath)

    def files():
        return {f: os.path.getmtime(os.path.join(mpath, f))
                for f in os.listdir(mpath) if f.endswith(".parquet")}

    b0, b1 = _two_batches(ev)
    before = files()
    pipe = TierPipeline(spark, root)
    pipe.run_incremental(b0, "b0")
    pipe.manifest.record(run_fp="b0", stage="crashed_before_flush", status="done")
    mid = files()
    assert len(mid) == len(before) + 1
    TierPipeline(spark, root).run_incremental(b1, "b1")
    after = files()
    assert len(after) == len(mid) + 1
    assert {f: after[f] for f in mid} == mid
    got = sorted(
        (r.run_fp, r.stage, r.ts) for r in spark.read.parquet(mpath).collect()
    )
    want = sorted(
        (e["run_fp"], e["stage"], e["ts"])
        for e in TierPipeline(spark, root).manifest.entries
    )
    assert got == want


def test_events_commit_replays_without_change(spark, tmp_path, small_store,
                                              monkeypatch):
    """A crash after the events commit and before its manifest row: the
    re-run commits the batch again, which replaces its rows with
    themselves, so the events table and every tier equal an
    uninterrupted run's."""
    pre, ev = small_store
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-r")))
    tables = ["events", "tier1", "tier2", "tier3", "chunks"]
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    shutil.copytree(pre, clean)
    shutil.copytree(pre, crashed)
    TierPipeline(spark, clean).run_incremental(batch, "b1")

    pipe = TierPipeline(spark, crashed)
    real = pipe.manifest.record

    def record(**entry):
        if entry["stage"] == "t0_events_inc":
            raise _Crash("injected crash before the events stage's row")
        return real(**entry)

    monkeypatch.setattr(pipe.manifest, "record", record)
    with pytest.raises(_Crash):
        pipe.run_incremental(batch, "b1")
    assert SnapshotTable(spark, f"{crashed}/events").current_sequence() == 2
    TierPipeline(spark, crashed).run_incremental(batch, "b1")
    assert _snapshot(spark, crashed, tables) == _snapshot(spark, clean, tables)


def test_scoped_publish_job_and_file_budget(spark, tmp_path, small_store):
    """A scoped publish works out the batch's partition tuples in one job
    and then runs at most two per tier (the write's clustering and the
    write); it writes one file per touched day per tier, and the served
    tiers equal the hive tiers."""
    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    tiers = ("tier1", "tier2", "tier3")
    pl.publish_snapshot_tiers(spark, root)

    def files(t):
        return {f["path"] for f in SnapshotTable(
            spark, f"{root}/snapshot_tiers/{t}").snapshot()["files"]}

    before = {t: files(t) for t in tiers}
    descs = _spark_jobs(spark, "publish", lambda: pl.publish_snapshot_tiers(
        spark, root, changed=ev))
    assert 0 < len(descs) <= 1 + 2 * len(tiers), len(descs)
    days = ev.select(F.date_trunc("day", "event_ts")).distinct().count()
    for t in tiers:
        assert len(files(t) - before[t]) == days, t
        served = SnapshotTable(spark, f"{root}/snapshot_tiers/{t}").read()
        want = spark.read.parquet(f"{root}/{t}")
        cols = sorted(want.columns)
        assert sorted(map(tuple, served.select(cols).collect())) == sorted(
            map(tuple, want.select(cols).collect())), t


_WRITTEN = ["tier1", "tier2", "tier3", "chunks"]


def _as_source_partitioned(spark, root):
    """Rewrite the store's tiers and chunks in the layout older stores
    hold them in: hive ``source=`` partitions."""
    for t in _WRITTEN:
        path = os.path.join(root, t)
        spark.read.parquet(path).write.partitionBy("source").parquet(path + ".hive")
        shutil.rmtree(path)
        os.rename(path + ".hive", path)


def test_source_partitioned_store_migrates_on_next_write(spark, tmp_path,
                                                         small_store):
    """A store in the older ``source=`` layout goes flat on its next
    write. After an incremental batch, a backfill or an expiry, each
    table the write rewrote is flat with ``source`` last, every table
    holds the rows the same write gives on a flat copy, and the store
    passes verify()."""
    import datetime

    from workbook_exporter_fe_spark.operators.retention import expire_tiers

    pre, ev = small_store
    lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).first()
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-m")))
    fixed = ev.withColumn("v", F.col("v") * 2)
    ops = {
        "incremental": (lambda root: TierPipeline(spark, root).run_incremental(
            batch, "b1"), _WRITTEN),
        "backfill": (lambda root: TierPipeline(spark, root).backfill(
            fixed, lo, hi + datetime.timedelta(seconds=1), "bf"), _WRITTEN),
        "expire": (lambda root: expire_tiers(spark, root, {
            "tier1": "interval 1 minute", "tier2": "interval 1 minute"}),
            ["tier1", "tier2"]),
    }
    for name, (op, written) in ops.items():
        flat, old = str(tmp_path / name / "flat"), str(tmp_path / name / "old")
        shutil.copytree(pre, flat)
        shutil.copytree(pre, old)
        _as_source_partitioned(spark, old)
        op(flat)
        op(old)
        for t in _WRITTEN:
            want = spark.read.parquet(f"{flat}/{t}")
            got = spark.read.parquet(f"{old}/{t}")
            if t in written:
                assert _flat(old, t), (name, t)
                assert got.columns == want.columns, (name, t)
                assert want.columns[-1] == "source", (name, t)
            assert sorted(map(tuple, got.collect()), key=repr) == sorted(
                map(tuple, want.select(got.columns).collect()), key=repr), (name, t)
        checks = TierPipeline(spark, old).verify()
        assert checks["ok"], (name, checks)


def test_verify_checks_serving_store_against_tiers(spark, tmp_path,
                                                   small_store):
    """verify() compares each published serving tier with its tier and
    skips the unpublished ones; a hand-corrupted serving row fails it."""
    root = str(tmp_path / "store")
    shutil.copytree(small_store[0], root)
    pipe = TierPipeline(spark, root)
    pl.publish_snapshot_tiers(spark, root, tier_names=("tier1", "tier2"))
    checks = pipe.verify()
    assert checks["ok"], checks
    assert checks["serving_tier1_equals_tier"] and checks["serving_tier2_equals_tier"]
    assert "serving_tier3_equals_tier" not in checks

    served = SnapshotTable(spark, f"{root}/snapshot_tiers/tier2")
    rows = served.read()
    first = rows.orderBy("source", "bucket_ts").first()
    hit = F.col("source").eqNullSafe(first["source"]) & (
        F.col("bucket_ts") == F.lit(first["bucket_ts"]))
    served.commit(rows.withColumn(
        "sum_v", F.when(hit, F.col("sum_v") + 1).otherwise(F.col("sum_v"))
    ).localCheckpoint(), mode="overwrite")
    bad = pipe.verify()
    assert not bad["ok"] and not bad["serving_tier2_equals_tier"], bad
    assert bad["serving_tier1_equals_tier"] and bad["tier2_equals_reagg_tier1"]


# --- the fold's stages run concurrently ------------------------------------


def test_crash_in_concurrent_incremental_stages_recovers(spark, tmp_path,
                                                         monkeypatch,
                                                         small_store):
    """run_incremental runs the events commit and tier1–3 at once, and
    chunks once tier1 is written. A crash at each step of the tier2 swap,
    or of the events commit, fails the batch after the stages running
    beside it finish; the re-run completes the rest, and every table
    equals an uninterrupted run's."""
    pre, ev = small_store
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-c")))
    tables = ["events", "tier1", "tier2", "tier3", "chunks"]
    for swapped, min_steps in (("tier2", 3), ("events", 2)):
        _assert_recovers(
            spark, monkeypatch, tmp_path / swapped, pre,
            lambda root: TierPipeline(spark, root).run_incremental(batch, "b1"),
            swapped, tables, min_steps=min_steps,
        )


def test_crash_in_concurrent_run_stage_recovers(spark, tmp_path, monkeypatch,
                                                small_store):
    """run writes tier2 → tier3 while chunks run off tier1: a crash at
    each step of the tier3 swap is rolled back by the re-run, which
    equals an uninterrupted run."""
    seq = gen_sequences(spark, 900, seed=7)
    _assert_recovers(
        spark, monkeypatch, tmp_path, small_store[0],
        lambda root: TierPipeline(spark, root).run(seq, "more"),
        "tier3", ["events", "tier1", "tier2", "tier3", "chunks"],
    )


def test_stage_failure_lets_siblings_finish(spark, tmp_path, small_store,
                                            monkeypatch):
    """A failing stage raises its error only after the stages running
    beside it have finished and recorded themselves; no stage that waits
    for the failed one starts, and no stage thread outlives the call.
    Here the batch's partials fail: the events commit beside them
    completes, and neither the tiers nor the chunks run."""
    import threading

    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-f")))
    real = pl.rollup_tier1

    def no_partials(*a, **k):
        # the partials' disk write fails; tier1–3 and chunks read them
        return real(*a, **k).withColumn("cnt", F.raise_error(F.lit("injected")))

    before = threading.active_count()
    monkeypatch.setattr(pl, "rollup_tier1", no_partials)
    pipe = TierPipeline(spark, root)
    with pytest.raises(Exception, match="injected"):
        pipe.run_incremental(batch, "b1")
    assert threading.active_count() == before
    done = {e["stage"] for e in pipe.manifest.entries if e["run_fp"] == "b1"}
    assert done == {"t0_events_inc"}, done


def test_manifest_record_is_thread_safe(tmp_path):
    """Stages record from their own threads: 8 threads × 50 rows, the
    interpreter switching threads every microsecond, leave 400 whole
    JSON lines in the file and 400 entries in memory."""
    import sys
    import threading

    m = pl.Manifest(str(tmp_path / "_manifest" / "manifest.jsonl"))

    def record(t):
        for i in range(50):
            m.record(run_fp=f"t{t}", stage=f"s{i}", status="done",
                     partitions={f"src-{k}": k for k in range(20)})

    threads = [threading.Thread(target=record, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    with open(m.path) as f:
        rows = [json.loads(line) for line in f]
    assert len(rows) == len(m.entries) == 400
    assert sorted((r["run_fp"], r["stage"]) for r in rows) == sorted(
        (e["run_fp"], e["stage"]) for e in m.entries)
    assert len(pl.Manifest(m.path).entries) == 400


def test_concurrent_publish_over_segmented_manifests(spark, tmp_path,
                                                     small_store, monkeypatch):
    """The scoped publish commits its tiers from concurrent threads. On
    serving tiers with more files than a manifest inlines (so every
    commit reads file-list segments) and a one-entry segment cache
    (so every read evicts), the served tiers still equal the hive tiers
    and verify() holds."""
    from workbook_exporter_fe_spark.sources import snapshots as S

    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    monkeypatch.setattr(S, "MANIFEST_INLINE_MAX", 4)
    monkeypatch.setattr(S, "_SEG_CACHE_MAX", 1)
    pl.publish_snapshot_tiers(spark, root, spec=("day(bucket_ts)", "source"))
    for t in ("tier1", "tier2", "tier3"):
        raw = S.load_manifest_raw(f"{root}/snapshot_tiers/{t}",
                                  S.current_sequence(f"{root}/snapshot_tiers/{t}"))
        assert raw.get("file_segments"), t
    b0, b1 = _two_batches(ev)
    for i, batch in enumerate((b0, b1)):
        TierPipeline(spark, root).run_incremental(batch, f"b{i}")
        info = pl.publish_snapshot_tiers(spark, root, changed=batch)
        assert set(info) == {"tier1", "tier2", "tier3"}
        assert all(v["files"] > S.MANIFEST_INLINE_MAX for v in info.values())
    checks = TierPipeline(spark, root).verify()
    assert checks["ok"], checks


@pytest.mark.parametrize("op", ["expire", "backfill"])
def test_repair_republishes_serving_store(spark, tmp_path, small_store, op):
    """expire_tiers and backfill rewrite the tiers outside the fold; a
    published serving store is republished once their swaps commit, so
    verify() still holds (at the parent commit the served tiers kept the
    expired or replaced rows)."""
    from workbook_exporter_fe_spark.operators.retention import expire_tiers

    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    pipe = TierPipeline(spark, root)
    pl.publish_snapshot_tiers(spark, root)
    assert pipe.verify()["ok"]
    rows = spark.read.parquet(f"{root}/tier1").count()
    if op == "expire":
        expire_tiers(spark, root, {"tier1": "interval 1 minute"})
        assert spark.read.parquet(f"{root}/tier1").count() < rows
    else:
        lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).first()
        pipe.backfill(ev.withColumn("v", F.col("v") * 2), lo,
                      lo + (hi - lo) / 2, "bf")
    checks = pipe.verify()
    assert checks["ok"] and checks["serving_tier1_equals_tier"], checks
