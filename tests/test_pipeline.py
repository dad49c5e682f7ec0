"""Pipeline tests: resumability, idempotency, manifest lineage."""

from __future__ import annotations

import json
import os
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


def test_partition_scoped_merge_preserves_untouched_partitions(
    spark, tmp_path, small_store
):
    """merge_upsert_path(partition_col=...) must rewrite ONLY the partitions
    present in the new batch — untouched partition dirs keep their files'
    mtimes (the replaceWhere shape a 100 TB merge needs). That holds on a
    tier after backfill and expiry too: they keep its source= layout."""
    from workbook_exporter_fe_spark.operators.merge import merge_upsert_path

    path = str(tmp_path / "tier")
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 11.0), ("b", 1, 20.0)],
        "source string, bucket long, v double",
    )
    merge_upsert_path(spark, path, base, ["source", "bucket"], partition_col="source")
    b_dir = os.path.join(path, "source=b")
    before = {
        f: os.path.getmtime(os.path.join(b_dir, f)) for f in os.listdir(b_dir)
    }

    new = spark.createDataFrame(
        [("a", 2, 99.0), ("a", 3, 12.0)], "source string, bucket long, v double"
    )
    merge_upsert_path(spark, path, new, ["source", "bucket"], partition_col="source")

    after = {f: os.path.getmtime(os.path.join(b_dir, f)) for f in os.listdir(b_dir)}
    assert after == before  # partition b untouched, byte-for-byte same files

    got = {
        (r["source"], r["bucket"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("a", 1): 10.0, ("a", 2): 99.0, ("a", 3): 12.0, ("b", 1): 20.0}

    import datetime

    from workbook_exporter_fe_spark.operators.merge import (
        merge_tier_additive_path,
    )
    from workbook_exporter_fe_spark.operators.retention import expire_tiers
    from workbook_exporter_fe_spark.operators.tiers import rollup_tier1

    store = str(tmp_path / "store")
    shutil.copytree(small_store[0], store)
    ev = small_store[1]
    lo, hi = ev.agg(F.min("event_ts"), F.max("event_ts")).first()
    TierPipeline(spark, store).backfill(
        ev, lo, hi + datetime.timedelta(seconds=1), "bf"
    )
    expire_tiers(spark, store, {"tier1": "interval 2 minutes"})
    t1 = os.path.join(store, "tier1")
    assert not [f for f in os.listdir(t1) if f.endswith(".parquet")]
    parts = sorted(d for d in os.listdir(t1) if d.startswith("source="))
    assert len(parts) >= 2

    def mtimes(d):
        pdir = os.path.join(t1, d)
        return {f: os.path.getmtime(os.path.join(pdir, f)) for f in os.listdir(pdir)}

    before = {d: mtimes(d) for d in parts[1:]}
    touched = ev.filter(F.col("source") == parts[0][len("source="):])
    merge_tier_additive_path(spark, t1, rollup_tier1(touched), ["source", "bucket_ts"])
    assert {d: mtimes(d) for d in parts[1:]} == before


def test_merge_reads_stored_schema_without_inference(spark, tmp_path):
    """A merge reads its table with the merged rows' schema, the
    partition column last, and runs no schema-inference job; a column
    only the stored files hold raises instead of being dropped."""
    from workbook_exporter_fe_spark.operators.merge import merge_upsert_path

    path = str(tmp_path / "t")
    keys = ["source", "bucket"]
    merge_upsert_path(spark, path, _kv(spark, [("a", 1, 1.0), ("b", 1, 2.0)]),
                      keys, partition_col="source")
    new = _kv(spark, [("a", 1, 5.0)])
    descs = _spark_jobs(spark, "stored-schema", lambda: merge_upsert_path(
        spark, path, new, keys, partition_col="source", touched=["a"]))
    # the keys' dedupe, their broadcast and the write; a schema
    # inference over the stored footers would be a fourth job
    assert len(descs) == 3, len(descs)
    got = spark.read.parquet(path)
    assert got.columns == ["bucket", "v", "source"]
    assert sorted(map(tuple, got.collect())) == [(1, 2.0, "b"), (1, 5.0, "a")]
    with pytest.raises(ValueError, match="stores columns"):
        merge_upsert_path(spark, path, new.drop("v"), ["source", "bucket"],
                          partition_col="source", touched=["a"])


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

    # idempotent resume: same fingerprints are no-ops
    again = TierPipeline(spark, out_dir).run_incremental(ev.filter(~gate), run_fp="b2")
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
    """Record every os.rename and error-raising shutil.rmtree on a path
    under ``prefix``; the ``crash_at``-th one raises before it touches the
    disk, leaving it as a process killed at that step would."""
    real_rename, real_rmtree = os.rename, shutil.rmtree
    calls: list[str] = []

    def step(p):
        if str(p).startswith(prefix):
            calls.append(str(p))
            if len(calls) == crash_at:
                raise _Crash(f"injected crash at step {crash_at}: {p}")

    def rename(src, dst, *a, **k):
        step(src)
        return real_rename(src, dst, *a, **k)

    def rmtree(p, ignore_errors=False, *a, **k):
        if not ignore_errors:  # an ignoring rmtree cannot fail its caller
            step(p)
        return real_rmtree(p, ignore_errors, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
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
                     steps=None):
    """``op(root)`` makes one swap of ``root/swapped`` (and maybe more).

    A clean run on a copy of ``pre`` gives the wanted state and the
    swap's steps. Then, for each step, a fresh copy crashes there; the
    next ``op`` call must roll the half-done swap back and re-run it, to
    the same rows and partition dirs, with no .staging/.old left."""
    clean = str(tmp_path / "clean")
    shutil.copytree(pre, clean)
    with _faulty_fs(monkeypatch, os.path.join(clean, swapped)) as calls:
        op(clean)
    want = _snapshot(spark, clean, tables)
    assert want["leftovers"] == [] and len(calls) >= 3, calls
    for k in steps or range(1, len(calls) + 1):
        root = str(tmp_path / f"crash{k}")
        shutil.copytree(pre, root)
        with _faulty_fs(monkeypatch, os.path.join(root, swapped), crash_at=k):
            with pytest.raises(_Crash):
                op(root)
        op(root)
        assert _snapshot(spark, root, tables) == want, f"crash at step {k}"


def _kv(spark, rows):
    return spark.createDataFrame(rows, "source string, bucket long, v double")


def _partial(spark, rows):
    return spark.createDataFrame(
        [(s, b, v, v, v, 1, v) for s, b, v in rows],
        "source string, bucket long, sum_v double, min_v double, "
        "max_v double, cnt long, avg_v double",
    )


def test_swap_crash_recovery_merges(spark, tmp_path, monkeypatch):
    """Upsert, additive merge and compaction: a crash at any rename or
    rmtree of the partition-scoped swap (moving `a` aside, promoting it,
    adding the new partition `c`, commit) is rolled back by the next
    call. The additive merge is not idempotent, so a partial promote
    that survived would count the batch twice on the re-run. The null
    source partition is merged like any other, never dropped."""
    from workbook_exporter_fe_spark.operators.merge import (
        merge_tier_additive_path,
        merge_upsert_path,
    )
    from workbook_exporter_fe_spark.sources.tableio import compact_partitions

    keys = ["source", "bucket"]
    # a null source lives in the __HIVE_DEFAULT_PARTITION__ dir
    base = [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0), (None, 1, 4.0)]
    batch = [("a", 2, 5.0), ("c", 1, 7.0), (None, 2, 6.0)]
    cases = {
        "upsert": (_kv, merge_upsert_path),
        "additive": (_partial, merge_tier_additive_path),
    }
    for name, (frame, merge) in cases.items():
        pre = str(tmp_path / name / "pre")
        merge(spark, f"{pre}/t", frame(spark, base), keys, partition_col="source")
        new = frame(spark, batch)
        _assert_recovers(
            spark, monkeypatch, tmp_path / name, pre,
            lambda root: merge(spark, f"{root}/t", new, keys,
                               partition_col="source"),
            "t", ["t"],
        )

    pre = str(tmp_path / "compact" / "pre")
    merge_upsert_path(spark, f"{pre}/t", _kv(spark, base), keys,
                      partition_col="source")
    _kv(spark, [("a", 9, 9.0)]).write.mode("append").partitionBy(
        "source").parquet(f"{pre}/t")
    _assert_recovers(
        spark, monkeypatch, tmp_path / "compact", pre,
        lambda root: compact_partitions(spark, f"{root}/t", min_files=2),
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
    the tier-1 swap is rolled back and the re-run matches a clean run,
    every source= partition present."""
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
    """Pipeline level: a crash halfway through the tier-1 additive swap of
    run_incremental (some sources promoted, others not) leaves the stage
    unrecorded; re-running the batch rolls the swap back and folds it
    once, so every table matches an uninterrupted run."""
    pre, ev = small_store
    batch = ev.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-r")))
    n_sources = ev.select("source").distinct().count()
    assert n_sources >= 3
    _assert_recovers(
        spark, monkeypatch, tmp_path, pre,
        lambda root: TierPipeline(spark, root).run_incremental(batch, "b1"),
        "tier1", ["events", "tier1", "tier2", "tier3", "chunks"],
        steps=[n_sources + 1],
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
    the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"{tag}-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc._jsc.sc().statusStore()
    return [jobs.job(j).description()
            for j in sc.statusTracker().getJobIdsForGroup(group)]


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


#: jobs one run_incremental may run on the small store: it runs 22 —
#: the batch probe, the events commit and its key extraction, then per
#: merge its query stages and the write. A schema-inference or listing
#: job per read, a touched-partition probe per merge or a second
#: evaluation of the chunk encoding would pass it.
_BATCH_JOB_CEILING = 24


def test_incremental_batch_job_budget(spark, tmp_path, small_store,
                                      monkeypatch):
    """run_incremental works out what a batch touches once: over more
    than 32 source partitions it runs no file-listing job and at most a
    pinned number of jobs, and evaluates the chunk encoding once. After
    each of two batches (one behind the store's frontier, one past it)
    every stage's manifest row still equals count() and max() of its
    table; the events stage records the rows its batch committed, and
    the events table's live rows are the base docs' and every batch's."""
    from workbook_exporter_fe_spark.operators import merge

    pre, ev = small_store
    root = str(tmp_path / "store")
    shutil.copytree(pre, root)
    assert len([d for d in os.listdir(f"{root}/tier1") if "=" in d]) > 32
    plans = []
    real = merge.merge_upsert

    def spy(existing, new, keys, **kw):
        out = real(existing, new, keys, **kw)
        plans.append(out._jdf.queryExecution().optimizedPlan().toString())
        return out

    monkeypatch.setattr(merge, "merge_upsert", spy)
    live = ev.count()
    for i, batch in enumerate(_two_batches(ev)):
        pipe = TierPipeline(spark, root)
        descs = _spark_jobs(spark, f"budget-{i}",
                            lambda: pipe.run_incremental(batch, f"b{i}"))
        assert not [d.get() for d in descs
                    if d.isDefined() and d.get().startswith("Listing")]
        assert 0 < len(descs) <= _BATCH_JOB_CEILING, len(descs)
        # the chunk merge is the batch's one key upsert
        assert [p.count("FlatMapGroupsInPandas") for p in plans] == [1] * (i + 1)
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


#: jobs one run may run over the small store's own sequences under a new
#: fingerprint: it runs 29 — a probe of the eventized sequences, the
#: events commit and its key extraction, a probe of the bounded events
#: table, then per merge its query stages and the write, and the chunk
#: metrics. It ran 48 with a touched-partition and a watermark job per
#: stage, and 32 with a schema read per merge.
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
