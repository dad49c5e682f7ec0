"""The benchmark's two workloads and their untimed output checks.

Stores. The code under test builds two pristine stores from STORE_SEED
the first time a checkout needs them: the *seeded* store (the cold full
cascade ``TierPipeline.run`` + ``publish_snapshot_tiers`` over a 64-source
sequences table, plus a ``MinHashIndex`` of prior docs) and the *served*
store (seeded + one ingest batch). Every run restores a fresh copy. They
are kept under a digest of the engine and benchmark sources
(``code_digest``), so a store is only ever used by the code that built it.

``ingest`` (the write side): set-up restores the seeded store. The loop is
closed: the next micro-batch of new sequences lands only when the previous
publish has returned. Each batch is folded as tier-0 events
(``run_incremental``) and published (``publish_snapshot_tiers(changed=)``).

Dedup (``MinHashIndex.add_batch`` + ``incremental_keep`` of one batch with
planted near-duplicates against the index of prior docs) and the cold full
build run once per code version, while the served store is built, traced;
their figures are per-layer only. A run of either would cost as much as an
ingest batch, and the run budget holds one cold operation per run.

``query`` (the read side): set-up restores the served store. One client
then refreshes a seeded dashboard in a closed loop through the path
``run_server.py`` uses (``build_store`` per request, then ``promql`` /
``query_range``, rows collected): an instant query on tier 1, a short
``query_range`` window on tier 1, long windows on tiers 2 and 3, and a
panel (``decompress_chunks`` for one (source, day), then ``densify`` +
``fill_segmented`` + ``lttb``).

Both workloads measure from a cold session: every run is one process, and
at these sizes the engine's per-stage fixed costs dominate, so a warm-up as
long as the operation would not fit the run budget.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

SCALES = {
    # base sequences, docs per ingest batch, prior docs in the dedup index,
    # panels' LTTB width
    "full": dict(base=40_000, batch=4_000, prior=2_000, lttb=120),
    "toy": dict(base=1_500, batch=300, prior=100, lttb=40),
}
# the pristine stores are built from this seed, once per code version and
# scale; a run's --seed picks its ingest batches or its request mix
STORE_SEED = 1_000_003
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# every source file whose edit can change what the stores hold
DIGEST_SOURCES = ("workbook_exporter_fe_spark", "run_rules.py", "tierbench")

EVENTS_SCHEMA = "source string, event_ts timestamp, v double, doc_id string"
TIERS = ("tier1", "tier2", "tier3")
STORE_PARTS = ("tier1", "tier2", "tier3", "chunks", "snapshot_tiers")


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Run:
    """Per-run state: session, tracer, scratch dir, counters."""

    def __init__(self, spark, tracer, run_dir: str, work_dir: str,
                 scale: str, seed: int, seconds: float):
        self.spark = spark
        self.tr = tracer
        self.dir = run_dir
        self.cache_dir = os.path.join(work_dir, "cache")
        self.store = os.path.join(work_dir, "store")
        self.p = SCALES[scale]
        self.scale = scale
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s = 0.0
        self.op_latencies: list[float] = []
        self.items = 0
        self.measured_s = 0.0
        self.facts: dict = {}

    def attempt(self, fn, what: str):
        """Count one operation or check; a raise counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}"[:400])
            return None


# ------------------------------------------------------------- store build


def _pipeline(spark, store: str):
    from workbook_exporter_fe_spark.plans.pipeline import TierPipeline

    return TierPipeline(spark, store)


def base_inputs(p: dict, seed: int) -> dict:
    """The generated side of a seeded store: its sequences, the tier-0
    events eventize derives from them, the prior docs of the dedup index,
    and the per-source frontier the next ingest batch starts after."""
    seqs = gen.sequences(seed, p["base"])
    events = gen.base_events(seqs)
    prior = seqs.slice(0, p["prior"] * 2).select(["doc_id", "tokens"]).to_pandas()
    prior = prior[prior["tokens"].map(len) >= 16].head(p["prior"])
    return {"seqs": seqs, "events": events, "prior": prior,
            "front": gen.frontier(events)}


def build_store(r: Run, store: str, seed: int) -> dict:
    """Cold full cascade + full publish over ``seed``'s sequences, then
    the dedup index seeded with the prior docs."""
    from workbook_exporter_fe_spark.operators.dedup import MinHashIndex
    from workbook_exporter_fe_spark.plans import pipeline as pl

    state = base_inputs(r.p, seed)
    seq_path = os.path.join(r.dir, f"sequences-{seed}.parquet")
    pq.write_table(state.pop("seqs"), seq_path)
    pipe = _pipeline(r.spark, store)
    t0 = time.perf_counter()
    with r.tr.span("pipeline.run"):
        pipe.run(r.spark.read.parquet(seq_path), run_fp=f"base-{seed}")
    with r.tr.span("pipeline.build_publish"):
        pl.publish_snapshot_tiers(r.spark, store)
    state["build_s"] = time.perf_counter() - t0
    with r.tr.span("dedup.seed_index"):
        MinHashIndex(r.spark, os.path.join(store, "dedup_index"),
                     hash_fn="native").add_batch(r.spark.createDataFrame(
                         state["prior"], "doc_id string, tokens array<int>"))
    state["pipe"] = pipe
    return state


def ingest_one(r: Run, store: str, state: dict, seed: int, k: int) -> dict:
    """Land batch ``k`` and time it from hand-over to publish return."""
    from workbook_exporter_fe_spark.plans import pipeline as pl

    docs, front, _ = gen.ingest_batch(
        seed, k, r.p["batch"], state["front"], state["prior"])
    events = docs[["source", "event_ts", "v", "doc_id"]]
    snap_before = _snapshot_footprint(store) if r.tr.enabled else None
    t0 = time.perf_counter()
    with r.tr.span("ingest.batch", k=k, events=len(events)) as sp:
        ev_df = r.spark.createDataFrame(events, EVENTS_SCHEMA)
        state["pipe"].run_incremental(ev_df, run_fp=f"batch-{seed}-{k}")
        with r.tr.span("pipeline.publish"):
            pl.publish_snapshot_tiers(r.spark, store, changed=ev_df)
    lat = time.perf_counter() - t0
    state["front"] = front
    state["events"] = pd.concat([state["events"], events], ignore_index=True)
    out = {"latency": lat, "events": len(events)}
    if snap_before is not None:
        after = _snapshot_footprint(store)
        out["files_written"] = after[0] - snap_before[0]
        out["metadata_bytes"] = after[1] - snap_before[1]
        # the folded events as parquet, the unit the merges write in
        path = os.path.join(r.dir, f"folded-{seed}-{k}.parquet")
        pq.write_table(pa.Table.from_pandas(events, preserve_index=False), path)
        sp["attrs"]["bytes_folded"] = os.path.getsize(path)
    return out


def dedup_batch(r: Run, store: str, state: dict, seed: int, k: int) -> dict:
    """Batch ``k``'s docs through ``MinHashIndex.add_batch`` and
    ``incremental_keep`` against the store's index of prior docs."""
    from workbook_exporter_fe_spark.operators import dedup

    docs, _, planted = gen.ingest_batch(
        seed, k, r.p["batch"], state["front"], state["prior"])
    docs_df = r.spark.createDataFrame(docs[["doc_id", "tokens"]],
                                      "doc_id string, tokens array<int>")
    t0 = time.perf_counter()
    with r.tr.span("dedup.batch", k=k, docs=len(docs)):
        idx = dedup.MinHashIndex(r.spark, os.path.join(store, "dedup_index"),
                                 hash_fn="native")
        pairs = idx.add_batch(docs_df)
        with r.tr.span("dedup.keep"):
            keep = dedup.incremental_keep(docs_df.select("doc_id"), pairs)
            kept_ids = {row[0] for row in keep.collect()}
    return {"dedup_s": time.perf_counter() - t0, "docs": len(docs),
            "planted": planted, "kept": kept_ids, "pairs": pairs,
            "doc_ids": list(docs["doc_id"])}


def _snapshot_footprint(store: str) -> tuple[int, int]:
    """(data files, metadata bytes) under the published snapshot tiers."""
    files = meta = 0
    for tier in TIERS:
        root = os.path.join(store, "snapshot_tiers", tier)
        for d, _, names in os.walk(os.path.join(root, "data")):
            files += sum(1 for n in names if n.endswith(".parquet"))
        for d, _, names in os.walk(os.path.join(root, "metadata")):
            meta += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return files, meta


def code_digest() -> str:
    """Digest of every ``*.py`` under DIGEST_SOURCES (path and content)."""
    files = []
    for src in DIGEST_SOURCES:
        top = os.path.join(ROOT, src)
        if os.path.isfile(top):
            files.append(top)
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def cache_paths(cache_dir: str, scale: str) -> tuple[str, str]:
    """(pristine seeded store, pristine served store) of this code."""
    tag = f"{scale}-{code_digest()}"
    return (os.path.join(cache_dir, f"seeded-{tag}"),
            os.path.join(cache_dir, f"served-{tag}"))


def caches_missing(cache_dir: str, scale: str) -> bool:
    return not all(map(os.path.isdir, cache_paths(cache_dir, scale)))


def _save(src: str, dst: str) -> None:
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(src, tmp)
    os.rename(tmp, dst)


def restore(r: Run, pristine: str) -> str:
    """A fresh copy of ``pristine`` at the working store path. Snapshot
    manifests record absolute file paths, so every store is built and
    used at that one path and only copied aside."""
    shutil.rmtree(r.store, ignore_errors=True)
    shutil.copytree(pristine, r.store)
    return r.store


def ensure_caches(r: Run) -> None:
    """Build the pristine stores a checkout lacks, with the code under
    test, from STORE_SEED: the seeded store (cold full build) that every
    ``ingest`` run restores, and the served store (seeded + one ingest
    batch) that every ``query`` run restores. That batch is deduplicated
    against the seeded index first, and the result checked."""
    seeded, served = cache_paths(r.cache_dir, r.scale)
    if not os.path.isdir(seeded):
        shutil.rmtree(r.store, ignore_errors=True)
        state = build_store(r, r.store, STORE_SEED)
        r.facts["build_s"] = state["build_s"]
        r.facts["base_points"] = tier1_points(r.store)
        # a store that fails its checks is never kept
        check_tiers(r.store, state["events"])
        check(state["pipe"].verify()["ok"], "TierPipeline.verify after build")
        _save(r.store, seeded)
    if not os.path.isdir(served):
        restore(r, seeded)
        state = base_inputs(r.p, STORE_SEED)
        state["pipe"] = _pipeline(r.spark, r.store)
        d = dedup_batch(r, r.store, state, STORE_SEED, 0)
        r.facts["dedup"] = dict(d, **check_dedup(d))
        ingest_one(r, r.store, state, STORE_SEED, 0)
        _save(r.store, served)


# ------------------------------------------------------------ checks


def _read_tier(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    df["source"] = df["source"].astype(str)
    df["bucket_ts"] = pd.to_datetime(df["bucket_ts"]).astype("datetime64[ns]")
    return df.sort_values(["source", "bucket_ts"]).reset_index(drop=True)


def oracle_tiers(events: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The benchmark's own one-shot rollup of tier-0 events."""
    def roll(df, freq, col_sum, col_min, col_max, col_cnt):
        g = df.assign(bucket_ts=df["bucket_ts"].dt.floor(freq)).groupby(
            ["source", "bucket_ts"], sort=True)
        out = pd.DataFrame({
            "sum_v": g[col_sum].sum(), "min_v": g[col_min].min(),
            "max_v": g[col_max].max(), "cnt": g[col_cnt].sum()
            if col_cnt != "v" else g["v"].count(),
        }).reset_index()
        out["cnt"] = out["cnt"].astype(np.int64)
        out["avg_v"] = out["sum_v"] / out["cnt"]
        return out

    ev = events.assign(bucket_ts=pd.to_datetime(events["event_ts"]).astype(
        "datetime64[ns]"))
    t1 = roll(ev, "min", "v", "v", "v", "v")
    t2 = roll(t1, "h", "sum_v", "min_v", "max_v", "cnt")
    t3 = roll(t2, "D", "sum_v", "min_v", "max_v", "cnt")
    return {"tier1": t1, "tier2": t2, "tier3": t3}


def check_tiers(store: str, events: pd.DataFrame) -> None:
    """Stored tiers are bit-identical to a one-shot rollup of ``events``."""
    want = oracle_tiers(events)
    for tier in TIERS:
        got = _read_tier(os.path.join(store, tier))
        exp = want[tier]
        check(len(got) == len(exp), f"{tier}: {len(got)} rows, want {len(exp)}")
        check((got["source"].to_numpy() == exp["source"].to_numpy()).all()
              and (got["bucket_ts"].to_numpy() == exp["bucket_ts"].to_numpy()).all(),
              f"{tier}: keys differ")
        for c in ("sum_v", "min_v", "max_v", "avg_v"):
            check(np.array_equal(got[c].to_numpy(np.float64),
                                 exp[c].to_numpy(np.float64)),
                  f"{tier}.{c} not bit-identical")
        check(np.array_equal(got["cnt"].to_numpy(np.int64),
                             exp["cnt"].to_numpy(np.int64)), f"{tier}.cnt")


def check_chunks(store: str, events: pd.DataFrame) -> None:
    """Stored chunks decode to the one-shot tier-1 ``avg_v`` exactly."""
    from workbook_exporter_fe_spark.functions import codecs

    decoders = {
        codecs.CODEC_VERSION: (codecs.dod_decode, codecs.gorilla_decode),
        codecs.CODEC_VERSION_V2: (codecs.dod_decode_v2, codecs.gorilla_decode_v2),
    }
    frames = []
    for row in pq.read_table(os.path.join(store, "chunks")).to_pylist():
        dec_ts, dec_v = decoders[row["codec_version"]]
        n = row["n_points"]
        frames.append(pd.DataFrame({
            "source": str(row["source"]),
            "bucket_ts": pd.to_datetime(dec_ts(row["ts_payload"], n), unit="s"),
            "avg_v": dec_v(row["v_payload"], n),
        }))
    got = pd.concat(frames).sort_values(["source", "bucket_ts"])
    exp = oracle_tiers(events)["tier1"]
    check(len(got) == len(exp)
          and (got["source"].to_numpy() == exp["source"].to_numpy()).all()
          and (got["bucket_ts"].to_numpy() == exp["bucket_ts"].to_numpy()).all()
          and np.array_equal(got["avg_v"].to_numpy(), exp["avg_v"].to_numpy()),
          "chunks do not decode to tier-1")


def check_dedup(b: dict) -> dict:
    """Every planted pair is a candidate, and the keep set is exactly the
    policy applied to the reported pairs: drop cross-matches, then keep
    the minimum id of each within-batch cluster."""
    rows = b["pairs"].collect()
    pairs = {(str(x["id_a"]), str(x["id_b"]), bool(x["is_cross"])) for x in rows}
    plain = {(a, bb) for a, bb, _ in pairs}
    missing = [p for p in b["planted"] if p not in plain]
    check(not missing, f"planted near-duplicates not reported: {missing[:3]}")
    fresh = set(b["doc_ids"]) - {bb for _, bb, c in pairs if c}
    parent = {i: i for i in fresh}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, bb, c in pairs:
        if not c and a in fresh and bb in fresh:
            ra, rb = find(a), find(bb)
            parent[max(ra, rb)] = min(ra, rb)
    want = {i for i in fresh if find(i) == i}
    check(want == b["kept"], f"keep set differs from the policy "
          f"({len(b['kept'])} kept, want {len(want)})")
    found = sum(1 for p in b["planted"] if p in plain)
    return {"candidates": len(plain), "found": found}


# ------------------------------------------------------------ ingest


def run_ingest(r: Run) -> None:
    """One operation is one micro-batch, from hand-over to publish return.
    The first batch of a session pays JIT and Python-worker start-up, as a
    batch job launched per micro-batch does."""
    t0 = time.perf_counter()
    store = restore(r, cache_paths(r.cache_dir, r.scale)[0])
    state = base_inputs(r.p, STORE_SEED)
    state["pipe"] = _pipeline(r.spark, store)
    r.setup_s += time.perf_counter() - t0
    r.facts["store"] = store

    batches = []
    start = time.perf_counter()
    k = 0
    while not batches or time.perf_counter() - start < r.seconds:
        b = r.attempt(lambda: ingest_one(r, store, state, r.seed, k),
                      f"batch {k}")
        if b is None:
            break
        batches.append(b)
        r.op_latencies.append(b["latency"])
        r.items += b["events"]
        k += 1
    r.measured_s = sum(b["latency"] for b in batches)
    r.facts["batches"] = batches
    r.attempt(lambda: check_tiers(store, state["events"]),
              "check tiers after batches == one-shot rollup")
    r.attempt(lambda: check_chunks(store, state["events"]),
              "check chunks decode to tier-1")


# ------------------------------------------------------------ query


_E0 = calendar.timegm(dt.datetime(2026, 1, 1).timetuple())


def request_mix(seed: int, store: str) -> list[dict]:
    """A fixed sequence of request kinds; the seed picks each request's
    source (among the 8 busiest) and short window."""
    rng = np.random.default_rng([seed, 4])
    t1 = _read_tier(os.path.join(store, "tier1"))
    span = t1.groupby("source")["bucket_ts"].agg(["min", "max", "count"])
    busy = span.sort_values("count", ascending=False).index[:8].tolist()
    pick = lambda: busy[int(rng.integers(0, len(busy)))]  # noqa: E731
    reqs = [{"kind": "instant",
             "query": f'max_over_time(tok1{{source="{pick()}"}}[5m])'}]
    s = pick()
    lo = span.loc[s, "min"].value // 10**9
    hi = span.loc[s, "max"].value // 10**9
    t = int(lo + rng.random() * max(hi - lo - 900, 1))
    reqs.append({"kind": "range_short", "start": t, "end": t + 900,
                 "step": "1m",
                 "query": f'avg_over_time(tok1{{source="{s}"}}[5m])'})
    reqs.append({"kind": "range_long", "start": _E0, "end": _E0 + 86400,
                 "step": "1h", "query": "sum by (source) (tok2)"})
    reqs.append({"kind": "range_long", "start": _E0, "end": _E0 + 7 * 86400,
                 "step": "1d", "query": "max(tok3)"})
    reqs.append({"kind": "panel", "source": pick(),
                 "day": dt.datetime(2026, 1, 1)})
    return [dict(q, rid=i) for i, q in enumerate(reqs)]


def _metric_cfg(store: str, snapshot: bool) -> dict:
    metrics = []
    for i, tier in enumerate(TIERS, 1):
        path = (os.path.join(store, "snapshot_tiers", tier) if snapshot
                else os.path.join(store, tier))
        metrics.append({"name": f"tok{i}", "table": path,
                        "labels": ["source"], "ts": "bucket_ts",
                        "value": "sum_v"})
    return {"metrics": metrics}


def _digest(rows) -> str:
    return hashlib.sha1(repr(sorted(rows)).encode()).hexdigest()


def serve(r: Run, req: dict, store: str, out: dict | None = None) -> str:
    """One request through the serving path; returns the result digest."""
    import run_rules
    from pyspark.sql import functions as F

    from workbook_exporter_fe_spark.functions import spark_codecs
    from workbook_exporter_fe_spark.operators import downsample, gapfill
    from workbook_exporter_fe_spark.plans import promql as pq_mod

    spark = r.spark
    if req["kind"] == "panel":
        with r.tr.span("codecs.decode"):
            chunks = spark.read.parquet(os.path.join(store, "chunks")).filter(
                (F.col("source") == req["source"])
                & (F.col("segment_start") == F.lit(req["day"])))
            pts = spark_codecs.decompress_chunks(chunks).toPandas()
        with r.tr.span("gapfill.fill"):
            dense = gapfill.densify(
                spark.createDataFrame(pts, "source string, bucket_ts timestamp, avg_v double"),
                "1m", ["avg_v"])
            filled = gapfill.fill_segmented(dense, {"avg_fill": "interp"})
            rows = downsample.lttb(
                filled.select("source", "bucket_ts",
                              F.col("avg_fill").alias("avg_v")),
                r.p["lttb"]).collect()
        if out is not None:
            ts = pts["bucket_ts"]
            n = int((ts.max() - ts.min()).total_seconds() // 60) + 1 if len(ts) else 0
            out["panel_rows"] = out.get("panel_rows", 0) + n
            out["filled_rows"] = out.get("filled_rows", 0) + n - len(pts)
        return _digest(tuple(x) for x in rows)

    store_obj = run_rules.build_store(spark, _metric_cfg(store, snapshot=True))
    if req["kind"] == "instant":
        df = pq_mod.promql(store_obj, req["query"])
    else:
        df = pq_mod.query_range(store_obj, req["query"], req["start"],
                                req["end"], step=req["step"])
    with r.tr.span("promql.exec"):
        rows = df.collect()
    if out is not None:
        out["rows"] = out.get("rows", 0) + len(rows)
        for st in store_obj.pruning_stats.values():
            out["opened"] = out.get("opened", 0) + st.get("files_opened", 0)
            out["pruned"] = out.get("pruned", 0) + st.get("files_pruned", 0)
    return _digest(tuple(x) for x in rows)


def eager_store(r: Run, store: str):
    """An eager, unpruned MetricStore over the parquet tier tables."""
    from workbook_exporter_fe_spark.plans import promql as pq_mod

    eager = pq_mod.MetricStore()
    for m in _metric_cfg(store, snapshot=False)["metrics"]:
        eager.register(m["name"], r.spark.read.parquet(m["table"]),
                       labels=("source",), ts_col="bucket_ts",
                       value_col="sum_v")
    return eager


def oracle_digest(r: Run, req: dict, store: str, eager) -> str:
    """The same request on the eager, unpruned store (or, for a panel, the
    same fill + LTTB over tier-1 rows instead of decoded chunks)."""
    from pyspark.sql import functions as F

    from workbook_exporter_fe_spark.operators import downsample, gapfill
    from workbook_exporter_fe_spark.plans import promql as pq_mod

    if req["kind"] == "panel":
        t1 = r.spark.read.parquet(os.path.join(store, "tier1")).filter(
            (F.col("source") == req["source"])
            & (F.date_trunc("day", "bucket_ts") == F.lit(req["day"]))
        ).select("source", F.col("bucket_ts").cast("timestamp"), "avg_v")
        dense = gapfill.densify(t1, "1m", ["avg_v"])
        filled = gapfill.fill_segmented(dense, {"avg_fill": "interp"})
        rows = downsample.lttb(
            filled.select("source", "bucket_ts",
                          F.col("avg_fill").alias("avg_v")),
            r.p["lttb"]).collect()
        return _digest(tuple(x) for x in rows)
    if req["kind"] == "instant":
        df = pq_mod.promql(eager, req["query"])
    else:
        df = pq_mod.query_range(eager, req["query"], req["start"], req["end"],
                                step=req["step"])
    return _digest(tuple(x) for x in df.collect())


def run_query(r: Run) -> None:
    """One operation is a dashboard refresh: every request of the mix, in
    order, from a cold session (a dashboard opened after a restart).
    Afterwards every result is checked against the eager, unpruned
    evaluation."""
    t0 = time.perf_counter()
    store = restore(r, cache_paths(r.cache_dir, r.scale)[1])
    r.facts["store"] = store
    reqs = request_mix(r.seed, store)
    digests: dict = {q["rid"]: set() for q in reqs}
    r.setup_s += time.perf_counter() - t0

    samples = []
    facts: dict = {}
    start = time.perf_counter()
    while not samples or time.perf_counter() - start < r.seconds:
        t_cycle = time.perf_counter()
        for q in reqs:
            t = time.perf_counter()
            with r.tr.span(f"query.{q['kind']}", rid=q["rid"]):
                digests[q["rid"]].add(r.attempt(
                    lambda: serve(r, q, store, facts), f"request {q['rid']}"))
            samples.append({"rid": q["rid"], "latency": time.perf_counter() - t})
        r.op_latencies.append(time.perf_counter() - t_cycle)
    r.measured_s = time.perf_counter() - start
    r.items = len(samples)

    with r.tr.span("query.oracle"):
        eager = eager_store(r, store)
        for q in reqs:
            r.attempt(lambda: check(
                digests[q["rid"]] == {oracle_digest(r, q, store, eager)},
                "digest differs from the eager unpruned evaluation"),
                f"check request {q['rid']} ({q['kind']})")
    r.facts.update(samples=samples, **facts)


WORKLOADS = {"ingest": run_ingest, "query": run_query}


# ------------------------------------------------------------ metrics


def store_bytes(store: str) -> int:
    total = 0
    for part in STORE_PARTS:
        for d, _, names in os.walk(os.path.join(store, part)):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def tier1_points(store: str) -> int:
    return pq.ParquetDataset(os.path.join(store, "tier1")).read(
        columns=["cnt"]).num_rows


def live_files(spark, store: str) -> int:
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    return sum(
        len(SnapshotTable(spark, os.path.join(store, "snapshot_tiers", t))
            .snapshot()["files"])
        for t in TIERS
    )


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    if not xs:
        return 0.0
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q * 100))
