"""Per-layer figures of a traced run, named by engine module.

Spans come from ``trace.Tracer``; Spark work (jobs, tasks, shuffle, spill,
GC) is attributed to a span through the job group it set. A figure of a
layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os

from tracing import EventLog, idle_time, task_skew
from workloads import median, pct

PER_LAYER = [
    # (name, unit, better, the end-to-end metric and workload it moves)
    ("session.start_s", "s", "lower",
     "setup_s, both"),
    ("session.peak_rss_mb", "MB", "lower",
     "none: driver JVM plus Python driver, too GC-timing-dependent to bound"),
    ("pipeline.run_s", "s", "lower",
     "build_points_per_s, seeded-store build"),
    ("pipeline.run_incremental_s", "s", "lower",
     "op_p50_s, ingest"),
    ("pipeline.publish_s", "s", "lower",
     "op_p50_s, ingest"),
    ("pipeline.spark_jobs_per_batch", "count", "lower",
     "op_p50_s, ingest"),
    ("pipeline.driver_gap_s", "s", "lower",
     "op_p50_s, ingest"),
    ("eventize.stage_s", "s", "lower",
     "build_points_per_s, seeded-store build"),
    ("eventize.task_skew", "ratio", "lower",
     "build_points_per_s, seeded-store build"),
    ("tiers.tier1_stage_s", "s", "lower",
     "build_points_per_s, seeded-store build"),
    ("tiers.reagg_stage_s", "s", "lower",
     "build_points_per_s, seeded-store build"),
    ("tiers.shuffle_write_bytes", "B", "lower",
     "build_points_per_s, seeded-store build"),
    ("tiers.task_skew", "ratio", "lower",
     "build_points_per_s, seeded-store build"),
    ("merge.upsert_s", "s", "lower",
     "op_p50_s, ingest"),
    ("merge.additive_s", "s", "lower",
     "op_p50_s, ingest"),
    ("merge.bytes_rewritten", "B", "lower",
     "op_p50_s + stored_bytes_per_point, ingest"),
    ("merge.rewrite_amp", "ratio", "lower",
     "op_p50_s + stored_bytes_per_point, ingest: merge output bytes over "
     "the parquet bytes of the folded events"),
    ("codecs.encode_stage_s", "s", "lower",
     "op_p50_s, ingest"),
    ("codecs.decode_s", "s", "lower",
     "op_p50_s, query"),
    ("codecs.encode_ratio", "ratio", "lower",
     "stored_bytes_per_point, both"),
    ("snapshots.commit_s", "s", "lower",
     "op_p50_s, ingest"),
    ("snapshots.files_written", "count", "lower",
     "op_p50_s, ingest"),
    ("snapshots.metadata_bytes", "B", "lower",
     "op_p50_s, ingest"),
    ("snapshots.live_files", "count", "lower",
     "op_p50_s, query"),
    ("snapshots.read_plan_s", "s", "lower",
     "op_p50_s, query"),
    ("snapshots.files_opened", "count", "lower",
     "op_p50_s, query"),
    ("snapshots.prune_ratio", "ratio", "higher",
     "op_p50_s, query"),
    ("promql.parse_s", "s", "lower",
     "op_p50_s, query"),
    ("promql.plan_s", "s", "lower",
     "op_p50_s, query"),
    ("promql.spark_jobs_per_query", "count", "lower",
     "op_p50_s, query"),
    ("promql.exec_s", "s", "lower",
     "op_p50_s, query"),
    ("promql.rows_scanned_per_row_returned", "ratio", "lower",
     "op_p50_s, query"),
    ("query.instant_s", "s", "lower",
     "op_p50_s, query"),
    ("query.range_short_s", "s", "lower",
     "op_p50_s, query"),
    ("query.range_long_s", "s", "lower",
     "op_p50_s, query"),
    ("query.panel_s", "s", "lower",
     "op_p50_s, query"),
    ("gapfill.fill_ratio", "ratio", "lower",
     "op_p50_s, query"),
    ("dedup.add_batch_s", "s", "lower",
     "dedup_docs_per_s, pristine-store build"),
    ("dedup.keep_s", "s", "lower",
     "dedup_docs_per_s, pristine-store build"),
    ("dedup.shuffle_write_bytes", "B", "lower",
     "dedup_docs_per_s, pristine-store build"),
    ("dedup.candidate_pairs_per_doc", "ratio", "lower",
     "dedup_docs_per_s, pristine-store build"),
    ("dedup.verified_frac", "ratio", "higher",
     "dedup_docs_per_s, pristine-store build"),
    ("spark.executor_cpu_s", "s", "lower",
     "op_p50_s, both"),
    ("spark.gc_s", "s", "lower",
     "op_p50_s, both"),
    ("spark.spill_bytes", "B", "lower",
     "op_p50_s, both"),
    ("spark.tasks", "count", "lower",
     "op_p50_s, both"),
    ("spark.scheduler_delay_s", "s", "lower",
     "op_p50_s, both"),
    # the workload-level figures, from the traced run
    ("build_points_per_s", "1/s", "higher",
     "none: the cold build of the pristine stores, once per code version"),
    ("ingest_batch_p50_s", "s", "lower",
     "op_p50_s, ingest"),
    ("ingest_events_per_s", "1/s", "higher",
     "items_per_s, ingest"),
    ("dedup_docs_per_s", "1/s", "higher",
     "none: one batch's dedup, once per code version"),
    ("query_p50_s", "s", "lower",
     "op_p50_s, query"),
    ("query_p90_s", "s", "lower",
     "op_p50_s, query"),
    ("query_per_s", "1/s", "higher",
     "items_per_s, query"),
    ("error_rate", "ratio", "lower",
     "correct, both"),
    ("host.load_1m", "count", "lower",
     "none: flags a contended run"),
    ("host.probe_ms", "ms", "lower",
     "none: flags a contended run"),
    ("trace.spans", "count", "lower",
     "none"),
    ("trace.overhead_frac", "ratio", "lower",
     "none: traced op_p50_s over the median untraced op_p50_s of the same "
     "seed and code, minus 1; 0 until such an untraced run exists"),
]

_BUILD_STAGE = {
    "t0_eventize": "eventize.stage",
    "tier1_1m": "tiers.tier1_stage",
    "tier2_1h": "tiers.reagg_stage",
    "tier3_1d": "tiers.reagg_stage",
}


def install(tracer) -> None:
    """Wrap the engine's public entry points in spans, on the module or
    class each caller looks them up on."""
    from workbook_exporter_fe_spark.operators import dedup, merge
    from workbook_exporter_fe_spark.plans import pipeline, promql
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    TP = pipeline.TierPipeline
    tracer.patch(TP, "run_incremental", "pipeline.run_incremental")
    tracer.patch(TP, "_stage", lambda self, run_fp, stage, *a, **k:
                 _BUILD_STAGE.get(stage, "pipeline.stage"))
    upsert_name = (lambda spark, path, *a, **k: "codecs.encode_stage"
                   if path.rstrip("/").endswith("/chunks") else "merge.upsert")
    # run/run_incremental call the name bound in pipeline; the additive
    # merge calls the one bound in merge
    tracer.patch(pipeline, "merge_upsert_path", upsert_name)
    tracer.patch(merge, "merge_upsert_path", upsert_name)
    tracer.patch(merge, "merge_tier_additive_path", "merge.additive")
    tracer.patch(SnapshotTable, "commit", "snapshots.commit")
    tracer.patch(SnapshotTable, "overwrite_partitions", "snapshots.commit")
    tracer.patch(SnapshotTable, "read", "snapshots.read_plan")
    tracer.patch(promql, "parse", "promql.parse")
    tracer.patch(promql, "promql", "promql.promql")
    tracer.patch(promql, "query_range", "promql.query_range")
    tracer.patch(dedup.MinHashIndex, "add_batch", "dedup.add_batch")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _outermost(tracer, spans: list[dict], names: tuple) -> list[dict]:
    """The spans not nested in a span with one of ``names``."""
    by_id = {s["id"]: s for s in tracer.spans}
    out = []
    for s in spans:
        p, nested = s.get("parent"), False
        while p is not None:
            if by_id[p]["name"] in names:
                nested = True
                break
            p = by_id[p].get("parent")
        if not nested:
            out.append(s)
    return out


class _View:
    """Span-tree and event-log lookups over one tracer."""

    def __init__(self, tracer, ev: EventLog):
        self.tr, self.ev = tracer, ev

    def named(self, name: str) -> list[dict]:
        return [s for s in self.tr.spans if s["name"] == name]

    def subtree(self, roots) -> list[dict]:
        out = []
        for s in roots:
            out.append(s)
            out.extend(self.tr.descendants(s))
        return out

    def within(self, roots, name: str) -> list[dict]:
        return [s for s in self.subtree(roots) if s["name"] == name]

    def _groups(self, roots) -> set[str]:
        return {self.tr.group(s) for s in self.subtree(roots)}

    def tasks(self, roots) -> list[dict]:
        return self.ev.group_tasks(self._groups(roots))

    def jobs(self, roots) -> list[dict]:
        return self.ev.group_jobs(self._groups(roots))


def build_figures(tracer, log_dir: str, facts: dict) -> dict:
    """The figures of the cold full build and of the dedup batch, from the
    tracer that recorded the pristine-store build (``facts`` of its run);
    each only if that part was built."""
    v = _View(tracer, EventLog(log_dir))
    out = {}
    if "build_s" in facts:
        run = v.named("pipeline.run")[0]
        stage = lambda n: v.within([run], n)  # noqa: E731
        tier_spans = stage("tiers.tier1_stage") + stage("tiers.reagg_stage")
        tt = v.tasks(tier_spans)
        out.update({
            "pipeline.run_s": _dur(run),
            "eventize.stage_s": sum(map(_dur, stage("eventize.stage"))),
            "eventize.task_skew": task_skew(v.tasks(stage("eventize.stage"))),
            "tiers.tier1_stage_s": sum(map(_dur, stage("tiers.tier1_stage"))),
            "tiers.reagg_stage_s": sum(map(_dur, stage("tiers.reagg_stage"))),
            "tiers.shuffle_write_bytes": sum(t["shuffle_write"] for t in tt),
            "tiers.task_skew": task_skew(tt),
            "build_points_per_s": facts["base_points"] / facts["build_s"],
        })
    d = facts.get("dedup")
    if d:
        batch = v.named("dedup.batch")
        adds = v.within(batch, "dedup.add_batch")
        keeps = v.within(batch, "dedup.keep")
        out.update({
            "dedup.add_batch_s": sum(map(_dur, adds)),
            "dedup.keep_s": sum(map(_dur, keeps)),
            "dedup.shuffle_write_bytes": sum(
                t["shuffle_write"] for t in v.tasks(batch)),
            "dedup.candidate_pairs_per_doc": d["candidates"] / d["docs"],
            "dedup.verified_frac": (
                d["found"] / d["candidates"] if d["candidates"] else 0.0),
            "dedup_docs_per_s": d["docs"] / d["dedup_s"],
        })
    return out


def compute(r, tracer, log_dir: str, base: dict) -> dict:
    """Every PER_LAYER figure of run ``r``; ``base`` carries figures
    already known (workload level, host, the build's)."""
    v = _View(tracer, EventLog(log_dir))
    m = {row[0]: 0.0 for row in PER_LAYER}
    m.update({k: val for k, val in base.items() if k in m})

    session = v.named("session.start")
    if session:
        m["session.start_s"] = _dur(session[0])
    manifest = os.path.join(r.facts.get("store", ""), "_manifest", "manifest.jsonl")
    if os.path.exists(manifest):
        with open(manifest) as f:
            for line in f:
                e = json.loads(line)
                if e.get("stage") == "compress" and e.get("encode_ratio"):
                    m["codecs.encode_ratio"] = float(e["encode_ratio"])
    m["snapshots.live_files"] = r.facts.get("live_files", 0)

    batches = v.named("ingest.batch")
    if batches:
        n = len(batches)
        per = lambda name: [sum(map(_dur, v.within([b], name)))  # noqa: E731
                            for b in batches]
        m["pipeline.run_incremental_s"] = median(per("pipeline.run_incremental"))
        m["pipeline.publish_s"] = median(per("pipeline.publish"))
        m["codecs.encode_stage_s"] = median(per("codecs.encode_stage"))
        m["pipeline.spark_jobs_per_batch"] = len(v.jobs(batches)) / n
        m["pipeline.driver_gap_s"] = median(
            [idle_time(b, v.jobs([b])) for b in batches])
        # merge_tier_additive_path swaps through merge_upsert_path, so
        # merge.upsert_s includes the swaps inside merge.additive_s
        merges = v.within(batches, "merge.upsert")
        additive = v.within(batches, "merge.additive")
        m["merge.upsert_s"] = sum(map(_dur, merges)) / n
        m["merge.additive_s"] = sum(map(_dur, additive)) / n
        written = sum(t["bytes_written"] for t in v.tasks(
            _outermost(tracer, merges + additive, ("merge.upsert", "merge.additive"))))
        folded = sum(b["attrs"].get("bytes_folded", 0) for b in batches)
        m["merge.bytes_rewritten"] = written / n
        m["merge.rewrite_amp"] = written / folded if folded else 0.0
        commits = _outermost(tracer, v.within(batches, "snapshots.commit"),
                             ("snapshots.commit",))
        m["snapshots.commit_s"] = sum(map(_dur, commits)) / n
        bl = r.facts.get("batches", [])
        if bl:
            m["snapshots.files_written"] = median(
                [b.get("files_written", 0) for b in bl])
            m["snapshots.metadata_bytes"] = median(
                [b.get("metadata_bytes", 0) for b in bl])

    kinds = ("instant", "range_short", "range_long", "panel")
    reqs = [s for s in tracer.spans if s["name"] in {f"query.{k}" for k in kinds}]
    if reqs:
        for k in kinds:
            m[f"query.{k}_s"] = median(
                [_dur(s) for s in reqs if s["name"] == f"query.{k}"])
        execs = v.within(reqs, "promql.exec")
        n_prom = len(execs) or 1
        m["snapshots.read_plan_s"] = sum(
            map(_dur, v.within(reqs, "snapshots.read_plan"))) / n_prom
        m["promql.parse_s"] = sum(map(_dur, v.within(reqs, "promql.parse"))) / n_prom
        plan = 0.0
        for c in _outermost(tracer, v.within(reqs, "promql.promql"),
                            ("promql.promql",)):
            plan += _dur(c) - sum(
                _dur(d) for d in tracer.descendants(c)
                if d["name"] in ("snapshots.read_plan", "promql.parse"))
        m["promql.plan_s"] = plan / n_prom
        m["promql.exec_s"] = median(list(map(_dur, execs)))
        prom = [s for s in reqs if s["name"] != "query.panel"]
        m["promql.spark_jobs_per_query"] = len(v.jobs(prom)) / len(prom) if prom else 0.0
        rows = r.facts.get("rows", 0)
        scanned = sum(t["records_read"] for t in v.tasks(execs))
        m["promql.rows_scanned_per_row_returned"] = scanned / rows if rows else 0.0
        m["codecs.decode_s"] = median(list(map(_dur, v.within(reqs, "codecs.decode"))))
        opened, pruned = r.facts.get("opened", 0), r.facts.get("pruned", 0)
        n_range = sum(1 for s in reqs
                      if s["name"] in ("query.range_short", "query.range_long"))
        m["snapshots.files_opened"] = opened / n_range if n_range else 0.0
        m["snapshots.prune_ratio"] = (
            pruned / (opened + pruned) if opened + pruned else 0.0)
        panel_rows = r.facts.get("panel_rows", 0)
        m["gapfill.fill_ratio"] = (
            r.facts.get("filled_rows", 0) / panel_rows if panel_rows else 0.0)

    # Spark-wide, per measured operation
    ops = batches or reqs
    if ops:
        tt = v.tasks(ops)
        n = len(ops)
        m["spark.executor_cpu_s"] = sum(t["cpu_s"] for t in tt) / n
        m["spark.gc_s"] = sum(t["gc_s"] for t in tt) / n
        m["spark.spill_bytes"] = sum(t["spill"] for t in tt) / n
        m["spark.tasks"] = len(tt) / n
        m["spark.scheduler_delay_s"] = sum(t["sched_delay"] for t in tt) / n
    m["trace.spans"] = len(tracer.spans)
    return m


def workload_figures(r) -> dict:
    """The workload-level figures (0 where the workload has none)."""
    lat = r.op_latencies
    out = {"error_rate": r.failed / max(r.attempted, 1)}
    rate = r.items / r.measured_s if r.measured_s else 0.0
    if "batches" in r.facts:
        out["ingest_batch_p50_s"] = median(lat)
        out["ingest_events_per_s"] = rate
    if "samples" in r.facts:
        req = [s["latency"] for s in r.facts["samples"]]
        out["query_p50_s"] = median(req)
        out["query_p90_s"] = pct(req, 0.9)
        out["query_per_s"] = rate
    return out
