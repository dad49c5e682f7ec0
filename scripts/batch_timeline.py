#!/usr/bin/env python
"""Where an ingest batch's time goes: a timeline of its Spark jobs.

Builds a tier store from generated sequences (once per ``--out``, in a
child process, so the measured session starts cold), copies it, then
runs one ``TierPipeline.run_incremental`` batch of new documents and a
scoped ``publish_snapshot_tiers`` in a fresh session with the Spark
event log on. Prints one line per Spark job of the batch and the
publish: its start (seconds since the batch began), duration, task count
and the stage that ran it — the engine describes every stage's jobs by
the stage's name (``spark.job.description``); ``-`` marks a job outside
every stage, such as the batch probe.

Usage:
    python scripts/batch_timeline.py [--out /tmp/timeline] [--docs 600]
        [--batch-docs 200] [--seed 7] [--cores 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from workbook_exporter_fe_spark.operators.eventize import eventize  # noqa: E402
from workbook_exporter_fe_spark.plans.pipeline import (  # noqa: E402
    TierPipeline,
    publish_snapshot_tiers,
)
from workbook_exporter_fe_spark.session import get_spark  # noqa: E402
from workbook_exporter_fe_spark.sources.datagen import gen_sequences  # noqa: E402

#: the job group of each timed phase
PHASES = ("batch", "publish")


def build(args) -> None:
    """The store: a full run over ``--docs`` sequences, published."""
    spark = get_spark(app_name="timeline-build", cores=args.cores)
    store = os.path.join(args.out, "store")
    TierPipeline(spark, store).run(
        gen_sequences(spark, args.docs, seed=args.seed), run_fp="base")
    publish_snapshot_tiers(spark, store)
    spark.stop()


def measure(args) -> dict:
    """Run the batch and the publish on a copy of the store; returns
    each phase's wall time and the event log's dir."""
    run, log = os.path.join(args.out, "run"), os.path.join(args.out, "eventlog")
    for d in (run, log):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(os.path.join(args.out, "store"), run)
    os.makedirs(log)
    spark = get_spark(app_name="timeline", cores=args.cores, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log)}",
        "spark.eventLog.compress": "false",
    })
    batch = eventize(gen_sequences(spark, args.batch_docs, seed=args.seed + 1))
    batch = batch.select(
        "source", "event_ts", "v", F.concat("doc_id", F.lit("-batch")).alias("doc_id"))
    sc, wall = spark.sparkContext, {}
    for phase, fn in zip(PHASES, (
        lambda: TierPipeline(spark, run).run_incremental(batch, "batch"),
        lambda: publish_snapshot_tiers(spark, run, changed=batch),
    )):
        # the group only; the stages set the descriptions
        sc.setLocalProperty("spark.jobGroup.id", phase)
        t0 = time.time()
        fn()
        wall[phase] = (t0, time.time())
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    return {"wall": wall, "log": log}


def jobs(log: str) -> list[dict]:
    """The timed phases' jobs in the event log: id, phase, description,
    submission and completion time, and tasks run."""
    found, stage_job, tasks = {}, {}, {}
    for d, _, names in os.walk(log):
        for name in names:
            if name.startswith(("appstatus", ".")):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        if props.get("spark.jobGroup.id") not in PHASES:
                            continue
                        found[ev["Job ID"]] = {
                            "job": ev["Job ID"],
                            "phase": props["spark.jobGroup.id"],
                            "stage": props.get("spark.job.description") or "-",
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in found:
                        found[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        job = stage_job.get(ev.get("Stage ID"))
                        tasks[job] = tasks.get(job, 0) + 1
    for j in found.values():
        j["tasks"] = tasks.get(j["job"], 0)
    return sorted(found.values(), key=lambda j: (j["start"], j["job"]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default="/tmp/batch_timeline",
                    help="working dir: the built store, its copy, the event log")
    ap.add_argument("--docs", type=int, default=600, help="sequences in the store")
    ap.add_argument("--batch-docs", type=int, default=200,
                    help="sequences in the ingest batch")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--build", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    # Python workers, and the build's child process, import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if args.build:
        build(args)
        return
    if not os.path.isdir(os.path.join(args.out, "store")):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build",
                        *sys.argv[1:]], check=True)
    got = measure(args)
    t0 = got["wall"]["batch"][0]
    print(f"{'job':>4} {'phase':<8} {'start_s':>8} {'dur_s':>7} {'tasks':>5}  stage")
    for j in jobs(got["log"]):
        dur = "" if j["end"] is None else f"{j['end'] - j['start']:7.3f}"
        print(f"{j['job']:>4} {j['phase']:<8} {j['start'] - t0:8.3f} {dur:>7} "
              f"{j['tasks']:>5}  {j['stage']}")
    for phase, (a, b) in got["wall"].items():
        print(f"# {phase}: {b - a:.3f} s wall")


if __name__ == "__main__":
    main()
