#!/usr/bin/env python3
"""Benchmark of the tier engine: one workload, one seed, one JSON result.

    python3 tierbench/run.py --workload ingest --seed 7 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It drives the
engine's public entry points from outside, on ``local[<cpus>]`` from one
process with one client. Workloads are described in ``workloads.py``.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics (``END_TO_END``); ``--trace 1`` wraps the engine's
entry points in spans, enables the Spark event log, and reports the
per-layer metrics (``layers.PER_LAYER``) instead. Spans are written to
``.tierbench/traces/``. The line before the result holds a host-load
probe taken before the JVM started, so a contended run is recognizable.

Everything the run writes stays under ``.tierbench/`` in the checkout:
per-run scratch (removed at exit), Spark local dirs, and the pristine
stores. The code under test builds those in a child process (this script
with ``--build-caches``) the first time a checkout needs them, before the
measured session starts; that time is not part of ``setup_s``. Runs in
one checkout must not overlap: a run holds ``.tierbench/lock`` and fails
at once if another run has it.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".tierbench")
PACKAGE = "workbook_exporter_fe_spark"

# (name, unit, better); what each means per workload is in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("stored_bytes_per_point", "B", "lower"),
]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_probe() -> dict:
    """Load average and the time of a fixed single-thread numpy task."""
    import numpy as np

    x = np.arange(1, 2_000_001, dtype=np.float64)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        float(np.sqrt(x).sum())
        times.append(time.perf_counter() - t)
    return {"load_1m": os.getloadavg()[0], "probe_ms": 1000 * sorted(times)[2],
            "cpus": cpus()}


def launch_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp"),
                     ("SPARK_GRAFT_WAREHOUSE", "warehouse")):
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path[:0] = [ROOT, HERE]


def start_spark(log_dir: str | None):
    """The session, with the Spark event log in ``log_dir`` if given."""
    from workbook_exporter_fe_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if log_dir:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="tierbench", cores=cpus(), extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full")
    ap.add_argument("--build-caches", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "pipeline.py")):
        print(f"tierbench: engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2

    if args.build_caches:
        # the parent run holds the lock and owns the working store
        run_id = f"caches-{args.scale}-{os.getpid()}"
        run_dir = os.path.join(WORK, "runs", run_id)
        os.makedirs(run_dir)
        try:
            return _build_caches(args, run_id, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("tierbench: another run holds .tierbench/lock; runs in one "
              "checkout must not overlap", file=sys.stderr)
        return 3
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, argv, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "store"), ignore_errors=True)
        lock.close()


def _build_caches(args, run_id: str, run_dir: str) -> int:
    """Build the pristine stores this code lacks, traced, so the per-layer
    figures of the cold build and of the dedup batch are kept beside them."""
    launch_env(run_dir)
    import layers
    import workloads
    from tracing import Tracer

    log_dir = os.path.join(run_dir, "eventlog")
    spark = start_spark(log_dir)
    tracer = Tracer(enabled=True, run_id=run_id)
    tracer.bind(spark)
    layers.install(tracer)
    r = workloads.Run(spark, tracer, run_dir, WORK, args.scale,
                      workloads.STORE_SEED, args.seconds)
    try:
        r.attempt(lambda: workloads.ensure_caches(r), "build the pristine stores")
    finally:
        tracer.unpatch()
        stop_spark(spark)
    for err in r.errors:
        print(f"tierbench: FAILED {err}", file=sys.stderr)
    if r.failed:
        return 1
    figures = {}
    if os.path.exists(build_json_path(args.scale)):
        with open(build_json_path(args.scale)) as f:
            figures = json.load(f)
    figures.update(layers.build_figures(tracer, log_dir, r.facts))
    with open(build_json_path(args.scale), "w") as f:
        json.dump(figures, f)
    return 0


def build_json_path(scale: str) -> str:
    import workloads

    return os.path.join(WORK, "cache",
                        f"build-{scale}-{workloads.code_digest()}.json")


def _run(args, argv, run_id: str, run_dir: str) -> int:
    launch_env(run_dir)
    import layers
    import workloads
    from tracing import Tracer

    cache_dir = os.path.join(WORK, "cache")
    cache_error = None
    if workloads.caches_missing(cache_dir, args.scale):
        # its output goes to stderr: the last stdout line is the result
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             *(sys.argv[1:] if argv is None else argv), "--build-caches"],
            stdout=sys.stderr)
        if child.returncode or workloads.caches_missing(cache_dir, args.scale):
            cache_error = f"build the pristine stores: exit code {child.returncode}"

    host = host_probe()
    print(json.dumps({"host": host}), flush=True)
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    log_dir = os.path.join(run_dir, "eventlog")
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_spark(log_dir if args.trace else None)
        tracer.bind(spark)
        spark.range(1).count()
    session_s = time.perf_counter() - t0

    r = workloads.Run(spark, tracer, run_dir, WORK, args.scale,
                      args.seed, args.seconds)
    try:
        if cache_error:
            r.attempted += 1
            r.failed += 1
            r.errors.append(cache_error)
        else:
            if args.trace:
                layers.install(tracer)
            workloads.WORKLOADS[args.workload](r)
        store = r.facts.get("store")
        points = workloads.tier1_points(store) if store else 0
        stored = workloads.store_bytes(store) if store else 0
        rss = jvm_peak_rss_mb(spark) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0
        if args.trace and store:
            r.facts["live_files"] = workloads.live_files(spark, store)
    finally:
        tracer.unpatch()
        stop_spark(spark)

    lat = r.op_latencies
    e2e = {
        "setup_s": session_s + r.setup_s,
        "op_p50_s": workloads.median(lat),
        "items_per_s": r.items / r.measured_s if r.measured_s else 0.0,
        "stored_bytes_per_point": stored / points if points else 0.0,
    }
    for err in r.errors:
        print(f"tierbench: FAILED {err}", file=sys.stderr)

    # op_p50_s of this code's untraced runs, per seed: the reference a
    # traced run of the same seed reports its overhead against
    untraced = os.path.join(WORK, "results", f"{args.workload}-{args.scale}-"
                            f"{workloads.code_digest()}.json")
    refs = {}
    if os.path.exists(untraced):
        with open(untraced) as f:
            refs = json.load(f)
    seed_refs = refs.setdefault(str(args.seed), [])
    if args.trace:
        base = layers.workload_figures(r)
        base.update({"host.load_1m": host["load_1m"],
                     "host.probe_ms": host["probe_ms"],
                     "session.peak_rss_mb": rss})
        if os.path.exists(build_json_path(args.scale)):
            with open(build_json_path(args.scale)) as f:
                base.update(json.load(f))
        if seed_refs and e2e["op_p50_s"]:
            base["trace.overhead_frac"] = (
                e2e["op_p50_s"] / workloads.median(seed_refs) - 1.0)
        values = layers.compute(r, tracer, log_dir, base)
        tracer.write(os.path.join(WORK, "traces", run_id + ".jsonl"))
        table = layers.PER_LAYER
    else:
        values = e2e
        if r.failed == 0 and e2e["op_p50_s"]:
            seed_refs.append(e2e["op_p50_s"])
            os.makedirs(os.path.dirname(untraced), exist_ok=True)
            with open(untraced, "w") as f:
                json.dump(refs, f)
        table = END_TO_END
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit, *_ in table}
    correct = r.failed == 0 and r.attempted > 0
    print(json.dumps({"correct": correct, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
