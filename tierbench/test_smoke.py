"""Toy-size smoke test of the benchmark harness.

    python3 -m pytest tierbench/test_smoke.py -q

Runs the harness from the checkout root, as a benchmark run does, at
``--scale toy`` (about six minutes: Spark start-up and per-stage costs
dominate at any size).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "tierbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, p.stdout.strip().splitlines()


def test_benchmark_json_names_match_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [row[:3] for row in layers.PER_LAYER]
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "query"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "tierbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _bench("--workload", "ingest", "--seed", "1", "--seconds", "1",
                       "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in out)


def test_overlapping_run_fails_fast():
    work = os.path.join(ROOT, ".tierbench")
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        code, out = _bench("--workload", "query", "--seed", "1", "--seconds",
                           "1", "--trace", "0", "--scale", "toy")
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in out)


def _result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    return res


@pytest.mark.parametrize("workload", ["ingest", "query"])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    code, out = _bench("--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", "0", "--scale", "toy")
    assert code == 0
    metrics = _result(out)["metrics"]
    assert list(metrics) == [name for name, _, _ in run.END_TO_END]
    for name, unit, _ in run.END_TO_END:
        assert metrics[name]["unit"] == unit
        assert metrics[name]["value"] > 0, name


def test_traced_run_writes_parented_spans_and_layer_metrics():
    code, out = _bench("--workload", "ingest", "--seed", "6", "--seconds", "1",
                       "--trace", "1", "--scale", "toy")
    assert code == 0
    metrics = _result(out)["metrics"]
    assert list(metrics) == [row[0] for row in layers.PER_LAYER]
    for key in ("pipeline.run_incremental_s", "merge.additive_s",
                "snapshots.commit_s", "dedup.add_batch_s", "spark.tasks",
                "ingest_batch_p50_s", "pipeline.run_s", "eventize.stage_s"):
        assert metrics[key]["value"] > 0, key
    traces = os.path.join(ROOT, ".tierbench", "traces")
    newest = max((os.path.join(traces, n) for n in os.listdir(traces)),
                 key=os.path.getmtime)
    with open(newest) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    children = [s for s in spans if s["parent"] is not None]
    assert children and all(s["parent"] in ids for s in children)
    assert {"ingest.batch", "pipeline.run_incremental", "merge.additive",
            "snapshots.commit"} <= {s["name"] for s in spans}
    assert all(s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans)
