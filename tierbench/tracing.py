"""In-memory spans around the engine's public entry points, attributed to
Spark jobs through job groups and the Spark event log.

A span is ``(id, name, parent, run_id, start, end, attrs)``. Entering a
span sets the Spark job group ``tb-<id>`` on the driver thread, so
every job the span (and no deeper span) submits carries the span's id in
the event log; leaving restores the parent's group. Spans stay in memory and
are written out once, when the run ends.

Untraced runs use the same code with ``Tracer(enabled=False)``: ``span``
still times the benchmark's own operations, but sets no job group, keeps
nothing, and no engine function is patched.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self.group(span), span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; when enabled, also record it as a span."""
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "attrs": attrs}
        if self.enabled:
            rec.update(
                id=len(self.spans),
                parent=self._stack[-1]["id"] if self._stack else None,
                run_id=self.run_id,
                wall_start=time.time(),
            )
            self.spans.append(rec)
            self._stack.append(rec)
            self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                rec["wall_end"] = time.time()
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)

    def patch(self, owner, attr: str, name) -> None:
        """Wrap ``owner.attr`` in a span. ``owner`` is the module or class
        the CALLER looks the name up on; ``name`` is a span name or a
        function of the call's arguments returning one."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            nm = name(*args, **kwargs) if callable(name) else name
            with self.span(nm):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def group(self, span: dict) -> str:
        return f"tb-{span['id']}"

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s.get("parent") == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s.get("parent") == pid:
                    out.append(s)
                    todo.append(s["id"])
        return out

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.children(span))
        return (span["end"] - span["start"]) - _covered(kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                row = {k: s.get(k) for k in
                       ("id", "name", "parent", "run_id", "start", "end")}
                row["attrs"] = s["attrs"]
                row["self_s"] = self.self_time(s)
                f.write(json.dumps(row, default=str) + "\n")


def _covered(intervals) -> float:
    """Total length of the union of sorted (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log


class EventLog:
    """Jobs and task metrics from a Spark JSON event log, keyed by the
    span's job group carried in each job's ``spark.jobGroup.id``."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        files = sorted(
            os.path.join(d, n) for d, _, names in os.walk(log_dir)
            for n in names if not n.startswith(("appstatus", "."))
        )
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        self.jobs[ev["Job ID"]] = {
                            "group": (ev.get("Properties") or {}).get(
                                "spark.jobGroup.id"),
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerJobEnd":
                        job = self.jobs.get(ev["Job ID"])
                        if job is not None:
                            job["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.append(_task_row(ev, stage_job))

    def group_jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def group_tasks(self, groups: set[str]) -> list[dict]:
        return [t for t in self.tasks
                if self.jobs.get(t["job"], {}).get("group") in groups]


def _task_row(ev: dict, stage_job: dict[int, int]) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
    run = m.get("Executor Run Time", 0) / 1000.0
    overhead = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
    ) / 1000.0
    getting = 0.0
    if info.get("Getting Result Time"):
        getting = max(info["Finish Time"] - info["Getting Result Time"], 0) / 1000.0
    return {
        "job": stage_job.get(ev.get("Stage ID")),
        "stage": ev.get("Stage ID"),
        "duration": dur,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "sched_delay": max(dur - run - overhead - getting, 0.0),
    }


def task_skew(tasks: list[dict]) -> float:
    """max / median task duration per stage, the worst stage's figure."""
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["duration"])
    worst = 0.0
    for durs in by_stage.values():
        if len(durs) < 2:
            continue
        med = statistics.median(durs)
        if med > 0:
            worst = max(worst, max(durs) / med)
    return worst


def idle_time(span: dict, jobs: list[dict]) -> float:
    """Seconds inside ``span`` (wall clock) with no Spark job running."""
    lo, hi = span["wall_start"], span["wall_end"]
    iv = sorted(
        (max(j["start"], lo), min(j["end"] or hi, hi)) for j in jobs
    )
    iv = [(a, b) for a, b in iv if b > a]
    return max((hi - lo) - _covered(iv), 0.0)
