#!/usr/bin/env python
"""Measure the manifest metadata cost of micro-batch ingestion:
inline file lists vs file-list segments (sources/snapshots.py).

The quantity under test is pure METADATA work — no Spark session. Each
"commit" publishes 2 pre-written tiny parquet files through
``commit_files`` — the one manifest writer every commit goes through
(every SnapshotTable operation and the snapshot_log data source) —
staged into ``c{seq}-`` dirs so data-sequence parsing holds. Two modes over the same N commits:

- inline:    MANIFEST_INLINE_MAX = 10**9 (every manifest carries the
             whole file list — the pre-segments behavior)
- segments:  MANIFEST_INLINE_MAX = 64 (the default: per-commit delta
             segments, binary-counter merging)

Reported per mode: total wall, per-commit wall over the LAST 50 commits
(the steady state the inline form never reaches — its tail cost grows
linearly with table size), cumulative metadata bytes on disk, and the
head-manifest resolution time (the read-side price segments pay).

Usage: python scripts/bench_manifest_segments.py [--commits 600]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import workbook_exporter_fe_spark.sources.snapshots as S  # noqa: E402


def _template(path: str) -> None:
    pq.write_table(
        pa.table({"id": pa.array(range(50), pa.int64()),
                  "v": pa.array([float(i) for i in range(50)])}),
        path,
    )


SCHEMA_JSON = {
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
    ],
}


def run_mode(root: str, commits: int, files_per: int, tmpl: str) -> dict:
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    per_commit: list[float] = []
    t0 = time.perf_counter()
    for c in range(1, commits + 1):
        cdir = os.path.join(root, "data", f"c{c:08d}-bench")
        os.makedirs(cdir)
        paths = []
        for k in range(files_per):
            p = os.path.join(cdir, f"part-{k}.parquet")
            shutil.copyfile(tmpl, p)
            paths.append(p)
        t1 = time.perf_counter()
        S.commit_files(root, paths, SCHEMA_JSON)
        per_commit.append(time.perf_counter() - t1)
    wall = time.perf_counter() - t0
    meta = os.path.join(root, "metadata")
    meta_bytes = sum(
        os.path.getsize(os.path.join(meta, n)) for n in os.listdir(meta)
    )
    head_raw = S.load_manifest_raw(root, S.current_sequence(root))
    S._SEG_CACHE.clear()  # cold resolution, the honest read-side price
    t2 = time.perf_counter()
    m = S.load_manifest(root, S.current_sequence(root))
    resolve_ms = (time.perf_counter() - t2) * 1e3
    return {
        "commits": commits,
        "files": len(m["files"]),
        "total_wall_sec": round(wall, 3),
        "tail50_ms_per_commit": round(
            sum(per_commit[-50:]) / min(50, len(per_commit)) * 1e3, 3
        ),
        "head50_ms_per_commit": round(
            sum(per_commit[:50]) / min(50, len(per_commit)) * 1e3, 3
        ),
        "metadata_bytes": meta_bytes,
        "head_manifest_bytes": os.path.getsize(
            os.path.join(meta, f"snap-{m['sequence']:08d}.json")
        ),
        "segment_refs_at_head": len(head_raw.get("file_segments") or []),
        "resolve_head_ms": round(resolve_ms, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commits", type=int, default=600)
    ap.add_argument("--files-per-commit", type=int, default=2)
    args = ap.parse_args()
    base = tempfile.mkdtemp(prefix="bench_manifest_")
    tmpl = os.path.join(base, "template.parquet")
    _template(tmpl)
    out = {}
    for mode, inline_max in (("inline", 10**9), ("segments", 64)):
        S.MANIFEST_INLINE_MAX = inline_max
        root = os.path.join(base, mode)
        out[mode] = run_mode(
            root, args.commits, args.files_per_commit, tmpl
        )
    out["metadata_bytes_ratio"] = round(
        out["inline"]["metadata_bytes"] / out["segments"]["metadata_bytes"], 2
    )
    out["tail_commit_speedup"] = round(
        out["inline"]["tail50_ms_per_commit"]
        / out["segments"]["tail50_ms_per_commit"],
        2,
    )
    print(json.dumps(out, indent=1))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
