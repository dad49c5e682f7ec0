"""Manifest file-list segments (sources/snapshots.py).

An append manifest that inlines the whole table file list costs
O(table-files) metadata per commit — O(files²) cumulative under
micro-batch ingestion. Above MANIFEST_INLINE_MAX entries the file list
moves into immutable segment files with binary-counter merging
(O(log files) refs per manifest, one segment write per commit), while
every reader keeps seeing the same resolved ``{"files": [...]}`` shape.
These tests pin the transition, the counter invariant, totals/deletes
accounting, incremental scans, GC, and branch commits on segmented logs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import workbook_exporter_fe_spark.sources.snapshots as S
from workbook_exporter_fe_spark.sources.snapshots import (
    SnapshotTable,
    load_manifest_raw,
)


@pytest.fixture
def tiny_inline(monkeypatch):
    """Force the segment path at test scale (4 inline entries max)."""
    monkeypatch.setattr(S, "MANIFEST_INLINE_MAX", 4)


def _batch(spark, b, rows=10):
    return spark.range(b * rows, (b + 1) * rows).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    )


def _commit_batches(spark, st, n, files_per=2, start=0):
    for b in range(start, start + n):
        st.commit(_batch(spark, b).repartition(files_per))


def _seg_files(st):
    return sorted(
        n for n in os.listdir(st.meta)
        if n.startswith("filelist-") and n.endswith(".json")
    )


def test_segment_transition_and_resolution(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 8, files_per=2)  # 16 files >> inline max 4
    raw = load_manifest_raw(st.root, st.current_sequence())
    assert "file_segments" in raw and "files" not in raw
    m = st.snapshot()  # resolved
    assert len(m["files"]) == 16
    assert m["total_rows"] == 80
    assert st.read().count() == 80
    assert st.read().agg(F.sum("id")).first()[0] == sum(range(80))
    # early snapshots below the threshold stayed inline (back-compat
    # form) and are still readable via time travel
    raw1 = load_manifest_raw(st.root, 1)
    assert "files" in raw1 and "file_segments" not in raw1
    assert st.read(sequence=2).count() == 20


def test_binary_counter_ref_invariant(spark, tmp_path, tiny_inline):
    """Equal-size batches ⇒ the ref list is the binary counter of the
    batch count: len(refs) == popcount(batches). Keeps manifests at
    O(log files) refs no matter how many commits land."""
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 1, files_per=3)  # 3 <= 4: inline
    assert "file_segments" not in load_manifest_raw(st.root, 1)
    for b in range(1, 10):
        st.commit(_batch(spark, b).repartition(3))
        raw = load_manifest_raw(st.root, st.current_sequence())
        refs = raw["file_segments"]
        assert len(refs) == bin(b + 1).count("1")
        assert sum(r["entries"] for r in refs) == 3 * (b + 1)
        # sizes strictly decrease toward the tail (geometric series)
        sizes = [r["entries"] for r in refs]
        assert sizes == sorted(sizes, reverse=True)
    assert st.read().count() == 100


def test_one_segment_write_per_commit(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 3, files_per=2)
    before = len(_seg_files(st))
    _commit_batches(spark, st, 1, files_per=2, start=3)
    assert len(_seg_files(st)) == before + 1  # merges fold in memory


def test_stats_pruning_and_blooms_on_segments(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    st.set_properties(**{"bloom.columns": ["k"]})
    for b in range(6):
        df = spark.range(b * 10, (b + 1) * 10).select(
            F.col("id"), F.lit(f"src{b}").alias("k")
        )
        st.commit(df.coalesce(1))
    assert "file_segments" in load_manifest_raw(st.root, st.current_sequence())
    # min/max pruning through the resolved manifest
    paths, pruned = st.scan_files(col_between={"id": (0, 9)})
    assert len(paths) == 1 and pruned == 5
    # bloom equality skipping carried through the segment entries
    _, pruned_eq = st.scan_files(col_eq={"k": "src3"})
    assert pruned_eq == 5
    assert st.read(col_eq={"k": "src3"}).count() == 10


def test_deletes_and_compaction_on_segments(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 6, files_per=1)  # 60 rows, 6 files
    st.delete_where("id < 15", mode="mor")  # position vector, MoR
    m = st.snapshot()
    assert m["total_rows"] == 45  # footer - attributed masks
    assert st.read().count() == 45
    st.delete_eq([20, 21], ["id"])
    assert st.read().count() == 43
    # upsert: eq-delete + append in one snapshot on a segmented log
    up = spark.createDataFrame([(30, 99), (1000, 7)], "id long, k long")
    st.upsert_eq(up, ["id"])
    got = {r["id"]: r["k"] for r in st.read().collect()}
    assert got[30] == 99 and got[1000] == 7 and len(got) == 44
    # compaction reads through every mask and retires the entries
    st.compact(target_file_bytes=1 << 30)
    m2 = st.snapshot()
    assert not m2.get("deletes")
    assert st.read().count() == 44
    assert {r["id"]: r["k"] for r in st.read().collect()} == got


def test_changes_across_segmented_appends(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 5, files_per=2)
    inc = st.changes(from_sequence=3)  # appends 4..5
    assert inc.count() == 20
    assert inc.agg(F.min("id")).first()[0] == 30


def test_segment_gc_after_expiry(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 8, files_per=2)
    all_segs = set(_seg_files(st))
    head_refs = {
        r["path"]
        for r in load_manifest_raw(st.root, st.current_sequence())[
            "file_segments"
        ]
    }
    assert head_refs < all_segs  # superseded merge inputs still on disk
    rep = st.expire_snapshots(keep_last=1)
    assert rep["expired_snapshots"] == 7
    # grace window protects fresh segments from the expire-path GC
    assert set(_seg_files(st)) == all_segs
    assert st._gc_segments(grace_sec=0.0) == len(all_segs - head_refs)
    assert set(_seg_files(st)) == head_refs
    assert st.read().count() == 80


def test_branch_commit_on_segmented_log(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 4, files_per=2)
    main_head = st.current_sequence()
    st.branch("audit")
    st.commit(_batch(spark, 100), branch="audit")
    assert st.current_sequence() == main_head  # main untouched
    assert st.read().count() == 40
    st.fast_forward("audit")
    assert st.read().count() == 50


def _refs(st, seq=None):
    raw = load_manifest_raw(st.root, seq or st.current_sequence())
    return [r["path"] for r in raw.get("file_segments") or []]


def test_metadata_only_commits_share_segments(spark, tmp_path, tiny_inline):
    """MoR/eq deletes, evolve, and rollback touch no data files — they
    must not re-serialize the file list either: the child manifest
    carries the parent's segment refs verbatim."""
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 6, files_per=2)
    parent_refs = _refs(st)
    segs_on_disk = _seg_files(st)

    st.delete_where("id < 5", mode="mor")
    assert _refs(st) == parent_refs
    st.delete_eq([7], ["id"])
    assert _refs(st) == parent_refs
    st.evolve(add={"extra": "double"})
    assert _refs(st) == parent_refs
    st.rollback(6)
    assert _refs(st) == parent_refs
    assert _seg_files(st) == segs_on_disk  # ZERO segment writes
    assert st.read().count() == 60  # rollback undid both deletes


def test_cow_rewrite_touches_one_segment(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    _commit_batches(spark, st, 8, files_per=2)
    parent_refs = set(_refs(st))
    before = len(_seg_files(st))
    st.delete_where("id = 3")  # CoW: one file holds id=3
    child_refs = set(_refs(st))
    # the untouched segments carry verbatim; at most the touched one is
    # filtered plus one tail segment for the rewrite output (tail
    # merging may fold those two)
    assert len(parent_refs & child_refs) >= len(parent_refs) - 2
    assert len(_seg_files(st)) - before <= 2
    assert st.read().count() == 79


def test_overwrite_large_goes_segmented(spark, tmp_path, tiny_inline):
    st = SnapshotTable(spark, str(tmp_path / "t"))
    st.commit(_batch(spark, 0).repartition(6), mode="overwrite")
    raw = load_manifest_raw(st.root, 1)
    assert "file_segments" in raw and len(raw["file_segments"]) == 1
    assert st.read().count() == 10


def test_segment_cache_eviction_is_thread_safe(tmp_path, monkeypatch):
    """Commits to different tables run on concurrent threads and read
    segments through one process-wide cache. 16 threads loading 64
    distinct segments through a two-entry cache, the interpreter
    switching threads every microsecond, each get their own entries and
    never fail an eviction."""
    import sys
    import threading

    meta = str(tmp_path)
    refs = [S._write_segment(meta, i, [{"path": f"f{i}", "rows": 1}])
            for i in range(64)]
    monkeypatch.setattr(S, "_SEG_CACHE", {})
    monkeypatch.setattr(S, "_SEG_CACHE_MAX", 2)
    errors: list = []

    def load(k):
        try:
            for r in range(200):
                i = (k * 7 + r) % len(refs)
                assert S._load_segment(meta, refs[i]) == [{"path": f"f{i}", "rows": 1}]
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=load, args=(k,)) for k in range(16)]
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
    assert errors == [] and len(S._SEG_CACHE) <= 2, errors[:3]
