"""Every SnapshotTable commit kind publishes through the one manifest
writer (``snapshots.commit_files``). One parametrized test runs each kind
on a segmented, partitioned table with a branch open — so main's head is
below ``max_sequence`` — and pins what every child manifest must satisfy:

- its segment refs cover exactly its resolved file list (entry and row
  counts), and every listed file is either inherited or written by it;
- ``total_rows`` equals ``read().count()`` while no equality delete is
  outstanding;
- every data file it writes carries its own sequence (``path_dseq``),
  which equality-delete applicability depends on.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import workbook_exporter_fe_spark.sources.snapshots as S
from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("p"), (F.col("id") % 3).cast("string")).alias("k"),
        (F.col("id") * 1.5).alias("v"),
    )


KINDS = {
    "append": lambda t, spark: t.commit(_batch(spark, 100, 110)),
    "overwrite": lambda t, spark: t.commit(
        _batch(spark, 100, 110), mode="overwrite"
    ),
    "branch_commit": lambda t, spark: t.commit(
        _batch(spark, 100, 110), branch="audit"
    ),
    "upsert_eq": lambda t, spark: t.upsert_eq(
        _batch(spark, 25, 35), ["id"]
    ),
    "overwrite_partitions": lambda t, spark: t.overwrite_partitions(
        _batch(spark, 0, 30).filter("k = 'p0'")
    ),
    "compact": lambda t, spark: t.compact(target_file_bytes=1 << 30),
    "delete_where_cow": lambda t, spark: t.delete_where("id = 3"),
    "delete_where_mor": lambda t, spark: t.delete_where("id < 5", mode="mor"),
    "delete_eq": lambda t, spark: t.delete_eq([7, 8], ["id"]),
    "update_where": lambda t, spark: t.update_where(
        "id < 4", {"v": "v + 1"}
    ),
    "merge_into": lambda t, spark: t.merge_into(
        _batch(spark, 25, 35), ["id"]
    ),
    "drop_partitions": lambda t, spark: t.drop_partitions("k", equals="p1"),
    "evolve": lambda t, spark: t.evolve(add={"extra": "double"}),
    "rollback": lambda t, spark: t.rollback(2),
}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_every_commit_kind_goes_through_one_writer(
    spark, tmp_path, monkeypatch, kind
):
    monkeypatch.setattr(S, "MANIFEST_INLINE_MAX", 4)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.set_properties(**{"partition.spec": ["k"]})
    for b in range(3):  # 3 files per commit: 9 > 4, segmented
        t.commit(_batch(spark, 10 * b, 10 * (b + 1)))
    t.branch("audit")
    t.commit(_batch(spark, 200, 205), branch="audit")
    assert S.max_sequence(t.root) > t.current_sequence()
    before = {
        f["path"]
        for n in os.listdir(t.meta)
        if n.startswith("snap-")
        for f in S.load_manifest(t.root, int(n[5:-5]))["files"]
    }

    KINDS[kind](t, spark)

    seq = t.branches()["audit"] if kind == "branch_commit" else (
        t.current_sequence()
    )
    assert seq == S.max_sequence(t.root)  # the commit took a new number
    raw = S.load_manifest_raw(t.root, seq)
    m = S.load_manifest(t.root, seq)
    paths = [f["path"] for f in m["files"]]
    assert len(set(paths)) == len(paths)
    assert all(os.path.exists(p) for p in paths)
    refs = raw.get("file_segments") or []
    inline = raw.get("files") or []
    assert sum(r["entries"] for r in refs) + len(inline) == len(paths)
    assert sum(r["rows"] for r in refs) + sum(f["rows"] for f in inline) == (
        sum(f["rows"] for f in m["files"])
    )
    if not any("eq_cols" in d for d in m.get("deletes") or []):
        assert m["total_rows"] == t.read(sequence=seq).count()
    written = [p for p in paths if p not in before]
    assert all(S.path_dseq(p) == seq for p in written), (seq, written)
