"""SnapshotTable: commits, time travel, rollback, stats pruning, GC.

The from-scratch Iceberg-style snapshot log (sources/snapshots.py) —
append/overwrite visibility, manifest-stats file pruning as a superset
guard, history/files metadata tables, optimistic-conflict detection and
physical expiry.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.sources.snapshots import (
    SnapshotConflict,
    SnapshotTable,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def _rows(df):
    return sorted((r["id"], r["tag"]) for r in df.collect())


def test_append_overwrite_time_travel(spark, table):
    assert table.current_sequence() == 0
    s1 = table.commit(_df(spark, 0, 10, "a"))
    s2 = table.commit(_df(spark, 10, 20, "b"))
    assert (s1, s2) == (1, 2)
    assert table.read().count() == 20
    assert _rows(table.read(sequence=1)) == _rows(_df(spark, 0, 10, "a"))
    s3 = table.commit(_df(spark, 100, 105, "c"), mode="overwrite")
    assert s3 == 3
    assert _rows(table.read()) == _rows(_df(spark, 100, 105, "c"))
    # time travel still sees the pre-overwrite union
    assert table.read(sequence=2).count() == 20
    assert table.snapshot()["total_rows"] == 5


def test_rollback_preserves_history(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    table.commit(_df(spark, 10, 20, "b"))
    table.commit(_df(spark, 100, 105, "c"), mode="overwrite")
    s4 = table.rollback(2)
    assert s4 == 4
    assert table.read().count() == 20
    hist = {r["sequence"]: r for r in table.history().collect()}
    assert hist[4]["operation"] == "rollback"
    assert hist[4]["is_current"] and not hist[3]["is_current"]
    # rollback re-references files; nothing was deleted
    assert table.read(sequence=3).count() == 5


def test_manifest_stats_prune_is_superset_guard(spark, table):
    # two commits with disjoint id ranges -> disjoint file-level min/max
    table.commit(_df(spark, 0, 1000, "lo").repartition(2))
    table.commit(_df(spark, 1000, 2000, "hi").repartition(2))
    all_paths, _ = table.scan_files()
    paths, pruned = table.scan_files(col_between={"id": (1500, 1600)})
    assert pruned >= 2  # the entire first commit's files drop out
    assert set(paths) < set(all_paths)
    got = (
        table.read(col_between={"id": (1500, 1600)})
        .filter((F.col("id") >= 1500) & (F.col("id") <= 1600))
    )
    want = table.read().filter((F.col("id") >= 1500) & (F.col("id") <= 1600))
    assert _rows(got) == _rows(want)
    # open-ended bound + a column with no stats entry never over-prunes
    paths2, _ = table.scan_files(col_between={"id": (None, 999)})
    assert set(paths2) < set(all_paths)
    paths3, pruned3 = table.scan_files(col_between={"nope": (0, 1)})
    assert pruned3 == 0 and set(paths3) == set(all_paths)


def test_prune_to_empty_returns_typed_empty_df(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    out = table.read(col_between={"id": (99999, 100000)})
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "tag"]


def test_files_metadata_table(spark, table):
    table.commit(_df(spark, 0, 100, "a").repartition(3))
    files = table.files().collect()
    assert sum(r["rows"] for r in files) == 100
    assert all(r["bytes"] > 0 and os.path.exists(r["path"]) for r in files)


def test_expire_snapshots_gc(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    table.commit(_df(spark, 100, 105, "b"), mode="overwrite")
    stats = table.expire_snapshots(keep_last=1)
    assert stats["expired_snapshots"] == 1
    assert stats["deleted_dirs"] == 1  # commit 1's dir is unreferenced
    assert table.read().count() == 5
    with pytest.raises(FileNotFoundError):
        table.read(sequence=1)


def test_commit_conflict_detected(spark, table):
    # with branch-era global sequence numbering, the lost-update guard
    # lives at the ref swap: a writer that derived from a stale main head
    # must lose, or the racing writer's published snapshot is orphaned
    from workbook_exporter_fe_spark.sources.snapshots import commit_files

    table.commit(_df(spark, 0, 10, "a"))
    stale_parent = table.current_sequence()
    table.commit(_df(spark, 10, 20, "b"))  # racing writer publishes
    d = str(table.data) + "/c_race"
    _df(spark, 20, 30, "c").write.parquet(d)
    paths = [os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")]
    with pytest.raises(SnapshotConflict):
        commit_files(
            table.root,
            paths,
            _df(spark, 20, 30, "c").schema.jsonValue(),
            parent=stale_parent,
            cleanup_dir=d,
        )
    # the loser cleaned up after itself and main is untouched
    assert not os.path.exists(d)
    assert table.read().count() == 20


# ---------------------------------------------------------------- changes()


def test_changes_incremental_append_scan(spark, table):
    from workbook_exporter_fe_spark.sources.snapshots import (
        IncrementalScanBreak,
    )

    table.commit(_df(spark, 0, 10, "a"))
    table.commit(_df(spark, 10, 20, "b"))
    table.commit(_df(spark, 20, 25, "c"))
    assert table.changes(0).count() == 25  # new-consumer full catch-up
    assert _rows(table.changes(1)) == _rows(
        _df(spark, 10, 20, "b").unionAll(_df(spark, 20, 25, "c"))
    )
    assert _rows(table.changes(2)) == _rows(_df(spark, 20, 25, "c"))
    caught_up = table.changes(3)
    assert caught_up.count() == 0
    assert [f.name for f in caught_up.schema.fields] == ["id", "tag"]
    with pytest.raises(ValueError):
        table.changes(99)
    # a history rewrite breaks incremental consumption, loudly
    table.commit(_df(spark, 0, 5, "d"), mode="overwrite")
    with pytest.raises(IncrementalScanBreak):
        table.changes(3)
    assert table.changes(4).count() == 0  # caught up AT the overwrite is fine


# --------------------------------------------- pipeline snapshot consumer


def _tiers_sorted(df):
    return [r.asDict() for r in df.orderBy("source", "bucket_ts").collect()]


def test_pipeline_consumes_snapshots_incrementally(spark, tmp_path):
    """Two snapshot appends consumed by run_from_snapshots must equal one
    full cascade bit-for-bit (additive refresh over the snapshot log),
    and a caught-up consumer must be a no-op returning None."""
    from pyspark.sql import functions as F

    from workbook_exporter_fe_spark.operators.eventize import eventize
    from workbook_exporter_fe_spark.plans.pipeline import TierPipeline
    from workbook_exporter_fe_spark.sources.datagen import gen_sequences

    seq = gen_sequences(spark, 2000, seed=7)
    ev = eventize(seq).select("source", "event_ts", "v", "doc_id")
    gate = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0

    full = TierPipeline(spark, str(tmp_path / "full")).run(seq, run_fp="rf")

    tbl = SnapshotTable(spark, str(tmp_path / "events_tbl"))
    out_dir = str(tmp_path / "inc")

    tbl.commit(ev.filter(gate))
    first = TierPipeline(spark, out_dir).run_from_snapshots(tbl)
    assert first is not None

    tbl.commit(ev.filter(~gate))
    # fresh pipeline instance: consumed-sequence state reloads from the
    # manifest, and only snapshot 2's files are read
    second = TierPipeline(spark, out_dir).run_from_snapshots(tbl)
    assert second is not None

    for tier in ("tier1", "tier2", "tier3"):
        cols = ["source", "bucket_ts", "sum_v", "min_v", "max_v", "cnt"]
        assert _tiers_sorted(second[tier].select(*cols)) == _tiers_sorted(
            full[tier].select(*cols)
        ), f"{tier} diverged"

    # caught up -> no-op heartbeat
    assert TierPipeline(spark, out_dir).run_from_snapshots(tbl) is None


# ------------------------------------------------------------- compact()


def test_compact_replace_snapshot(spark, table):
    for lo in range(0, 30, 10):
        table.commit(_df(spark, lo, lo + 10, "t"))
    before = _rows(table.read())
    n_files_before = len(table.snapshot()["files"])
    assert n_files_before >= 3
    s = table.compact()  # default target >> test data: one output file
    assert s == 4
    m = table.snapshot()
    assert m["operation"] == "replace"
    assert len(m["files"]) < n_files_before
    assert _rows(table.read()) == before  # row set identical
    assert table.read(sequence=3).count() == 30  # time travel intact
    # compacting an already-compact table is a no-op, no new snapshot
    assert table.compact() == 4
    assert table.current_sequence() == 4


def test_changes_skips_compaction(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    table.commit(_df(spark, 10, 20, "b"))
    table.compact()  # seq 3: replace
    table.commit(_df(spark, 20, 25, "c"))  # seq 4
    # consumer at seq 1 crosses the compaction: sees b + c, not the
    # rewritten copies of a/b
    assert _rows(table.changes(1)) == _rows(
        _df(spark, 10, 20, "b").unionAll(_df(spark, 20, 25, "c"))
    )
    # new consumer full catch-up still sees every row exactly once
    assert table.changes(0).count() == 25
    # caught up AT the compaction: only the replace in range -> empty
    assert table.changes(2, 3).count() == 0


def test_sorted_compaction_restores_stats_pruning(spark, table):
    """Interleaved appends leave every file spanning the full id range
    (stats pruning useless); compact(sort_by=['id']) range-clusters the
    rewrite so narrow scans skip most files again."""
    for i in range(4):
        # each commit covers the WHOLE id range, 2 files apiece
        table.commit(
            _df(spark, 0, 4000, "t")
            .filter(F.pmod("id", F.lit(4)) == i)
            .repartition(2)
        )
    before = _rows(table.read())
    _, pruned0 = table.scan_files(col_between={"id": (100, 200)})
    assert pruned0 == 0  # every file overlaps [100, 200]
    total = sum(f["bytes"] for f in table.snapshot()["files"])
    table.compact(target_file_bytes=total // 4, sort_by=["id"])
    assert table.snapshot()["operation"] == "replace"
    assert _rows(table.read()) == before
    kept, pruned1 = table.scan_files(col_between={"id": (100, 200)})
    assert len(table.snapshot()["files"]) >= 3 and pruned1 >= 1
    got = table.read(col_between={"id": (100, 200)}).filter(
        (F.col("id") >= 100) & (F.col("id") <= 200)
    )
    assert got.count() == 101  # pruning stayed a superset guard


def test_compact_loses_race_with_concurrent_append(spark, table):
    """A replace derived from snapshot N must refuse to land once the
    table advanced past N — committing it would silently erase the
    concurrent append's rows from the current snapshot."""
    table.commit(_df(spark, 0, 10, "a"))
    table.commit(_df(spark, 10, 20, "b"))
    write_data = table._write_data

    def racing_write(df, commit_dir, distribute=True):
        write_data(df, commit_dir, distribute)  # the compaction output
        table._write_data = write_data
        table.commit(_df(spark, 20, 25, "c"))  # the race winner

    table._write_data = racing_write
    with pytest.raises(SnapshotConflict):
        table.compact(target_file_bytes=1 << 30)
    assert table.read().count() == 25  # nothing was erased
    assert table.snapshot()["operation"] == "append"


def test_manifest_creation_is_exclusive(spark, table, monkeypatch):
    """A manifest that lands under the allocated sequence between
    allocation and publication wins: the late writer raises
    SnapshotConflict, removes its data dir, leaves the winner's bytes
    alone and does not move the hint."""
    import workbook_exporter_fe_spark.sources.snapshots as S

    table.commit(_df(spark, 0, 10, "a"))
    d = str(table.data) + "/c_race"
    _df(spark, 10, 20, "b").write.parquet(d)
    paths = [os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")]
    winner = b'{"sequence": 2, "written_by": "competitor"}'
    allocated: list[str] = []
    max_sequence, current_sequence = S.max_sequence, S.current_sequence

    def allocate(root):
        n = max_sequence(root)
        allocated.append(os.path.join(root, "metadata", f"snap-{n + 1:08d}.json"))
        return n

    def racing_head(root):
        if allocated and not os.path.exists(allocated[0]):
            with open(allocated[0], "wb") as f:
                f.write(winner)
        return current_sequence(root)

    monkeypatch.setattr(S, "max_sequence", allocate)
    monkeypatch.setattr(S, "current_sequence", racing_head)
    with pytest.raises(SnapshotConflict):
        S.commit_files(
            table.root,
            paths,
            _df(spark, 10, 20, "b").schema.jsonValue(),
            parent=1,
            cleanup_dir=d,
        )
    monkeypatch.undo()
    with open(allocated[0], "rb") as f:
        assert f.read() == winner
    assert table.current_sequence() == 1
    assert not os.path.exists(d)
    assert table.read().count() == 10


def test_changes_breaks_on_expired_files(spark, table):
    from workbook_exporter_fe_spark.sources.snapshots import (
        IncrementalScanBreak,
    )

    table.commit(_df(spark, 0, 10, "a"))
    table.commit(_df(spark, 10, 20, "b"))
    table.compact()
    table.expire_snapshots(keep_last=1)  # drops the pre-compaction files
    with pytest.raises(IncrementalScanBreak):
        table.changes(1)  # appended files in range are gone
    assert table.read().count() == 20  # full read unaffected


# ------------------------------------------------------------- evolve()


def test_schema_evolution_add_and_drop(spark, table):
    from workbook_exporter_fe_spark.sources.snapshots import SchemaMismatch

    table.commit(_df(spark, 0, 10, "a"))
    # drift without evolve fails loudly
    widened = _df(spark, 10, 20, "b").withColumn("score", F.lit(1.5))
    with pytest.raises(SchemaMismatch):
        table.commit(widened)
    with pytest.raises(SchemaMismatch):
        table.commit(_df(spark, 10, 20, "b").withColumn("id", F.lit("x")))
    table.evolve(add={"score": "double"})
    table.commit(widened)  # new producer
    table.commit(_df(spark, 20, 25, "c"))  # OLD producer still accepted
    cur = table.read()
    assert set(cur.columns) == {"id", "tag", "score"}
    assert cur.count() == 25
    # old files null-fill; the omitted-column append too
    assert cur.filter(F.col("score").isNull()).count() == 15
    assert cur.filter(F.col("score") == 1.5).count() == 10
    # time travel sees the pre-evolution schema
    assert set(table.read(sequence=1).columns) == {"id", "tag"}
    # incremental consumer crossing the evolve sees ONE consistent shape
    ch = table.changes(1)
    assert set(ch.columns) == {"id", "tag", "score"}
    assert ch.count() == 15
    # drop projects away without rewriting anything
    n_files = len(table.snapshot()["files"])
    table.evolve(drop=["score"])
    assert set(table.read().columns) == {"id", "tag"}
    assert len(table.snapshot()["files"]) == n_files
    with pytest.raises(SchemaMismatch):
        table.commit(widened)  # 'score' is unknown again
    with pytest.raises(SchemaMismatch):
        table.evolve(drop=["nope"])
    with pytest.raises(SchemaMismatch):
        table.evolve(add={"id": "bigint"})


def test_evolve_is_metadata_only_for_consumers(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    seen = table.current_sequence()
    table.evolve(add={"w": "double"})
    assert table.snapshot()["operation"] == "evolve"
    assert table.changes(seen).count() == 0  # nothing new, no break
    table.commit(_df(spark, 10, 15, "b"))
    assert table.changes(seen).count() == 5


# ------------------------------------------------------------- tags + CDC


def test_tags_pin_read_and_survive_expiry(spark, tmp_path):
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    st = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(4):
        st.commit(spark.range(i * 10, (i + 1) * 10).selectExpr("id"))
    st.tag("v1", 2)
    assert st.tags() == {"v1": 2}
    assert st.resolve("v1") == 2
    assert st.read("v1").count() == 20  # tag resolves through snapshot()
    # expiry keeps the tagged snapshot readable
    rep = st.expire_snapshots(keep_last=1)
    assert rep["expired_snapshots"] == 2  # seqs 1 and 3; 2 is tagged, 4 head
    assert st.read("v1").count() == 20
    assert st.read().count() == 40
    import pytest

    with pytest.raises(ValueError, match="unknown ref"):
        st.resolve("nope")
    with pytest.raises(ValueError, match="no snapshot"):
        st.tag("bad", 99)
    st.delete_tag("v1")
    assert st.tags() == {}
    # retag a now-expired sequence fails loudly
    with pytest.raises(ValueError, match="expired"):
        st.tag("late", 1)


def test_row_diff_states(spark, tmp_path):
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    st = SnapshotTable(spark, str(tmp_path / "t"))
    st.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    st.tag("base")
    # overwrite: 1 unchanged, 2 updated, 3 deleted, 4 inserted
    st.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "id long, v string"
        ),
        mode="overwrite",
    )
    diff = {
        (r.id, r.v, r._op)
        for r in st.row_diff("base", keys=["id"]).collect()
    }
    assert diff == {(2, "B", "update_post"), (3, "c", "delete"),
                    (4, "d", "insert")}


# ------------------------------------------------- row-level CoW mutations


def _paths(table, seq=None):
    return {f["path"] for f in table.snapshot(seq)["files"]}


def test_delete_where_rewrites_only_touched_files(spark, table):
    # three appends = three file sets; the predicate matches rows in ONE
    table.commit(_df(spark, 0, 10, "a").coalesce(1))
    table.commit(_df(spark, 10, 20, "b").coalesce(1))
    table.commit(_df(spark, 20, 30, "c").coalesce(1))
    before = _paths(table)
    seq = table.delete_where(F.col("id").between(12, 14))
    assert seq == 4
    m = table.snapshot()
    assert m["operation"] == "delete"
    assert m["summary"]["rows_deleted"] == 3
    assert m["summary"]["files_rewritten"] == 1
    # untouched files carry over VERBATIM (CoW — same paths, no rewrite)
    carried = _paths(table) & before
    assert len(carried) == 2
    assert table.read().count() == 27
    assert table.read().filter(F.col("id").between(12, 14)).count() == 0
    # time travel still sees the deleted rows
    assert table.read(sequence=3).count() == 30


def test_delete_where_null_predicate_keeps_row(spark, table):
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "id long, tag string"
    )
    table.commit(df)
    table.delete_where(F.col("tag") == "x")  # NULL comparison -> keep
    assert sorted(r.id for r in table.read().collect()) == [2, 3]


def test_delete_where_no_match_is_noop(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    assert table.delete_where("id > 999") == 1
    assert table.current_sequence() == 1


def test_delete_where_stats_bounds_prune(spark, table):
    table.commit(_df(spark, 0, 10, "a").coalesce(1))
    table.commit(_df(spark, 1000, 1010, "b").coalesce(1))
    # bounds exclude the second file entirely: only file 1 is even scanned
    seq = table.delete_where(
        "id < 5", stats_bounds={"id": (None, 100)}
    )
    assert table.snapshot(seq)["summary"]["rows_deleted"] == 5
    assert table.read().count() == 15


def test_update_where_sees_old_row_and_preserves_count(spark, table):
    df = spark.createDataFrame(
        [(1, 10.0, 1.0), (2, 20.0, 2.0)], "id long, a double, b double"
    )
    table.commit(df)
    # swap-shaped assignment: both expressions must see the OLD row
    seq = table.update_where("id = 1", {"a": "b", "b": "a"})
    m = table.snapshot(seq)
    assert m["operation"] == "update"
    assert m["total_rows"] == 2
    got = {r.id: (r.a, r.b) for r in table.read().collect()}
    assert got == {1: (1.0, 10.0), 2: (20.0, 2.0)}


def test_update_where_rejects_type_change_and_unknown_column(spark, table):
    from workbook_exporter_fe_spark.sources.snapshots import SchemaMismatch

    table.commit(_df(spark, 0, 5, "a"))
    with pytest.raises(SchemaMismatch):
        table.update_where("id = 1", {"nope": F.lit(1)})
    with pytest.raises(SchemaMismatch):
        table.update_where("id = 1", {"id": F.lit("s")})


def test_merge_into_upsert(spark, table):
    table.commit(_df(spark, 0, 5, "a").coalesce(1))
    table.commit(_df(spark, 5, 10, "a").coalesce(1))
    before = _paths(table)
    src = spark.createDataFrame(
        [(3, "UPD"), (7, "UPD"), (100, "NEW")], "id long, tag string"
    )
    seq = table.merge_into(src, on=["id"])
    m = table.snapshot(seq)
    assert m["operation"] == "merge"
    assert m["summary"]["rows_matched"] == 2
    assert m["summary"]["rows_inserted"] == 1
    assert table.read().count() == 11
    got = {r.id: r.tag for r in table.read().collect()}
    assert got[3] == "UPD" and got[7] == "UPD" and got[100] == "NEW"
    assert got[0] == "a"
    # both files contained a match -> both rewritten, none carried
    assert not (_paths(table) & before)


def test_merge_into_touches_only_matching_files(spark, table):
    table.commit(_df(spark, 0, 5, "a").coalesce(1))
    table.commit(_df(spark, 5, 10, "b").coalesce(1))
    before = _paths(table)
    src = spark.createDataFrame([(2, "UPD")], "id long, tag string")
    table.merge_into(src, on=["id"], when_not_matched="ignore")
    assert len(_paths(table) & before) == 1  # second file carried verbatim
    assert {r.tag for r in table.read().filter("id = 2").collect()} == {"UPD"}


def test_merge_into_delete_matched(spark, table):
    table.commit(_df(spark, 0, 10, "a"))
    src = spark.createDataFrame(
        [(1, "x"), (4, "x")], "id long, tag string"
    )
    seq = table.merge_into(
        src, on=["id"], when_matched="delete", when_not_matched="ignore"
    )
    assert table.snapshot(seq)["total_rows"] == 8
    assert sorted(r.id for r in table.read().collect()) == [
        0, 2, 3, 5, 6, 7, 8, 9
    ]


def test_merge_into_rejects_duplicate_source_keys(spark, table):
    table.commit(_df(spark, 0, 5, "a"))
    src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        table.merge_into(src, on=["id"])


def test_merge_insert_only_when_no_matches(spark, table):
    table.commit(_df(spark, 0, 5, "a").coalesce(1))
    before = _paths(table)
    src = spark.createDataFrame([(50, "n")], "id long, tag string")
    seq = table.merge_into(src, on=["id"])
    assert table.snapshot(seq)["summary"]["rows_matched"] == 0
    assert table.snapshot(seq)["summary"]["rows_inserted"] == 1
    assert before <= _paths(table)  # nothing rewritten, file appended
    assert table.read().count() == 6


def test_changes_breaks_on_row_level_mutation(spark, table):
    from workbook_exporter_fe_spark.sources.snapshots import (
        IncrementalScanBreak,
    )

    table.commit(_df(spark, 0, 10, "a"))
    table.delete_where("id = 3")
    with pytest.raises(IncrementalScanBreak):
        table.changes(1)


def test_merge_source_extra_columns_project_away(spark, table):
    table.commit(_df(spark, 0, 5, "a"))
    src = spark.createDataFrame(
        [(2, "UPD", 99)], "id long, tag string, extra int"
    )
    table.merge_into(src, on=["id"], when_not_matched="ignore")
    assert {r.tag for r in table.read().filter("id = 2").collect()} == {"UPD"}
    assert "extra" not in table.read().columns


def test_as_of_timestamp_time_travel(spark, table):
    import time as _time

    table.commit(_df(spark, 0, 10, "a"))
    t_mid = _time.time()
    _time.sleep(0.05)
    table.commit(_df(spark, 10, 20, "b"))
    assert table.as_of(t_mid) == 1
    assert table.read(sequence=table.as_of(t_mid)).count() == 10
    assert table.as_of(_time.time()) == 2
    # ISO string (naive = UTC) far in the future resolves to head
    assert table.as_of("2200-01-01T00:00:00") == 2
    with pytest.raises(ValueError, match="no snapshot"):
        table.as_of(0)
