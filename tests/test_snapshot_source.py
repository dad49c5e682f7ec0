"""snapshot_log Python Data Source: batch parity, pushdown pruning,
schema evolution through the source, and exactly-once streaming tail."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.sources import snapshot_source as ss
from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable


def _mk(spark, a, b):
    return spark.range(a, b).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 60)
        .cast("timestamp_ntz")
        .alias("bucket_ts"),
        (F.col("id") * 1.5).alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    ss.register(spark)
    st = SnapshotTable(spark, str(tmp_path / "tbl"))
    st.commit(_mk(spark, 0, 100).repartition(2))
    st.commit(_mk(spark, 100, 200).repartition(2))
    return st


def test_batch_read_matches_table(spark, table):
    got = spark.read.format("snapshot_log").load(table.root)
    want = table.read()
    # names+types must match; nullability intentionally differs (parquet
    # reads force nullable=True, the data source keeps the manifest's)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert sorted(r.k for r in got.collect()) == list(range(200))
    # time travel
    tt = (
        spark.read.format("snapshot_log")
        .option("sequence", 1)
        .load(table.root)
    )
    assert sorted(r.k for r in tt.collect()) == list(range(100))


def test_empty_table_read_raises(spark, tmp_path):
    ss.register(spark)
    SnapshotTable(spark, str(tmp_path / "empty"))
    with pytest.raises(Exception, match="no snapshots"):
        spark.read.format("snapshot_log").load(str(tmp_path / "empty")).count()


def test_pushdown_prunes_files(spark, table):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    schema = table.read().schema
    # reader-level: bounds derived from pushed filters prune whole files
    r = ss.SnapshotLogPushdownReader(table.root, schema, None, 65536)
    leftover = list(r.pushFilters([GreaterThanOrEqual(("k",), 150)]))
    assert len(leftover) == 1  # superset guard: Spark re-applies everything
    pruned = r.partitions()
    full = ss.SnapshotLogBatchReader(
        table.root, schema, None, 65536
    ).partitions()
    assert 0 < len(pruned) < len(full)
    # timestamp bounds prune too (stats stored as isoformat strings)
    import datetime

    r2 = ss.SnapshotLogPushdownReader(table.root, schema, None, 65536)
    list(
        r2.pushFilters(
            [LessThan(("bucket_ts",), datetime.datetime(1970, 1, 1, 0, 30))]
        )
    )
    assert len(r2.partitions()) < len(full)
    # end-to-end: pushdown read returns exactly the filtered rows
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    got = (
        spark.read.format("snapshot_log")
        .option("pushdown", "true")
        .load(table.root)
        .filter(F.col("k") >= 150)
    )
    assert sorted(r.k for r in got.collect()) == list(range(150, 200))


def test_evolve_resolves_through_source(spark, table):
    table.evolve(add={"tag": "string"})
    table.commit(
        _mk(spark, 200, 210).withColumn("tag", F.lit("new")), mode="append"
    )
    got = spark.read.format("snapshot_log").load(table.root)
    assert "tag" in got.columns
    assert got.filter(F.col("tag").isNull()).count() == 200  # old files
    assert got.filter(F.col("tag") == "new").count() == 10
    table.evolve(drop=["v"])
    assert "v" not in spark.read.format("snapshot_log").load(table.root).columns


def _run_available_now(spark, root, out, ckpt):
    q = (
        spark.readStream.format("snapshot_log")
        .load(root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_tail_exactly_once(spark, table, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_available_now(spark, table.root, out, ckpt)
    assert spark.read.parquet(out).count() == 200
    # compaction (replace snapshot) must be skipped; appends picked up
    table.compact(target_file_bytes=1 << 30)
    table.commit(_mk(spark, 200, 230))
    _run_available_now(spark, table.root, out, ckpt)
    got = spark.read.parquet(out)
    assert sorted(r.k for r in got.collect()) == list(range(230))
    # caught up: a third run adds nothing (exactly-once via offset log)
    _run_available_now(spark, table.root, out, ckpt)
    assert spark.read.parquet(out).count() == 230


def test_stream_rejects_history_rewrite(spark, table, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_available_now(spark, table.root, out, ckpt)
    table.commit(_mk(spark, 0, 10), mode="overwrite")
    with pytest.raises(Exception, match="not append"):
        _run_available_now(spark, table.root, out, ckpt)


def test_stream_lagging_behind_expiry_breaks_at_planning(
    spark, table, tmp_path
):
    """A stream whose checkpointed offset fell behind expire_snapshots
    fails when it plans the next batch, with the same
    IncrementalScanBreak as changes(), naming the expired snapshot."""
    from workbook_exporter_fe_spark.sources import snapshots

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_available_now(spark, table.root, out, ckpt)  # offset 2
    table.commit(_mk(spark, 200, 210))  # 3
    table.commit(_mk(spark, 210, 220))  # 4
    table.compact(target_file_bytes=1 << 30)  # 5
    table.expire_snapshots(keep_last=1)
    with pytest.raises(
        Exception, match=r"(?s)IncrementalScanBreak.*snapshot 4 was expired"
    ):
        _run_available_now(spark, table.root, out, ckpt)
    assert spark.read.parquet(out).count() == 200  # nothing half-read
    # appended files gone while their manifest survives: same break,
    # naming the snapshot that appended them
    table.commit(_mk(spark, 300, 310))  # 6
    table.commit(_mk(spark, 310, 320))  # 7
    gone = table.snapshot(7)["files"][-1]["path"]
    os.remove(gone)
    with pytest.raises(
        snapshots.IncrementalScanBreak, match="appended by snapshot 7"
    ):
        snapshots.appended_files(table.root, 5, 7)


def test_stream_starting_latest(spark, table, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("snapshot_log")
        .option("starting", "latest")
        .load(table.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # nothing before the stream started is consumed
    try:
        n = spark.read.parquet(out).count()
    except Exception:  # no files written at all
        n = 0
    assert n == 0
    table.commit(_mk(spark, 500, 520))
    _run_available_now(spark, table.root, out, ckpt)
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == list(
        range(500, 520)
    )


def test_stream_tier1_from_snapshot_log(spark, events, tmp_path):
    """The engine's own streaming front end over the snapshot_log source:
    tier-1 maintained by tailing the tier-0 SnapshotTable, buckets
    identical to the batch rollup for every finalized window."""
    from workbook_exporter_fe_spark.operators.tiers import rollup_tier1
    from workbook_exporter_fe_spark.streaming.stream_rollup import (
        stream_tiers_from_snapshot_log,
    )

    ev = events.select(
        "source", F.col("event_ts").cast("timestamp"), "v", "doc_id"
    )
    first, second = (
        ev.filter(F.dayofmonth("event_ts") % 2 == 0),
        ev.filter(F.dayofmonth("event_ts") % 2 == 1),
    )
    st = SnapshotTable(spark, str(tmp_path / "events_tbl"))
    st.commit(first)
    tier1 = str(tmp_path / "tier1")
    q = stream_tiers_from_snapshot_log(
        spark, st.root, tier1, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        st.commit(second)  # producer appends while the query runs
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(tier1)
    want = rollup_tier1(st.read())
    # append mode emits only watermark-finalized buckets: subset of the
    # batch rollup with identical values, and both appends were consumed
    assert got.exceptAll(want).count() == 0
    assert got.count() > 0
    assert got.select("source").distinct().count() == want.select(
        "source"
    ).distinct().count()


# ------------------------------------------------------------- write side


def test_batch_write_commits_snapshots(spark, tmp_path):
    ss.register(spark)
    root = str(tmp_path / "w")
    _mk(spark, 0, 100).repartition(3).write.format("snapshot_log").mode(
        "append"
    ).save(root)
    _mk(spark, 100, 150).write.format("snapshot_log").mode("append").save(
        root
    )
    st = SnapshotTable(spark, root)
    assert st.current_sequence() == 2
    assert sorted(r.k for r in st.read().collect()) == list(range(150))
    # footer stats were harvested: the manifest prunes like a commit()'d
    # table (changes() and scan() run unmodified on writer-made snapshots)
    assert st.changes(1).count() == 50
    paths, pruned = st.scan_files(col_between={"k": (140, None)})
    assert pruned > 0
    # overwrite starts a fresh file set; history keeps the old snapshot
    _mk(spark, 0, 10).write.format("snapshot_log").mode("overwrite").save(
        root
    )
    assert st.read().count() == 10
    assert st.read(sequence=2).count() == 150
    ops = [r.operation for r in st.history().collect()]
    assert ops == ["append", "append", "overwrite"]


def test_batch_write_append_schema_check(spark, tmp_path):
    ss.register(spark)
    root = str(tmp_path / "w")
    _mk(spark, 0, 10).write.format("snapshot_log").mode("append").save(root)
    with pytest.raises(Exception, match="unknown column"):
        spark.range(3).select(F.col("id").alias("zzz")).write.format(
            "snapshot_log"
        ).mode("append").save(root)
    # the failed write published nothing
    assert SnapshotTable(spark, root).current_sequence() == 1


def test_stream_write_snapshot_to_snapshot(spark, tmp_path):
    """Tail one SnapshotTable into another: snapshot_log on BOTH ends of
    a streaming query, exactly-once across reruns."""
    ss.register(spark)
    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst_root = str(tmp_path / "dst")
    src.commit(_mk(spark, 0, 40))
    src.commit(_mk(spark, 40, 80))

    def run():
        q = (
            spark.readStream.format("snapshot_log")
            .load(src.root)
            .writeStream.format("snapshot_log")
            .option("path", dst_root)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    dst = SnapshotTable(spark, dst_root)
    assert dst.read().count() == 80
    src.commit(_mk(spark, 80, 100))
    run()
    assert sorted(r.k for r in dst.read().collect()) == list(range(100))
    n_snaps = dst.current_sequence()
    run()  # caught up: no new snapshot, no new rows
    assert dst.current_sequence() == n_snaps
    assert dst.read().count() == 100
    # every dst snapshot is a stream append with its epoch recorded
    for seq in range(1, dst.current_sequence() + 1):
        s = dst.snapshot(seq)["summary"]
        assert s["writer"] == "snapshot_log_stream"
        assert "epoch" in s


def test_stream_writer_replay_detection_survives_restart(spark, tmp_path):
    """Replay identity is the stream_id (stable across restarts), never
    per-writer-instance state: a FRESH writer object replaying an epoch
    the old instance committed must skip it (the 'commit succeeded,
    checkpoint not advanced' crash window), and interleaved commits from
    other writers must not hide the epoch."""
    ss.register(spark)
    root = str(tmp_path / "tbl")
    schema = _mk(spark, 0, 1).schema
    w1 = ss.SnapshotLogStreamWriter(root, schema, stream_id="streamA")
    w1.commit([], batchId=0)
    w1.commit([], batchId=1)
    st = SnapshotTable(spark, root)
    assert st.current_sequence() == 2
    # restart: new writer object, SAME logical stream → epoch 1 replay
    w2 = ss.SnapshotLogStreamWriter(root, schema, stream_id="streamA")
    assert w2._already_committed(1)
    w2.commit([], batchId=1)
    assert st.current_sequence() == 2  # skipped, not re-committed
    # an interleaved non-stream commit must not hide the epoch
    st.commit(_mk(spark, 0, 5))
    w3 = ss.SnapshotLogStreamWriter(root, schema, stream_id="streamA")
    assert w3._already_committed(1)
    # a DIFFERENT stream (fresh checkpoint → epochs restart) is not a
    # replay: its epoch 0/1 must commit even though streamA used them
    w4 = ss.SnapshotLogStreamWriter(root, schema, stream_id="streamB")
    assert not w4._already_committed(0)
    w4.commit([], batchId=0)
    assert st.current_sequence() == 4


def test_stream_writer_derives_stable_id_from_checkpoint(spark, tmp_path):
    """streamWriter() keys replay identity on the checkpoint location —
    the one identity Spark guarantees constant across query restarts."""
    ss.register(spark)
    root = str(tmp_path / "tbl")
    _mk(spark, 0, 10).write.format("snapshot_log").mode("append").save(root)
    opts = {"path": root, "checkpointlocation": str(tmp_path / "ck")}
    mk = lambda o: ss.SnapshotLogDataSource(o).streamWriter(
        _mk(spark, 0, 1).schema, False
    )
    a, b = mk(dict(opts)), mk(dict(opts))
    assert a.stream_id and a.stream_id == b.stream_id
    c = mk({"path": root, "checkpointlocation": str(tmp_path / "ck2")})
    assert c.stream_id != a.stream_id
    d = mk({"path": root, "streamid": "explicit"})
    assert d.stream_id == "explicit"


def test_stream_writer_replay_scan_skips_expired(spark, tmp_path):
    """_already_committed scans back up to 64 manifests; after an
    expire_snapshots run most of those are deleted — holes must be
    skipped, not raised."""
    from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

    st = SnapshotTable(spark, str(tmp_path / "tbl"))
    for i in range(5):
        st.commit(
            _mk(spark, i * 10, (i + 1) * 10),
            summary={"writer": "snapshot_log_stream", "epoch": i,
                     "stream_id": "s1"},
        )
    st.expire_snapshots(keep_last=1)
    w = ss.SnapshotLogStreamWriter(st.root, st.read().schema, stream_id="s1")
    assert w._already_committed(4) is True
    w2 = ss.SnapshotLogStreamWriter(st.root, st.read().schema,
                                    stream_id="other")
    assert w2._already_committed(0) is False
