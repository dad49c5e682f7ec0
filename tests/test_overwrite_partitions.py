"""Dynamic partition overwrite (SnapshotTable.overwrite_partitions, r5)
and the O(delta) incremental tier publish built on it.

Pins: exact tuple-scoped replacement (ALL spec fields must match — a
day replaced under one source never touches another source's same-day
partition), metadata-only retirement (carried files by reference),
pure-append behavior for brand-new partitions, the predates-spec
superset guard, changes() breaking loudly across the overwrite, and
publish_snapshot_tiers(changed=...) producing a table pinned equal to
a full republish while replacing only the batch's partitions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.sources.snapshots import (
    IncrementalScanBreak,
    SnapshotTable,
)

T0 = 1700006400  # 2023-11-15T00:00:00Z — midnight-aligned so the
DAY = 86400      # fixture's +3h intra-day offsets never cross a day


def _rows(spark, days, sources, v_base=0):
    n_d, n_s = len(days), len(sources)
    return (
        spark.range(n_d * n_s * 4)
        .select(
            F.element_at(
                F.array(*[F.lit(s) for s in sources]),
                (F.col("id") % n_s + 1).cast("int"),
            ).alias("source"),
            F.timestamp_seconds(
                F.element_at(
                    F.array(*[F.lit(T0 + d * DAY) for d in days]),
                    ((F.col("id") / n_s).cast("long") % n_d + 1).cast("int"),
                )
                + (F.col("id") / (n_s * n_d)).cast("long") * 3600
            ).alias("bucket_ts"),
            (F.col("id") + v_base).cast("double").alias("sum_v"),
        )
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.set_properties(**{"partition.spec": ["day(bucket_ts)", "source"]})
    t.commit(_rows(spark, range(6), ("s0", "s1")))
    return t


def test_replaces_exactly_touched_partitions(spark, table):
    before = table.snapshot()
    n_files_before = len(before["files"])
    # replace days 2-3 for s0 ONLY
    new = _rows(spark, (2, 3), ("s0",), v_base=100000)
    rep = table.overwrite_partitions(new)
    assert rep["partitions"] == 2 and rep["files_replaced"] == 2
    got = table.read()
    # s0 days 2-3 hold ONLY the new rows; everything else untouched
    old_in_window = got.filter(
        (F.col("source") == "s0")
        & (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(T0 + 2 * DAY)))
        & (F.col("bucket_ts") < F.timestamp_seconds(F.lit(T0 + 4 * DAY)))
        & (F.col("sum_v") < 100000)
    ).count()
    assert old_in_window == 0
    assert got.filter(F.col("sum_v") >= 100000).count() == new.count()
    # s1's same-day partitions survived (tuple match is ALL fields)
    assert got.filter(
        (F.col("source") == "s1")
        & (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(T0 + 2 * DAY)))
        & (F.col("bucket_ts") < F.timestamp_seconds(F.lit(T0 + 4 * DAY)))
    ).count() > 0
    # carried files are BY REFERENCE (same paths as the parent)
    after = table.snapshot()
    before_paths = {f["path"] for f in before["files"]}
    carried = [f for f in after["files"] if f["path"] in before_paths]
    assert len(carried) == n_files_before - 2
    s = after["summary"]
    assert s["dynamic_partition_overwrite"] and s["files_replaced"] == 2


def test_new_partitions_pure_append(spark, table):
    n_before = len(table.snapshot()["files"])
    rep = table.overwrite_partitions(
        _rows(spark, (10, 11), ("s0", "s1"), v_base=500000)
    )
    assert rep["files_replaced"] == 0 and rep["rows_replaced"] == 0
    assert len(table.snapshot()["files"]) == n_before + 4
    assert table.read().count() == 6 * 2 * 4 + 2 * 2 * 4


def test_requires_spec_and_tuples(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "flat"))
    t.commit(_rows(spark, (0,), ("s0",)))
    with pytest.raises(ValueError, match="partition.spec"):
        t.overwrite_partitions(_rows(spark, (0,), ("s0",)))
    # spec added AFTER data: files predate it → superset guard refuses
    t2 = SnapshotTable(spark, str(tmp_path / "late"))
    t2.commit(_rows(spark, (0, 1), ("s0",)))
    t2.set_properties(**{"partition.spec": ["day(bucket_ts)", "source"]})
    with pytest.raises(ValueError, match="predate the partition spec"):
        t2.overwrite_partitions(_rows(spark, (0,), ("s0",)))


def test_changes_breaks_across_overwrite(spark, table):
    seq0 = table.current_sequence()
    table.overwrite_partitions(_rows(spark, (1,), ("s0",), v_base=900000))
    with pytest.raises(IncrementalScanBreak):
        table.changes(seq0)


def test_incremental_publish_is_delta_scoped_and_equal(spark, tmp_path):
    """publish_snapshot_tiers(changed=batch): only the batch's
    (day, source) partitions are replaced, and the resulting store is
    row-identical to a FULL republish of the tier dir."""
    from workbook_exporter_fe_spark.plans.pipeline import (
        publish_snapshot_tiers,
    )

    out = str(tmp_path / "out")
    tier = _rows(spark, range(8), ("s0", "s1"))
    tier.write.parquet(f"{out}/tier1")
    info0 = publish_snapshot_tiers(spark, out, tier_names=("tier1",))
    files0 = info0["tier1"]["files"]
    # the "incremental batch" landed events for day 5, source s1 only —
    # simulate the pipeline's in-place tier merge with new values there
    updated = tier.withColumn(
        "sum_v",
        F.when(
            (F.col("source") == "s1")
            & (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(T0 + 5 * DAY)))
            & (F.col("bucket_ts") < F.timestamp_seconds(F.lit(T0 + 6 * DAY))),
            F.col("sum_v") + 1e6,
        ).otherwise(F.col("sum_v")),
    )
    import shutil

    shutil.rmtree(f"{out}/tier1")
    updated.write.parquet(f"{out}/tier1")
    batch = spark.createDataFrame(
        [("s1",)], "source string"
    ).select(
        "source",
        F.timestamp_seconds(F.lit(T0 + 5 * DAY + 1234)).alias("event_ts"),
    )
    info1 = publish_snapshot_tiers(
        spark, out, tier_names=("tier1",), changed=batch
    )
    assert info1["tier1"]["partitions_replaced"] == 1
    assert info1["tier1"]["files_replaced"] == 1
    t = SnapshotTable(spark, info1["tier1"]["root"])
    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, updated.collect()))
    assert got == want
    # file count stable: one partition swapped, everything else carried
    assert len(t.snapshot()["files"]) == files0


def test_incremental_publish_bucketed_spec_preserves_bucket_mates(
    spark, tmp_path
):
    """THE tuple-correctness pin: with spec [day(bucket_ts),
    bucket(2, source)] a partition holds MANY sources; a batch touching
    ONE source must republish the whole partition WITH its untouched
    bucket-mates' rows (a raw (source, day) delta filter would silently
    drop them). Result pinned equal to a full republish."""
    from workbook_exporter_fe_spark.plans.pipeline import (
        publish_snapshot_tiers,
    )

    out = str(tmp_path / "out")
    sources = tuple(f"s{i}" for i in range(8))
    tier = _rows(spark, range(4), sources)
    tier.write.parquet(f"{out}/tier1")
    spec = ("day(bucket_ts)", "bucket(2, source)")
    publish_snapshot_tiers(spark, out, tier_names=("tier1",), spec=spec)

    # batch touches s3 on day 2 only
    updated = tier.withColumn(
        "sum_v",
        F.when(
            (F.col("source") == "s3")
            & (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(T0 + 2 * DAY)))
            & (F.col("bucket_ts") < F.timestamp_seconds(F.lit(T0 + 3 * DAY))),
            F.col("sum_v") + 1e6,
        ).otherwise(F.col("sum_v")),
    )
    import shutil

    shutil.rmtree(f"{out}/tier1")
    updated.write.parquet(f"{out}/tier1")
    batch = spark.range(1).select(
        F.lit("s3").alias("source"),
        F.timestamp_seconds(F.lit(T0 + 2 * DAY + 60)).alias("event_ts"),
    )
    info = publish_snapshot_tiers(
        spark, out, tier_names=("tier1",), changed=batch, spec=spec
    )
    assert info["tier1"]["partitions_replaced"] == 1  # (day2, s3's bucket)
    t = SnapshotTable(spark, info["tier1"]["root"])
    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, updated.collect()))
    assert got == want  # bucket-mates on day 2 survived, s3 replaced


def _republish_after(spark, out, tier, updated, batch, spec):
    """Publish ``tier``, replace the tier dir with ``updated`` (the
    pipeline's in-place merge of ``batch``), publish again scoped to
    ``batch``; returns (publish info, rows served, rows in the tier)."""
    import shutil

    from workbook_exporter_fe_spark.plans.pipeline import (
        publish_snapshot_tiers,
    )

    tier.write.partitionBy("source").parquet(f"{out}/tier1")
    publish_snapshot_tiers(spark, out, tier_names=("tier1",), spec=spec)
    updated = updated.localCheckpoint()
    shutil.rmtree(f"{out}/tier1")
    updated.write.partitionBy("source").parquet(f"{out}/tier1")
    info = publish_snapshot_tiers(
        spark, out, tier_names=("tier1",), changed=batch, spec=spec
    )
    served = SnapshotTable(spark, info["tier1"]["root"]).read()
    want = spark.read.parquet(f"{out}/tier1")
    cols = sorted(want.columns)
    return (
        info,
        sorted(map(tuple, served.select(*cols).collect()), key=repr),
        sorted(map(tuple, want.select(*cols).collect()), key=repr),
    )


def test_incremental_publish_identity_ts_spec_republishes(spark, tmp_path):
    """--tier-partition-spec 'bucket_ts,source': the batch's RAW event
    time never equals a tier's floored bucket_ts, so a delta scoped by
    the identity tuple would miss every changed row. Only day()/month()
    fields of bucket_ts take the scoped path; this one republishes in
    full, and the serving store equals the tier."""
    spec = tuple("bucket_ts,source".split(","))
    tier = _rows(spark, range(3), ("s0", "s1"))
    hour = F.timestamp_seconds(F.lit(T0 + 2 * DAY + 3600))
    updated = tier.withColumn(
        "sum_v",
        F.when((F.col("source") == "s1") & (F.col("bucket_ts") == hour),
               F.col("sum_v") + 1e6).otherwise(F.col("sum_v")),
    )
    batch = spark.range(1).select(
        F.lit("s1").alias("source"),
        F.timestamp_seconds(F.lit(T0 + 2 * DAY + 3600 + 1234)).alias("event_ts"),
    )
    info, served, want = _republish_after(
        spark, str(tmp_path / "out"), tier, updated, batch, spec
    )
    assert "partitions_replaced" not in info["tier1"]  # full republish
    assert served == want


def test_incremental_publish_null_source_partition(spark, tmp_path):
    """A batch with a null-source event republishes the null-source
    partition: tuples match null-safely (a plain equi-join drops them)."""
    tier = _rows(spark, range(3), ("s0", None))
    day2 = (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(T0 + 2 * DAY))) & (
        F.col("bucket_ts") < F.timestamp_seconds(F.lit(T0 + 3 * DAY))
    )
    updated = tier.withColumn(
        "sum_v",
        F.when(F.col("source").isNull() & day2, F.col("sum_v") + 1e6)
        .otherwise(F.col("sum_v")),
    )
    batch = spark.range(1).select(
        F.lit(None).cast("string").alias("source"),
        F.timestamp_seconds(F.lit(T0 + 2 * DAY + 60)).alias("event_ts"),
    )
    info, served, want = _republish_after(
        spark, str(tmp_path / "out"), tier, updated, batch,
        ("day(bucket_ts)", "source"),
    )
    assert info["tier1"]["partitions_replaced"] == 1
    assert served == want
