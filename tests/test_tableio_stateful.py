"""Shard export + stateful streaming operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.streaming.stateful import running_source_stats
from workbook_exporter_fe_spark.streaming.stream_rollup import EVENT_SCHEMA


def test_stateful_running_stats(spark, events, tmp_path):
    src = str(tmp_path / "ev")
    events.select("source", "event_ts", "v", "doc_id").write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        running_source_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_stats")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["source"]: r
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY total_events DESC) AS rn
                 FROM running_stats) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r["source"]: r
        for r in events.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for s, w in want.items():
        assert got[s]["total_events"] == w["n"]
        assert abs(got[s]["total_v"] - w["s"]) < 1e-6


def test_write_shards_bounds_and_roundtrip(spark, sequences, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from workbook_exporter_fe_spark.sources.tableio import write_shards

    out = str(tmp_path / "shards")
    df = sequences.select("source", "doc_id", "n_tok")
    write_shards(df, out, max_records_per_file=400, target_files=4,
                 sort_within=["source", "doc_id"])
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= 12  # 5000 rows / 400 cap, rolled within 4 tasks
    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= 400
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0

    # hive-partitioned by deterministic split → train/val/test dirs
    from workbook_exporter_fe_spark.operators.sampling import hash_split

    out2 = str(tmp_path / "shards_split")
    write_shards(
        hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}),
        out2,
        max_records_per_file=1000,
        partition_by=["split"],
    )
    import os

    assert {d for d in os.listdir(out2) if d.startswith("split=")} == {
        "split=train", "split=val", "split=test",
    }


def test_write_shards_deterministic_shuffle(spark, sequences, tmp_path):
    """shuffle_seed: a reproducible global permutation — identical file
    contents regardless of upstream partitioning, pseudo-random order
    (not the input order), different seed -> different permutation."""
    import glob

    import pyarrow.parquet as pq

    from workbook_exporter_fe_spark.sources.tableio import write_shards

    df = sequences.select("source", "doc_id", "n_tok")

    def run(src, out, seed):
        write_shards(src, out, max_records_per_file=10_000,
                     target_files=4, shuffle_seed=seed)
        order = []
        for f in sorted(glob.glob(f"{out}/part-*.parquet")):
            order.append(tuple(pq.read_table(f, columns=["doc_id"])
                               .column("doc_id").to_pylist()))
        return order

    a = run(df, str(tmp_path / "a"), seed=7)
    b = run(df.repartition(23), str(tmp_path / "b"), seed=7)
    assert a == b  # permutation is a pure function of (key, seed, n)
    assert len(a) == 4
    flat = [d for shard in a for d in shard]
    assert sorted(flat) == sorted(r.doc_id for r in df.select("doc_id").collect())
    assert flat != sorted(flat)  # actually shuffled
    c = run(df, str(tmp_path / "c"), seed=8)
    assert c != a  # new seed, new permutation

    import pytest

    with pytest.raises(ValueError, match="target_files"):
        write_shards(df, str(tmp_path / "d"), 100, shuffle_seed=1)
    with pytest.raises(ValueError, match="exclusive"):
        write_shards(df, str(tmp_path / "d"), 100, target_files=2,
                     shuffle_seed=1, sort_within=["doc_id"])
