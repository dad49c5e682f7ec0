"""Training-data shard export (``write_shards``, used by
plans/corpus_pipeline.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    target_files: int | None = None,
    shuffle_seed: int | None = None,
    shuffle_key: str = "doc_id",
) -> None:
    """Training-data shard export: bounded-size parquet shards.

    Dataloaders want many same-sized shards, not one file per Spark task
    of whatever size the shuffle produced. `maxRecordsPerFile` caps rows
    per file JVM-side (the writer rolls files mid-task, no extra shuffle);
    ``target_files`` optionally repartitions first so shard count doesn't
    inherit upstream task count; ``sort_within`` orders rows inside each
    shard (e.g. by (source, doc_id) for deterministic replay) without a
    global sort. Composes with hive partitioning via ``partition_by``
    (e.g. the hash_split 'split' column → train/val/test directories).

    ``shuffle_seed`` is the deterministic GLOBAL shuffle dataloaders
    expect of pretraining shards: rows are hash-assigned to shards and
    ordered within each shard by ``xxhash64(key, seed)`` — a reproducible
    pseudo-random permutation that is a pure function of (key, seed),
    independent of upstream partitioning or cluster size, at the cost of
    one hash Exchange + per-shard sort (never a global sort). Requires
    ``target_files`` (the shard count is part of the permutation's
    definition) and excludes ``sort_within`` (the hash IS the order).
    A different seed per epoch reshuffles without touching the data.
    """
    out = df
    if shuffle_seed is not None:
        if sort_within:
            raise ValueError("shuffle_seed and sort_within are exclusive")
        if not target_files:
            raise ValueError("shuffle_seed requires target_files")
        h = F.xxhash64(F.col(shuffle_key), F.lit(int(shuffle_seed)))
        out = (
            out.withColumn("_shuffle", h)
            .repartition(target_files, F.col("_shuffle"))
            .sortWithinPartitions("_shuffle", shuffle_key)
            .drop("_shuffle")
        )
    elif target_files:
        out = out.repartition(target_files)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    w = out.write.mode("overwrite").option(
        "maxRecordsPerFile", int(max_records_per_file)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
