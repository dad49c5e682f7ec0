"""TableIO seam: one API over Iceberg and hive-style-parquet backends.

SURVEY §7: no Iceberg runtime jar ships in this sandbox, so the engine
programs against this seam. With an Iceberg catalog configured
(`spark.sql.catalog.<name>` + runtime jar), reads/writes/merges go through
the Iceberg SQL surface (snapshot isolation, hidden partitioning, real
MERGE INTO); otherwise the parquet backend provides the same call shapes
with partitioned directories + one crash-safe staged swap
(operators/merge._swap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    try:
        jvm = spark._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class TableIO:
    """backend='auto' picks iceberg when the runtime jar is present."""

    def __init__(self, spark: SparkSession, backend: str = "auto"):
        self.spark = spark
        if backend == "auto":
            backend = "iceberg" if iceberg_available(spark) else "parquet"
        if backend not in ("iceberg", "parquet"):
            raise ValueError(backend)
        self.backend = backend

    # -- reads ------------------------------------------------------------
    def read(self, table_or_path: str) -> DataFrame:
        if self.backend == "iceberg":
            return self.spark.read.format("iceberg").load(table_or_path)
        return self.spark.read.parquet(table_or_path)

    # -- writes -----------------------------------------------------------
    def write(self, df: DataFrame, table_or_path: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        if self.backend == "iceberg":
            w = df.writeTo(table_or_path)
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            (w.createOrReplace() if mode == "overwrite" else w.append())
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(table_or_path)

    # -- merge-upsert -------------------------------------------------------
    def merge(self, new: DataFrame, table_or_path: str, keys: list[str]) -> None:
        if self.backend == "iceberg":
            view = "_merge_src"
            new.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            self.spark.sql(
                f"MERGE INTO {table_or_path} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            return
        from workbook_exporter_fe_spark.operators.merge import merge_upsert_path

        merge_upsert_path(self.spark, table_or_path, new, keys)

    # -- bucketed tables (co-located joins) ---------------------------------
    def write_bucketed(
        self,
        df: DataFrame,
        table_name: str,
        path: str,
        bucket_by: list[str],
        n_buckets: int,
        sort_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Bucketed external table: joins/aggregations on the bucket key
        read co-located files and skip the exchange entirely — the classic
        pre-shuffle for repeated big-big joins (e.g. sequences ⋈ dedup
        verdicts on doc_id at every pipeline run). On Iceberg this is
        hidden partitioning `bucket(N, col)`; on the parquet backend it is
        a Spark bucketed table with explicit file layout."""
        if self.backend == "iceberg":
            from pyspark.sql import functions as F

            # honour EVERY option the parquet path honours: all bucket
            # columns become bucket(N, col) transforms, sort_by becomes a
            # within-partition sort (DataFrameWriterV2 has no sortedBy; the
            # file-level order is what co-located join locality needs), and
            # mode maps to createOrReplace/append instead of silently
            # replacing.
            data = df.sortWithinPartitions(*sort_by) if sort_by else df
            w = data.writeTo(table_name).partitionedBy(
                F.bucket(n_buckets, F.col(bucket_by[0])),
                *[F.bucket(n_buckets, F.col(c)) for c in bucket_by[1:]],
            )
            if mode == "overwrite":
                w.createOrReplace()
            elif mode == "append":
                w.append()
            else:
                raise ValueError(f"unsupported mode for iceberg bucketed write: {mode!r}")
            return
        w = (
            df.write.mode(mode)
            .bucketBy(n_buckets, *bucket_by)
            .option("path", path)
        )
        if sort_by:
            w = w.sortBy(*sort_by)
        w.format("parquet").saveAsTable(table_name)

    def read_table(self, table_name: str) -> DataFrame:
        return self.spark.table(table_name)


def compact_partitions(
    spark: SparkSession, path: str, target_rows_per_file: int = 1_000_000,
    partition_col: str = "source", min_files: int = 2,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction for a hive-partitioned parquet tier table
    (a ``source=`` tier of an older store; the pipeline writes its tiers
    flat, one file or two per write, and a flat table is left as is).

    Incremental partition-scoped merges leave each touched partition with
    one more file per merge; at 100 TB the accumulated small files dominate
    scan open/seek cost ("small files problem"). This rewrites ONLY
    partitions holding ≥ ``min_files`` files down to
    ``ceil(rows / target_rows_per_file)`` files. All of them are replaced
    in one partition-scoped swap (operators/merge._swap), the crash-safe
    swap the merges use: an interrupted compaction rolls back on the next
    write, and untouched partitions keep their files byte-for-byte.
    On Iceberg this is `rewrite_data_files`; this is the hive-parquet
    fallback with the same contract. Returns
    {partition_value: (files_before, files_after)} for the log/manifest.
    """
    import math
    import os

    from workbook_exporter_fe_spark.operators.merge import _swap

    prefix = f"{partition_col}="
    report: dict[str, tuple[int, int]] = {}
    if not any(d.startswith(prefix) for d in os.listdir(path)):
        return report

    def write(staging):
        for dname in sorted(os.listdir(path)):
            if not dname.startswith(prefix):
                continue
            pdir = os.path.join(path, dname)
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if len(files) < min_files:
                continue
            part = spark.read.parquet(pdir)
            n_files = max(1, math.ceil(part.count() / target_rows_per_file))
            if n_files >= len(files):
                continue
            part.repartition(n_files).write.parquet(os.path.join(staging, dname))
            report[dname[len(prefix):]] = (len(files), n_files)

    _swap(path, write, scoped=True)
    return report


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
