"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~= cores (not 200), AQE + skew-join handling on, Arrow enabled
for the pandas-UDF codec path, UTC session timezone so results compare
bit-exactly against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "workbook_exporter_fe_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` is the local[] parallelism; ``shuffle_partitions`` defaults to
    the core count (or 32 for ``local[*]``) — at cluster scale this knob is
    instead sized so each shuffle partition is ~128-256MB.
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    builder = SparkSession.builder
    # Respect a cluster-manager master: under spark-submit (north rule:
    # `spark-submit --py-files` at N and 4N executors) the master comes
    # from the submit command — forcing .master() here would silently turn
    # a cluster submission into local mode. spark-submit's launcher exports
    # SPARK_ENV_LOADED; SPARK_GRAFT_MASTER overrides explicitly.
    explicit = os.environ.get("SPARK_GRAFT_MASTER")
    if explicit:
        builder = builder.master(explicit)
    elif "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # lets Python data sources (sources/snapshot_source.py) receive
        # pushed filters; no effect on sources that don't implement it
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # a hive table with more than 32 partition dirs (the default
        # threshold) is listed by a Spark job on every read — a second
        # or so of scheduling for what the driver lists in milliseconds.
        # The tiers are flat; a source= tier of an older store is read
        # this way until the write that flattens it.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # saveAsTable (bucketed tables) must not drop spark-warehouse/
        # into whatever cwd the session was built from
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
