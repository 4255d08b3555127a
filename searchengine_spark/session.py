"""SparkSession factory with the engine's required confs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "searchengine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the scale guidance: AQE on (runtime re-plan + skew-join
    belt-and-braces), Arrow on (all UDFs here are pandas UDFs), UTC session
    timezone (oracle comparability), shuffle partitions ≈ cores not 200.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[32]")
    cores = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row Arrow batches: the block encoder's rows are list<struct>
        # groups (~100+ postings each), so 10k rows ≈ 25-30 MB per batch;
        # larger batches measurably hurt the 2-core lemmatize stage (GC
        # pressure on map-typed columns at small heaps)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # split big parquet inputs finer so scans (and the UDFs directly
        # above them) parallelize even on few-file inputs
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # delete a checkpointed result's files (analysis.dedup.checkpointed)
        # once its frame is garbage collected; Spark's default keeps them
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
