"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness at any scale and performance at large scale:
AQE on (runtime coalesce + skew-join splitting), Arrow on (vectorized
pandas-UDF boundary), UTC session timezone (parity with parquet/duckdb
oracles). ``shuffle_partitions`` should track cluster parallelism — the
epoch driver scales it with ``sc.defaultParallelism`` unless pinned.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cdc-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the CDC engine.

    On a real cluster, omit ``master`` and submit via
    ``spark-submit --py-files cdc_tools_spark.zip``; everything here is
    master-agnostic.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        # v2 commit: task-side renames (distributed) instead of a serial
        # driver-side rename pass — matters when a merge writes many bucket
        # dirs; real clusters use an object-store/Iceberg committer instead.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # A merge reads O(num_buckets) leaf dirs; list them on the driver
        # instead of launching a distributed listing job per epoch.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.ui.enabled", "false")
        # PySpark's per-call call-site capture (for error messages) walks
        # the Python stack and makes ~4 extra py4j round trips for every
        # Column and DataFrame call: ~60% of a merge plan's driver-side
        # construction. Off by default; ``extra_conf`` can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    active = SparkSession.getActiveSession()
    if active is None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
