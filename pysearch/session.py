"""SparkSession builder for the engine (local-mode test harness).

Designed for multi-executor clusters via explicit partitioning everywhere
(term-hash buckets, broadcast stats); tested on local[N].
"""

from __future__ import annotations

import os

from py4j.java_gateway import java_import
from pyspark.sql import SparkSession


def get_spark(cores: int | None = None, app: str = "pysearch",
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 2x cores so every core owns work even with stragglers; AQE partition
    # COALESCING is disabled in this local harness: it merges the reduce
    # side of the tf/encode shuffles down to a handful of partitions
    # (advisory 64 MB), capping parallelism at ~8 tasks regardless of
    # cores — measured 2x build slowdown at local[32]. On a real cluster
    # with dynamic allocation you would re-enable it; skew-join handling
    # stays on.
    shuffle_partitions = shuffle_partitions or max(cores * 2, 16)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("PYSEARCH_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # single-machine harness: shuffle through tmpfs. Compression default is
    # ON even there (r04 paired A/B at 100k docs: +4% at local[4], neutral
    # ±2% at local[1] — tmpfs writes are memory-bus traffic, so lz4 trades
    # CPU that scales for bus bytes that don't); it is also the real-cluster
    # default (network/disk shuffles always compress). Override with
    # PYSEARCH_SHUFFLE_COMPRESS=0.
    if os.path.isdir("/dev/shm") and os.environ.get(
            "PYSEARCH_SHM_SHUFFLE", "1") != "0":
        comp = ("true" if os.environ.get("PYSEARCH_SHUFFLE_COMPRESS", "1") != "0"
                else "false")
        builder = (builder
                   .config("spark.local.dir", "/dev/shm/spark")
                   .config("spark.shuffle.compress", comp)
                   .config("spark.shuffle.spill.compress", comp))
    spark = builder.getOrCreate()
    # PySpark names PythonSQLUtils by its short name (three lookups per
    # Arrow createDataFrame, one per StructType.fromDDL); py4j resolves a
    # short name through the gateway's star imports, one JVM class probe
    # per package (~0.8 ms a lookup measured on a 4-core VM), unless it is
    # imported by its full name (~0.15 ms)
    java_import(spark._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
    return spark
