"""SparkSession factory tuned for the extraction workload.

Notable choices:

- NO semantic configs: ANSI mode and mapKeyDedupPolicy are left at the
  Spark 4 defaults on purpose. Every expression in the engine is
  session-config independent (try_to_date, guarded casts, explicit
  map-key dedup), so it behaves identically under the driver's vanilla
  oracle-harness session — round-1 gate errors came from relying on
  session overrides here.
- AQE on: runtime partition coalescing + skew-join splitting are the
  first line of defense against skewed document sizes; explicit salting
  in plans/pipeline.py is the second (north rule). The salt exchanges
  are repartitions by column with no partition count, so AQE also
  sizes them: ``spark.sql.shuffle.partitions`` is their starting
  width, and coalescing shrinks it to the input's shuffle bytes and
  the cores.
- Arrow batch size bounded so a batch of large documents fits executor
  memory in the pandas-UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "insurance-pdf-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # byte-bound Arrow batches BOTH directions: a row is a whole
        # document (up to SHARD_SIZE_BYTES), so record-count limits
        # alone cannot bound executor memory; 64 MB input is the Spark
        # 4 default, the output bound is -1 (unbounded) unless set
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxBytesPerOutputBatch", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
