"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every conf here is chosen for the
1000-executor / 100 TB case and merely *sized down* by ``cpus``:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all pandas UDF traffic is columnar batches, never per-row)
- shuffle partitions ~ cores locally; on a real cluster this is
  ``executors * cores * 2-3`` or left to AQE's coalescing
- UTC session timezone so results compare bit-exactly against DuckDB
  oracles (duckdb timestamps are UTC-naive).
- PySpark call-site capture off: it costs about five JVM round trips
  per Column or DataFrame call, most of a small CDC epoch's driver
  time.  Errors lose their Python call site;
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  brings it back.  PySpark reads it once per process, from the first
  session, so it is a builder conf.
- streaming checkpoint metadata through Hadoop's FileSystem API
  (``FileSystemBasedCheckpointFileManager``).  Without the native Hadoop
  library, the default FileContext manager forks a process for each
  metadata write; on a local path both do the same write-then-rename.
  The sessions built here are ``local[N]``; an HDFS or object-store
  deployment keeps Spark's default manager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "yadex_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM IS the executor; size it like one.
        # 8g thrashes on 1KB-payload batches at high thread counts, but
        # oversizing invites multi-JVM overcommit on a shared box — 24g
        # fits two sessions comfortably in 128 GiB
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # token arrays are high-entropy: heavy codecs buy nothing and cost
        # CPU on the hot write path; snappy is the right trade at scale
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
