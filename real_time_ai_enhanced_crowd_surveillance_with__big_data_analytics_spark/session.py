"""SparkSession factory tuned for the driver harness.

Local mode here is `local[N]` (single JVM); the conf below is chosen so
the same code scales to a multi-executor cluster: AQE on (runtime
coalesce + skew-join handling), Arrow on (pandas-UDF hot paths), UTC
session timezone (DuckDB-oracle timestamps are UTC-naive). Under the
local master, Python workers fork from `worker_daemon`, which stops each
task from re-reading pyspark.zip (see that module), and checkpoints
commit through the FileSystem manager, whose rename forks no `readlink`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "crowd_analytics", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-aware defaults.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (driver bench contract).
    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long, loader converts to micros
        # (same floor-to-micros DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ANSI off: reference semantics are permissive Python/NumPy, and
        # the DuckDB oracle comparison rounds in the query layer.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    if "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        # imported here, not at the top: `python -m` runs the daemon after
        # importing this package, which must not have imported it already
        from . import worker_daemon

        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.driver.memory", "90g")
            .config("spark.python.daemon.module", worker_daemon.__name__)
            # Spark's default (FileContext) manager checks every rename
            # with getFileLinkStatus, which without native libhadoop
            # forks /usr/bin/readlink per path; the FileSystem manager
            # renames with the same no-overwrite check and layout.
            # Cluster sessions keep the default: HDFS needs its atomic
            # no-overwrite rename.
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
