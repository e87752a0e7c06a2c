"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the test/bench environment (local[32],
single JVM); the same settings are what we would set per-executor on a
real cluster — AQE on, UTC session timezone (required so Spark
timestamps hash-compare equal to DuckDB's UTC-naive ones), Arrow for
pandas interchange, and shuffle partitions sized to cores rather than
the 200 default.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "patterns-devkit-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI arithmetic: integer overflow raises instead of wrapping
        # (the pyspark 4 default, pinned so results never depend on it)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp type — read as long and convert (see queries.t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
