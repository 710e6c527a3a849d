"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on); the same configs are what we would ship to a
1000-executor cluster, with ``spark.sql.shuffle.partitions`` raised
proportionally to total cores (rule of thumb: 2-3x total executor
cores; AQE coalesces the excess).

An idle streaming query re-lists its source every
``spark.sql.streaming.pollingDelay`` (Spark's default: 10 ms). The
session sets 100 ms: an idle live query over a one-file directory at
``local[2]`` on a 4-vCPU VM burned 4.1-4.5 CPU-s per 10 s at 10 ms and
1.1-1.4 CPU-s at 100 ms (a session with no query: under 0.1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "smart-city-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime partition coalescing + skew-join splitting; at 100 TB
        # skewed sensor/zone keys are a certainty, so this stays on.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF boundary (vectorized, not per-row pickling).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims under this threshold broadcast automatically; we still mark
        # known dims with broadcast() hints explicitly.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # The delay applies only after a trigger that found no new data;
        # a backlogged stream never sleeps, so freshness loses at most
        # 100 ms. A processingTime trigger would delay every batch.
        .config("spark.sql.streaming.pollingDelay", "100ms")
    )
    return builder.getOrCreate()
