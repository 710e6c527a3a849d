"""Incremental top-k maintenance from an event stream.

The dashboards' "top sensors per zone" panel (daily reports,
``init-db.sql:85`` realtime_metrics spirit) must stay fresh as events
arrive. Top-k itself is NOT a mergeable monoid — a sensor outside
today's top-3 can overtake tomorrow, so keeping only the current top-k
rows loses information. The classical incremental-view answer: maintain
the per-(zone, sensor) TOTAL, which IS a sum monoid (exact under any
micro-batch split, DECIMAL(18,2) across merges), and derive the top-k
on read with a rank window over the rollup — zone partitions of an
AGGREGATE, never of facts.

State size is the (zone, sensor) cardinality — a vanishing fraction of
the fact stream at 100 TB — and each micro-batch touches only
rollup-sized data: the totals lake is partitioned by ``zone``, the
partition key of the rank window, and a batch reads, merges and swaps
only the ``zone=`` directories it touches (the same partition-scoped
read-merge-swap as the continuous minute aggregate, shared via
:func:`cont_agg.merge_partials_into_lake`, including the per-partition
batch-id high-water mark for crash-replay idempotency). As in any
Hive-style partitioned lake, an empty-string zone is stored in the
default partition and reads back as NULL, so the partials map it to
NULL before they group: a sensor's ``""`` and NULL events then merge
into one row, batch after batch.

The batch twin is ``operators/timeseries.py top_sensors_per_zone``
(full oracle in the driver gate); the pytest chain asserts
stream-maintained top-k ≡ batch twin exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from smart_city_data_pipeline_spark.functions.rounding import pround
from smart_city_data_pipeline_spark.streaming.cont_agg import (
    merge_partials_into_lake,
)
from smart_city_data_pipeline_spark.streaming.warehouse_sink import (
    stream_to_warehouse,
)

SENSOR_KEYS = ("zone", "sensor_id")


def _sensor_partials(df: DataFrame) -> DataFrame:
    """Per-(zone, sensor) partial totals of one micro-batch, zone as
    the lake reads it back (``""`` is NULL)."""
    return df.groupBy(
        F.nullif(F.col("event_type"), F.lit("")).alias("zone"),
        F.col("user_id").alias("sensor_id"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("total_dec")
    )


def refresh_sensor_totals(
    spark: SparkSession, path: str, batch_df: DataFrame, batch_id: int
) -> None:
    part = _sensor_partials(batch_df).withColumn("last_batch_id", F.lit(batch_id))
    merge_partials_into_lake(
        spark,
        path,
        part,
        SENSOR_KEYS,
        [
            F.sum("total_dec").cast("decimal(18,2)").alias("total_dec"),
            F.max("last_batch_id").alias("last_batch_id"),
        ],
        batch_id,
        "zone",
    )


def continuous_top_sensors(
    stream: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Maintain the per-(zone, sensor) totals lake from an events stream."""
    return stream_to_warehouse(
        stream,
        lambda df, bid: refresh_sensor_totals(df.sparkSession, path, df, bid),
        checkpoint,
        available_now,
    )


def read_top_sensors(spark: SparkSession, path: str, k: int = 3) -> DataFrame:
    """Derive the top-k view from the maintained totals — same output
    contract as the batch twin ``top_sensors_per_zone`` (rank by rounded
    total desc, sensor asc)."""
    totals = spark.read.parquet(path).select(
        "zone",
        "sensor_id",
        pround(F.col("total_dec").cast("double")).alias("total_value"),
    )
    w = Window.partitionBy("zone").orderBy(
        F.desc("total_value"), F.asc("sensor_id")
    )
    return (
        totals.select(
            "zone",
            F.row_number().over(w).cast("int").alias("rank"),
            "sensor_id",
            "total_value",
        )
        .filter(F.col("rank") <= k)
    )
