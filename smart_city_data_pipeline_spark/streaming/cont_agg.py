"""Incremental continuous-aggregate maintenance.

TimescaleDB refreshes its ``traffic_1min`` continuous aggregate
incrementally — only buckets invalidated by new rows are recomputed
(``pipline2/init-timescaledb.sql:63-68``) — and stores them in time
chunks. The Spark-native twin is a ``foreachBatch`` loop over a rollup
lake partitioned by UTC ``day``: each micro-batch contributes PARTIAL
aggregates for only the (zone, minute) buckets it touches, and those
partials are merged additively into only the ``day=`` partitions they
fall in — never a from-scratch recompute of the rollup, never a rescan
or rewrite of days the batch does not touch.

Correctness pieces:

- sum/count are commutative monoids, so merging per-batch partials is
  exact regardless of how events split across micro-batches; avg is
  derived on read (``read_minute_rollup``) — storing it would make the
  merge lossy.
- foreachBatch can REPLAY a batch after a crash; the merge is made
  idempotent by recording ``last_batch_id`` in the lake rows and
  skipping, PER PARTITION, a batch id at-or-below that partition's
  high-water mark. Each touched partition is swapped in on its own
  (maintenance._commit_swap on the partition directory), and a
  partition's data and its bookkeeping commit together, so a replay
  after a crash between two partition swaps applies exactly the
  partitions the crashed attempt had not swapped yet. A swap that
  crashed inside its rename window leaves a hidden parked copy that
  ``maintenance.recover_swaps`` rolls forward before anything is read.
- Money/reading sums stay in DECIMAL(18,2) across merges so the rollup
  equals the batch recompute bit-for-bit (pytest-asserted against the
  one-shot groupBy).

At 100 TB the rollup lake is a fraction of the fact stream (one row per
zone-minute), and the per-batch read-merge-swap reads and rewrites only
the days the batch touches (one or two for a live stream), so its cost
follows the batch, not the history; the fact stream is consumed once,
map-side-partially aggregated.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from smart_city_data_pipeline_spark.sources import maintenance
from smart_city_data_pipeline_spark.streaming.warehouse_sink import stream_to_warehouse

BUCKET_KEYS = ("zone", "minute")


def _minute_partials(df: DataFrame) -> DataFrame:
    """Per-(zone, minute) partial aggregate of one micro-batch."""
    return df.groupBy(
        F.col("event_type").alias("zone"),
        F.date_trunc("minute", F.col("ts")).alias("minute"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.max("value").alias("peak_value"),
    )


def _partition_dir(spark: SparkSession, col: str, value) -> str:
    """Directory name Spark's partitioned writer gives ``col=value``
    (escaped; NULL is the Hive default partition)."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return utils.getPartitionPathString(col, None if value is None else str(value))


def merge_partials_into_lake(
    spark: SparkSession,
    path: str,
    part: DataFrame,
    keys: tuple[str, ...],
    merge_aggs: list,
    batch_id: int,
    partition_col: str,
) -> None:
    """Generic idempotent, partition-scoped read-merge-swap of one
    batch's partials into a rollup lake partitioned by
    ``partition_col`` (a date or string column of ``part``). ``part``
    must carry ``last_batch_id`` and its partition values as the lake
    reads them back (NULL, never ``""``, for the default partition;
    otherwise the two group apart and a key appears twice);
    ``merge_aggs`` are the monoid merges applied on ``groupBy(keys)``
    over current ∪ partials and must include ``F.max("last_batch_id")``.
    Shared by the minute rollup and the incremental top-k totals
    (streaming/topk.py).

    One small job lists the partitions the partials touch (skipped
    while the lake holds no partition yet); only those directories are
    read (explicit paths under ``basePath``), a partition already
    holding this batch is skipped, the merged rows are written once
    with ``partitionBy`` to a temp sibling, and each partition
    directory that write produced is swapped in on its own."""
    live = maintenance.recover_swaps(spark, path)
    root = path.rstrip("/")
    prefix = f"{partition_col}="
    touched, present = [], []
    if any(n.startswith(prefix) for n in live):
        touched = [r[0] for r in part.select(partition_col).distinct().collect()]
        present = [
            d for d in (_partition_dir(spark, partition_col, v) for v in touched) if d in live
        ]
    merged = part
    if present:
        # The partials' schema pins the partition column's type, so
        # nothing is inferred from directory names.
        cur = (
            spark.read.schema(part.schema)
            .option("basePath", root)
            .parquet(*[f"{root}/{d}" for d in present])
        )
        done = [
            r[0]
            for r in cur.groupBy(partition_col)
            .agg(F.max("last_batch_id").alias("applied"))
            .filter(F.col("applied") >= batch_id)
            .collect()
        ]
        if len(done) == len(touched):
            return  # crash-replay of an already-merged batch
        if done:  # a replay that crashed partway: merge the rest only
            skip = reduce(or_, [F.col(partition_col).eqNullSafe(F.lit(v)) for v in done])
            part, cur = part.filter(~skip), cur.filter(~skip)
        group = keys if partition_col in keys else (*keys, partition_col)
        merged = cur.unionByName(part).groupBy(*group).agg(*merge_aggs)
    fs, dest = maintenance._hadoop_fs(spark, root)
    tmp = root + "._tmp_contagg"
    _, tpath = maintenance._hadoop_fs(spark, tmp)
    if fs.exists(tpath):
        fs.delete(tpath, True)
    merged.write.partitionBy(partition_col).mode("overwrite").parquet(tmp)
    fs.mkdirs(dest)
    for st in fs.listStatus(tpath):
        name = st.getPath().getName()
        if name.startswith(prefix):
            maintenance._commit_swap(spark, f"{root}/{name}", f"{tmp}/{name}")
    fs.delete(tpath, True)


def refresh_minute_rollup(
    spark: SparkSession, path: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Merge one micro-batch's partials into the rollup lake (idempotent)."""
    # The UTC day whatever the session time zone, so a bucket always
    # lands in the same partition.
    day = F.date_from_unix_date(F.floor(F.col("minute").cast("long") / 86400).cast("int"))
    part = _minute_partials(batch_df).select(
        "*", F.lit(batch_id).alias("last_batch_id"), day.alias("day")
    )
    merge_partials_into_lake(
        spark,
        path,
        part,
        BUCKET_KEYS,
        [
            F.sum("total_value").cast("decimal(18,2)").alias("total_value"),
            F.sum("n_events").alias("n_events"),
            F.max("peak_value").alias("peak_value"),
            F.max("last_batch_id").alias("last_batch_id"),
        ],
        batch_id,
        "day",
    )


def continuous_minute_rollup(
    stream: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Maintain the 1-minute rollup lake from an events stream."""
    return stream_to_warehouse(
        stream,
        lambda df, bid: refresh_minute_rollup(df.sparkSession, path, df, bid),
        checkpoint,
        available_now,
    )


def read_minute_rollup(spark: SparkSession, path: str) -> DataFrame:
    """User-facing view: derives avg from the mergeable state (the
    ``day`` partition column stays internal)."""
    df = spark.read.parquet(path)
    return df.select(
        "zone",
        "minute",
        "total_value",
        "n_events",
        "peak_value",
        (F.col("total_value").cast("double") / F.col("n_events")).alias("avg_value"),
    )


def minute_rollup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: the one-shot BATCH twin of the incremental
    continuous aggregate — the exact same :func:`_minute_partials`
    shape the foreachBatch loop merges, plus the derived-on-read avg.

    This puts the continuous-aggregate maintenance path under the hash
    gate: pytest asserts the multi-batch streaming merge equals this
    batch rollup decimal-exactly, and the driver hash-checks this
    rollup against the DuckDB oracle — so stream ≡ batch twin ≡ oracle.
    """
    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.functions.rounding import pround

    r = _minute_partials(table(spark, sf_dir, "events"))
    return r.select(
        "zone",
        "minute",
        F.col("total_value").cast("double").alias("total_value"),
        "n_events",
        pround(F.col("peak_value")).alias("peak_value"),
        pround(F.col("total_value").cast("double") / F.col("n_events")).alias("avg_value"),
    )


def _oracle() -> str:
    from smart_city_data_pipeline_spark.functions.rounding import (
        pround_sql,
        sum_exact_sql,
    )

    total = sum_exact_sql("value")
    return f"""
        SELECT event_type AS zone,
               date_trunc('minute', ts) AS minute,
               {total} AS total_value,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {pround_sql('MAX(value)')} AS peak_value,
               {pround_sql(f'{total} / COUNT(*)')} AS avg_value
        FROM events
        GROUP BY 1, 2
    """


QUERIES = {"minute_rollup_batch": minute_rollup_batch}
ORACLES = {"minute_rollup_batch": _oracle()}
