"""Table catalog: the driver-generated parquet lake.

Mirrors the reference's Hive external-table catalog
(``setup_smart_city_hive.hql``) — one table per entity, parquet-backed,
registered as temp views so both the DataFrame API and ``spark.sql``
can address them. Reads are plain ``spark.read.parquet`` so filter
pushdown / column pruning reach the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Plain parquet scan → pushdown-friendly.

    Timestamp normalization: the lake has been generated with either
    TIMESTAMP(NANOS) (pandas-written; Spark has no nanos type, so we
    read nanos as long and truncate to micros — the same truncation
    DuckDB applies casting TIMESTAMP_NS → TIMESTAMP) or plain
    TIMESTAMP_NTZ(MICROS) (isAdjustedToUTC=false, which Spark 4's
    ``inferTimestampNTZ`` default would surface as TIMESTAMP_NTZ —
    a type unix_micros/window reject). NTZ inference is DISABLED for
    these reads, so EVERY naive micros column (events.ts as well as
    lineitem.l_shipdate / orders.o_orderdate) comes back as classic
    TIMESTAMP whose epoch equals the stored naive micros — the exact
    value DuckDB's naive read produces, with no dependence on
    ``spark.sql.session.timeZone`` at read time (a cast NTZ → LTZ
    would shift by the ambient session zone; the reader path does
    not). Both confs are set per-call so external callers that build
    their own SparkSession get the same schema from ``table()``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        # Only events.ts is nanos-written; a bare bigint is otherwise a
        # key column, so the nanos fix-up stays gated on the name.
        if field.name in ("ts",) and field.dataType.simpleString() == "bigint":
            df = df.withColumn(field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000")))
    return df


def spread(df: DataFrame, *by: str) -> DataFrame:
    """Ensure CPU-heavy downstream work can use every core.

    Parquet scans parallelize by file/row-group split; a single-row-group
    file (bad compaction, tiny dims, this test lake) yields a 1-partition
    scan, serializing everything pipelined onto it (explode, hashing,
    partial aggregation). When the scan has at least half the cluster's
    parallelism this is a NO-OP — at 100 TB inputs arrive in thousands of
    splits and no extra exchange is added. Only pathological inputs pay
    one cheap round-robin/hash exchange of the raw rows.

    The split-count probe (``df.rdd.getNumPartitions()``) plans the scan
    on every call. It is not memoized, so a rewritten table is probed
    afresh.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, *[F.col(c) for c in by]) if by else df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free the checkpoint blocks ``df`` reads (the ``LogicalRDD``
    leaves of its plan: the checkpoint itself when ``df`` is one) and
    no other caller's; ``DataFrame.unpersist()`` does not reach them.
    Call it once a materialized successor has replaced them."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)
