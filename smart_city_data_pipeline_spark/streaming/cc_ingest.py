"""Streaming connected-components maintenance — the continuous twin of
``operators.dedup.dedup_clusters`` (and the natural consumer of
``neardup_ingest``'s dup pairs).

A production crawl does not re-cluster 100 TB after every ingest: new
near-dup EDGES arrive in micro-batches and must merge into the existing
duplicate clusters incrementally. The state is a two-lake design, both
append-only by ingest batch:

- ``labels/batch_id=k`` — ``(node, root)`` for nodes FIRST SEEN in
  batch k, labelled with their component min AT THAT TIME;
- ``remap/batch_id=k`` — ``(old_root, new_root)`` rows recording that
  batch k's edges merged an existing component into a smaller root
  (``new_root < old_root`` always, so remap chains strictly decrease).

Per micro-batch the CONTRACTED graph is tiny: every arriving edge is
first mapped through the resolved prior state (endpoint → its current
root), trivial edges (both ends already one component) drop, and the
surviving root-merge pairs — batch-bounded, corpus-independent — run
through the same large-star/small-star contraction the batch operator
uses (:func:`operators.dedup.star_cc_labels`, O(log² n) rounds). New
nodes get label rows, demoted roots get remap rows. Resolution at
read time follows the remap forest to its fixpoint with ONE more star
contraction over the remap edges (pointer chains collapse in O(log
depth) rounds — never a driver loop over batches).

Exactly-once discipline (the ``neardup_ingest`` posture): both writes
are per-batch PARTITION OVERWRITES and the resolve step reads only
``batch_id < k`` partitions, so a crash-replayed micro-batch recomputes
from exactly the pre-crash state and rewrites its own partitions
byte-for-byte. Schemas are pinned on read — no footer inference over a
partition mid-repair.

Scale: ingest never REWRITES old state — remap rows absorb merges, so
the label lake is append-only and per-batch WRITE cost is O(batch).
The per-batch READ is one keyed probe of the label lake (to map batch
endpoints and spot demoted roots) plus the tiny remap closure; on a
real cluster the label lake is bucketed by node so that probe prunes
to the touched buckets (here it is one scan + keyed join, stated as
such). Compaction of old partitions is the standard lakehouse
maintenance job (``compaction_plan``).

Parity: tests/test_streaming_cc.py replays the corpus LSH pair list in
waves and requires the resolved labels ≡ ``dedup_clusters`` exactly,
plus a planted cross-wave chain merge exercising the remap path and a
crash-replay byte-idempotence check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from smart_city_data_pipeline_spark.catalog import release_checkpoint
from smart_city_data_pipeline_spark.operators.dedup import (
    CLUSTER_MAX_ITERS,
    star_cc_labels,
)
from smart_city_data_pipeline_spark.sources import maintenance
from smart_city_data_pipeline_spark.streaming.warehouse_sink import (
    stream_to_warehouse,
)

LABEL_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType()),
        T.StructField("root", T.LongType()),
        T.StructField("batch_id", T.LongType()),
    ]
)

REMAP_SCHEMA = T.StructType(
    [
        T.StructField("old_root", T.LongType()),
        T.StructField("new_root", T.LongType()),
        T.StructField("batch_id", T.LongType()),
    ]
)


def _read_lake(
    spark: SparkSession, path: str, schema: T.StructType, upto: int | None
) -> DataFrame | None:
    fs, p = maintenance._hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    df = spark.read.schema(schema).parquet(path)
    if upto is not None:
        df = df.filter(F.col("batch_id") < F.lit(upto))
    return df


def resolve_labels(
    spark: SparkSession, root: str, upto: int | None = None
) -> DataFrame:
    """Current ``(node, comp)`` state: first-seen labels pushed through
    the remap-forest closure (one star contraction over the tiny remap
    edge set — chains of any depth collapse without a per-batch loop).
    Nodes never seen return no row (they are their own singleton, the
    ``dedup_clusters`` coalesce convention)."""
    lab = _read_lake(spark, root.rstrip("/") + "/labels", LABEL_SCHEMA, upto)
    if lab is None:
        return spark.createDataFrame([], "node long, comp long")
    lab = lab.select("node", "root")
    rm = _read_lake(spark, root.rstrip("/") + "/remap", REMAP_SCHEMA, upto)
    if rm is not None and not rm.isEmpty():
        closure, _, converged = star_cc_labels(
            spark, rm.select("old_root", "new_root")
        )
        if not converged:
            raise RuntimeError(
                f"remap closure hit the {CLUSTER_MAX_ITERS}-round cap"
            )
        fix = closure.select(
            F.col("node").alias("root"), F.col("comp").alias("final")
        )
        lab = lab.join(fix, "root", "left").select(
            "node", F.coalesce(F.col("final"), F.col("root")).alias("comp")
        )
    else:
        lab = lab.select("node", F.col("root").alias("comp"))
    return lab


def ingest_edges_micro_batch(
    spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Fold one micro-batch of near-dup edges ``(doc_a, doc_b)`` into
    the label/remap lakes as idempotent per-batch partition
    overwrites, freeing every checkpoint it makes before returning."""
    lab_dir = root.rstrip("/") + "/labels"
    rm_dir = root.rstrip("/") + "/remap"
    prior = resolve_labels(spark, root, upto=batch_id)
    resolved = prior.localCheckpoint(eager=True)
    release_checkpoint(prior)  # the remap closure's star edges
    edges = batch_df.select(
        F.col("doc_a").cast("long").alias("a"),
        F.col("doc_b").cast("long").alias("b"),
    )
    ra = resolved.select(
        F.col("node").alias("a"), F.col("comp").alias("ca")
    )
    rb = resolved.select(
        F.col("node").alias("b"), F.col("comp").alias("cb")
    )
    merge_pairs = (
        edges.join(ra, "a", "left")
        .join(rb, "b", "left")
        .select(
            F.coalesce(F.col("ca"), F.col("a")).alias("x"),
            F.coalesce(F.col("cb"), F.col("b")).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
    )
    labels, _, converged = star_cc_labels(spark, merge_pairs)
    if not converged:
        raise RuntimeError(
            f"batch {batch_id} merge hit the {CLUSTER_MAX_ITERS}-round cap"
        )
    mapping = labels.localCheckpoint(eager=True)
    release_checkpoint(labels)
    # demoted existing roots -> remap rows (new_root < old_root by the
    # min-contraction invariant, so remap chains strictly decrease)
    old_roots = resolved.select(F.col("comp").alias("node")).distinct()
    remap_rows = (
        mapping.join(old_roots, "node")
        .filter(F.col("comp") != F.col("node"))
        .select(
            F.col("node").alias("old_root"), F.col("comp").alias("new_root")
        )
    )
    # first-seen nodes -> label rows at their current component min
    batch_nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    new_labels = (
        batch_nodes.join(resolved.select("node"), "node", "left_anti")
        .join(mapping, "node", "left")
        .select("node", F.coalesce(F.col("comp"), F.col("node")).alias("root"))
    )
    new_labels.write.mode("overwrite").parquet(f"{lab_dir}/batch_id={batch_id}")
    remap_rows.write.mode("overwrite").parquet(f"{rm_dir}/batch_id={batch_id}")
    release_checkpoint(resolved)
    release_checkpoint(mapping)


def continuous_cc_ingest(
    stream: DataFrame, root: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Maintain the incremental-CC lakes from a near-dup edge stream."""
    return stream_to_warehouse(
        stream,
        lambda df, bid: ingest_edges_micro_batch(
            df.sparkSession, root, df, bid
        ),
        checkpoint,
        available_now,
    )
