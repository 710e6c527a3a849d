"""Streaming incremental connected components ≡ batch dedup_clusters:
the LSH pair list delivered as edge waves must resolve to exactly the
batch operator's clusters, a planted cross-wave merge must flow through
the remap forest, and a crash-replayed batch must be idempotent."""

from __future__ import annotations

from smart_city_data_pipeline_spark.operators.dedup import (
    dedup_clusters,
    dedup_minhash_lsh,
)
from smart_city_data_pipeline_spark.streaming.cc_ingest import (
    continuous_cc_ingest,
    ingest_edges_micro_batch,
    resolve_labels,
)

EDGE_SCHEMA = "doc_a long, doc_b long"


def _drive_waves(spark, tmp_path, waves):
    src = str(tmp_path / "edges_src")
    root = str(tmp_path / "cc_lake")

    def drop(rows):
        spark.createDataFrame(rows, EDGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    drop(waves[0])
    stream = spark.readStream.schema(EDGE_SCHEMA).parquet(src)
    q = continuous_cc_ingest(stream, root, str(tmp_path / "ckpt"))
    q.awaitTermination()
    for wave in waves[1:]:
        drop(wave)
        q = continuous_cc_ingest(stream, root, str(tmp_path / "ckpt"))
        q.awaitTermination()
    return root


def test_two_wave_stream_equals_batch_clusters(spark, sf_dir, tmp_path):
    """Corpus LSH pairs split into two waves by their LATER endpoint
    (a pair arrives when its second member does): the resolved labels
    must equal dedup_clusters on every edge-involved node."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    assert pairs
    hi = max(b for _, b in pairs)
    split = hi // 2
    waves = [
        [p for p in pairs if max(p) <= split],
        [p for p in pairs if max(p) > split],
    ]
    assert waves[0] and waves[1]
    root = _drive_waves(spark, tmp_path, waves)
    got = {
        r["node"]: r["comp"] for r in resolve_labels(spark, root).collect()
    }
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(spark, sf_dir).collect()
    }
    assert got  # edge-involved nodes only
    for node, comp in got.items():
        assert comp == want[node], node
    # every edge endpoint is covered; everything else is a singleton
    covered = {n for p in pairs for n in p}
    assert set(got) == covered
    for d, c in want.items():
        if d not in covered:
            assert c == d


def test_cross_wave_merge_flows_through_remap(spark, tmp_path):
    """Wave 1 builds two separate components; wave 2's bridge edge
    must demote the larger root via a remap row, and a wave-3 edge
    chains a second demotion (remap closure depth 2)."""
    root = str(tmp_path / "cc_lake")
    w1 = spark.createDataFrame([(10, 11), (20, 21)], EDGE_SCHEMA)
    ingest_edges_micro_batch(spark, root, w1, 0)
    got0 = {r["node"]: r["comp"] for r in resolve_labels(spark, root).collect()}
    assert got0 == {10: 10, 11: 10, 20: 20, 21: 20}
    w2 = spark.createDataFrame([(11, 21)], EDGE_SCHEMA)
    ingest_edges_micro_batch(spark, root, w2, 1)
    got1 = {r["node"]: r["comp"] for r in resolve_labels(spark, root).collect()}
    assert got1 == {10: 10, 11: 10, 20: 10, 21: 10}
    w3 = spark.createDataFrame([(5, 20)], EDGE_SCHEMA)
    ingest_edges_micro_batch(spark, root, w3, 2)
    got2 = {r["node"]: r["comp"] for r in resolve_labels(spark, root).collect()}
    assert got2 == {5: 5, 10: 5, 11: 5, 20: 5, 21: 5}
    # the remap forest really is chained: 20 -> 10 (batch 1), 10 -> 5
    # (batch 2); resolution collapses the chain in one contraction
    rm = sorted(
        (r["old_root"], r["new_root"], r["batch_id"])
        for r in spark.read.parquet(root + "/remap").collect()
    )
    assert rm == [(10, 5, 2), (20, 10, 1)]


def test_crash_replayed_batch_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "cc_lake")
    w1 = spark.createDataFrame([(1, 2), (3, 4)], EDGE_SCHEMA)
    w2 = spark.createDataFrame([(2, 3), (7, 8)], EDGE_SCHEMA)
    ingest_edges_micro_batch(spark, root, w1, 0)
    ingest_edges_micro_batch(spark, root, w2, 1)
    once_lab = sorted(map(tuple, spark.read.parquet(root + "/labels").collect()))
    once_rm = sorted(map(tuple, spark.read.parquet(root + "/remap").collect()))
    once = sorted(map(tuple, resolve_labels(spark, root).collect()))
    ingest_edges_micro_batch(spark, root, w2, 1)  # crash replay
    assert sorted(map(tuple, spark.read.parquet(root + "/labels").collect())) == once_lab
    assert sorted(map(tuple, spark.read.parquet(root + "/remap").collect())) == once_rm
    assert sorted(map(tuple, resolve_labels(spark, root).collect())) == once
    assert dict(once) == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_micro_batch_leaves_no_checkpoint(spark, tmp_path, persistent_rdd_ids):
    """One micro-batch that runs both star contractions (the remap
    closure and the merge) leaves no persistent RDD behind."""
    root = str(tmp_path / "cc_lake")
    ingest_edges_micro_batch(
        spark, root, spark.createDataFrame([(1, 2), (5, 6)], EDGE_SCHEMA), 0
    )
    ingest_edges_micro_batch(
        spark, root, spark.createDataFrame([(2, 5)], EDGE_SCHEMA), 1
    )
    before = persistent_rdd_ids()
    ingest_edges_micro_batch(
        spark, root, spark.createDataFrame([(6, 9), (3, 4)], EDGE_SCHEMA), 2
    )
    assert persistent_rdd_ids() - before == set()
    got = {r["node"]: r["comp"] for r in resolve_labels(spark, root).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 9: 1, 3: 3, 4: 3}
