"""Checkpoints are released by reference: a driver loop frees only the
checkpoints it made, never one another caller made in the same session
while the loop ran, and no package code sweeps the session's
persistent-RDD map."""

from __future__ import annotations

import pathlib

from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.operators import similarity
from smart_city_data_pipeline_spark.operators.dedup import star_cc_labels

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "smart_city_data_pipeline_spark"


def _foreign_checkpoint_on_first_call(spark, monkeypatch, owner, name):
    """Wrap ``owner.name`` so that its first call also makes a
    checkpoint the loop under test does not own; returns the list the
    checkpoint is put in."""
    real = getattr(owner, name)
    made = []

    def wrapped(*args, **kwargs):
        if not made:
            made.append(spark.range(1000).localCheckpoint(eager=True))
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, wrapped)
    return made


def test_pagerank_loop_keeps_foreign_checkpoint(spark, sf_dir, monkeypatch):
    # the first release frees round 0's state, inside the round loop
    made = _foreign_checkpoint_on_first_call(
        spark, monkeypatch, similarity, "release_checkpoint"
    )
    n_nodes = table(spark, sf_dir, "embeddings").count()
    assert similarity.knn_pagerank(spark, sf_dir).count() == n_nodes
    assert made[0].count() == 1000


def test_star_cc_keeps_foreign_checkpoint(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5), (9, 8)], "a long, b long"
    )
    # the first distinct() call builds the edge set of the first checkpoint
    made = _foreign_checkpoint_on_first_call(
        spark, monkeypatch, type(pairs), "distinct"
    )
    labels, _, converged = star_cc_labels(spark, pairs)
    assert converged
    assert made[0].count() == 1000
    assert {r["node"]: r["comp"] for r in labels.collect()} == {
        2: 1, 3: 1, 4: 1, 6: 5, 9: 8
    }


def test_no_session_wide_sweep_in_package():
    sweeps = [
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "getPersistentRDDs" in p.read_text()
    ]
    assert sweeps == []
