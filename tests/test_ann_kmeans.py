"""Recall bound for the learned-quantizer IVF (ann_ivf_kmeans).

The bound is asserted on a CLUSTERED corpus built here: IVF cell
pruning is a statement about corpora with cluster structure. The repo's
synthetic `embeddings` table is near-uniform (a probe's true top-5
share its label ~12 % of the time), a regime where no partition-pruned
index — k-means, label cells, or LSH — can reach high recall; there the
registered entry is covered by the rows-only driver gate instead.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from smart_city_data_pipeline_spark.operators.similarity import (
    N_PROBES,
    TOP_K,
    _cents_col,
    _train_kmeans,
    kmeans_ivf_topk,
)

N_CENTERS = 8
PER_CENTER = 50
DIM = 16


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(N_CENTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(N_CENTERS):
        pts = centers[c] + 0.15 * rng.normal(size=(PER_CENTER, DIM))
        vecs.append(pts)
    x = np.vstack(vecs)
    order = rng.permutation(len(x))  # probes span several clusters
    x = x[order]
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(len(x))]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema).repartition(8, "vec_id")
    # float32 round-trip so the numpy ground truth sees EXACTLY what
    # Spark's array<float> column stores.
    return df, x.astype(np.float32).astype(np.float64)


def _exact_topk(x: np.ndarray, probe: int) -> list[int]:
    sims = x @ x[probe] / (np.linalg.norm(x, axis=1) * np.linalg.norm(x[probe]))
    sims[probe] = -np.inf
    # match the operator's tie-break: cos desc, neighbor_id asc
    order = sorted(range(len(x)), key=lambda i: (-round(sims[i], 4), i))
    return order[:TOP_K]


def test_kmeans_ivf_recall_on_clustered_corpus(spark, clustered):
    df, x = clustered
    cents = _train_kmeans(df, k=N_CENTERS, iters=3)
    approx = kmeans_ivf_topk(df, cents, n_probe=2).collect()
    got = {(r["probe_id"], r["neighbor_id"]) for r in approx}
    want = {(p, n) for p in range(N_PROBES) for n in _exact_topk(x, p)}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"recall {recall} below bound; got={sorted(got)}"


def test_kmeans_cells_partition_the_corpus(spark, clustered):
    """The trained quantizer must actually spread the corpus over
    multiple cells (no degenerate single-cell index) and every cell id
    must be within range."""
    df, _ = clustered
    cents = _train_kmeans(df, k=N_CENTERS, iters=3)
    from smart_city_data_pipeline_spark.operators.similarity import _l2_dists, _qvec

    dists = _l2_dists(_qvec(F.col("embedding")), cents)
    cells = (
        df.select((F.array_position(dists, F.array_min(dists)) - 1).alias("cell"))
        .groupBy("cell")
        .count()
        .collect()
    )
    ids = {int(r["cell"]) for r in cells}
    assert len(ids) >= N_CENTERS // 2
    assert all(0 <= i < N_CENTERS for i in ids)


def test_kmeans_training_is_integer_exact(spark, clustered):
    """Every trained centroid component must sit on the 2^16 integer
    grid (an integer-valued float) — the property the DuckDB oracle's
    unrolled re-training relies on."""
    df, _ = clustered
    cents = _train_kmeans(df, k=N_CENTERS, iters=3)
    for c in cents:
        for v in c:
            assert float(v).is_integer(), v
    # training twice yields the identical quantizer (determinism)
    assert cents == _train_kmeans(df, k=N_CENTERS, iters=3)


def test_kmeans_training_ignores_null_embedding(spark, clustered):
    """A NULL embedding row neither seeds a centroid nor lands in a
    cell: training returns the same quantizer as without it."""
    df, _ = clustered
    null_row = spark.createDataFrame([(10_000, None)], df.schema)
    assert _train_kmeans(df.unionByName(null_row), k=N_CENTERS, iters=3) == (
        _train_kmeans(df, k=N_CENTERS, iters=3)
    )


def test_centroid_literal_matches_nested_lit(spark):
    """The one-expression centroid literal carries the same values,
    type and nullability as a nested ``F.lit`` of the same matrix."""
    cents = [
        [-3.0, 0.0, 1.0e20],
        [-0.0, 65536.0, -4.5e15],
        [1.0e-07, -123456789.0, 2.0**52 + 1],
    ]
    out = spark.range(1).select(
        _cents_col(cents).alias("expr"), F.lit(cents).alias("lit")
    )
    expr_f, lit_f = out.schema.fields
    assert expr_f.dataType == lit_f.dataType == T.ArrayType(
        T.ArrayType(T.DoubleType(), False), False
    )
    assert expr_f.nullable == lit_f.nullable
    row = out.first()
    assert row["expr"] == row["lit"] == cents
