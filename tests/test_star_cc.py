"""Large-star/small-star connected components (dedup.star_cc_labels).

The r10 min-label loop needed O(component diameter) rounds; a planted
64-node CHAIN (diameter 63) demonstrates the upgrade: star alternation
converges in well under the 20-round cap while min-label provably
cannot (its per-round reach is exactly one hop, re-derived here as an
inline reference loop, not by running the old code at scale).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.operators.dedup import (
    CLUSTER_MAX_ITERS,
    dedup_clusters,
    star_cc_labels,
)


def _labels_dict(labels_df):
    return {r["node"]: r["comp"] for r in labels_df.collect()}


def _python_cc(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Independent union-find reference."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


CHAIN_N = 64
CHAIN = [(i, i + 1) for i in range(100, 100 + CHAIN_N - 1)]


def test_chain_converges_under_log_rounds(spark):
    """A 64-node chain (diameter 63): min-label propagation moves the
    min ONE hop per round, so it needs 63 rounds — over the 20-round
    cap — while star alternation lands in <=9 rounds (2*log2(64)-ish),
    every node labelled with the chain head."""
    n, chain = CHAIN_N, CHAIN
    pairs = spark.createDataFrame(chain, "src bigint, dst bigint")
    labels, rounds, converged = star_cc_labels(spark, pairs)
    assert converged
    assert rounds <= 9 < n - 1  # min-label would need diameter=63 rounds
    got = _labels_dict(labels)
    assert got == {i: 100 for i in range(101, 100 + n)}  # root excluded (never a src)

    # The one-hop bound that sinks min-label: after k rounds, a node k+1
    # hops from the head cannot yet know the head's id. Re-derive with
    # the textbook per-round relaxation on the same chain.
    lbl = {i: i for i in range(100, 100 + n)}
    nbrs = {i: [] for i in range(100, 100 + n)}
    for a, b in chain:
        nbrs[a].append(b)
        nbrs[b].append(a)
    for _ in range(CLUSTER_MAX_ITERS):
        lbl = {i: min([lbl[i]] + [lbl[j] for j in nbrs[i]]) for i in lbl}
    assert lbl[100 + n - 1] != 100  # NOT converged after the 20-round cap


def test_random_graph_matches_union_find(spark):
    """Mixed shapes — two chains, a clique, a star, singleton edges,
    duplicate + reversed + self-loop inputs — match an independent
    union-find on every endpoint."""
    pairs_py = (
        [(i, i + 1) for i in range(0, 12)]            # chain A
        + [(50 + i, 50 + i + 1) for i in range(0, 7)]  # chain B
        + [(a, b) for a in range(30, 35) for b in range(30, 35) if a < b]  # clique
        + [(70, x) for x in (71, 72, 73, 74)]          # star
        + [(90, 91), (91, 90), (90, 90), (90, 91)]     # dupes/reversed/self-loop
    )
    pairs = spark.createDataFrame(pairs_py, "src bigint, dst bigint")
    labels, rounds, converged = star_cc_labels(spark, pairs)
    assert converged and rounds <= 9
    got = _labels_dict(labels)
    ref = _python_cc([(a, b) for a, b in pairs_py if a != b])
    # star roots never appear as a source; fill them in as themselves
    for n, c in ref.items():
        assert got.get(n, n) == c


def test_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    labels, rounds, converged = star_cc_labels(spark, empty)
    assert converged and labels.count() == 0
    one = spark.createDataFrame([(7, 3)], "src bigint, dst bigint")
    labels, rounds, converged = star_cc_labels(spark, one)
    assert converged
    assert _labels_dict(labels) == {7: 3}


def test_dedup_clusters_matches_oracle(spark, duck, sf_dir):
    """End-to-end: dedup_clusters (now star-backed) still matches the
    recursive-CTE min-reachable oracle exactly on the real corpus."""
    from smart_city_data_pipeline_spark.operators.dedup import ORACLES

    got = sorted(
        tuple(r) for r in dedup_clusters(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in duck.execute(ORACLES["dedup_clusters"]).fetchall())
    assert got == want


def test_dedup_clusters_raises_at_round_cap(spark, sf_dir):
    """A star-CC loop stopped by its cap is an error, not a result: the
    63-diameter chain does not converge in one round, and does at the
    default cap."""
    pairs = spark.createDataFrame(CHAIN, "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="1-round cap"):
        dedup_clusters(spark, sf_dir, max_iters=1, pairs=pairs)
    out = dedup_clusters(spark, sf_dir, pairs=pairs).filter(
        F.col("doc_id").between(100, 100 + CHAIN_N - 1)
    )
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: 100 for i in range(100, 100 + CHAIN_N)}
