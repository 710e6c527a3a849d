"""BFS levels and label propagation vs sequential python references:
the per-label kernels without Spark, the queries on hand-made edge
frames against their oracle CTEs in DuckDB, and job-count guards on
the queries."""

from __future__ import annotations

from collections import Counter

import duckdb

from smart_city_data_pipeline_spark.operators import dedup, similarity
from smart_city_data_pipeline_spark.operators.similarity import (
    BFS_MAX_LEVEL,
    LP_ROUNDS,
    _bfs_census_sql,
    _bfs_level_counts,
    _lp_communities_sql,
    _lp_labels,
    graph_bfs_levels,
    label_propagation_communities,
)

# Spark jobs of one construct plus noop execute on the test lake with
# the per-label kernels; the driver-side round loops took 25 and 29.
BFS_JOBS_MAX = 8
LP_JOBS_MAX = 8

# Planted graph: hub 1 with spokes 2..5 (2-3 closes a triangle), a
# chain 5-6-7-8-9 that runs past BFS_MAX_LEVEL hops from the hub, and a
# pair 50-51 that the hub cannot reach.
PLANTED = [
    (1, 2), (1, 3), (1, 4), (1, 5), (2, 3),  # hub + triangle
    (5, 6), (6, 7), (7, 8), (8, 9),          # chain
    (50, 51),                                # unreachable pair
]
PATH = [(1, 2), (2, 3), (3, 4), (4, 5)]


def _py_bfs(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference census: relax every edge once per level, from the
    smallest node, and count the nodes first reached at each level."""
    dist = {min(n for e in edges for n in e): 0}
    for lvl in range(1, BFS_MAX_LEVEL + 1):
        for u, v in edges:
            for a, b in ((u, v), (v, u)):
                if dist.get(a) == lvl - 1 and b not in dist:
                    dist[b] = lvl
    return dict(Counter(dist.values()))


def _py_lp(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference propagation in the oracle's shape: per round, a vote
    table of (node, neighbour label) counts over the directed edges,
    then the (count, label)-max vote per node."""
    directed = edges + [(v, u) for u, v in edges]
    lbl = {u: u for u, _ in directed}
    for _ in range(LP_ROUNDS):
        votes = Counter((u, lbl[v]) for u, v in directed)
        best: dict[int, tuple[int, int]] = {}
        for (u, nl), c in votes.items():
            best[u] = max(best.get(u, (c, nl)), (c, nl))
        lbl = {u: nl for u, (_, nl) in best.items()}
    return lbl


def _communities(lbl: dict[int, int]) -> set[tuple[int, int, int, int]]:
    members: dict[int, list[int]] = {}
    for node, c in lbl.items():
        members.setdefault(c, []).append(node)
    return {(c, len(ns), min(ns), max(ns)) for c, ns in members.items()}


def _on_frame(spark, monkeypatch, query, labelled):
    """``query`` over a hand-made ``(label, u, v)`` edge list in place of
    the near-dup graph."""
    frame = spark.createDataFrame(labelled, "label int, vec_a long, vec_b long")
    monkeypatch.setattr(dedup, "embedding_neardup", lambda spark, sf_dir: frame)
    return query(spark, "unused")


def _duck(labelled, sql: str) -> set[tuple]:
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE g (label INT, u BIGINT, v BIGINT)")
        con.executemany("INSERT INTO g VALUES (?, ?, ?)", labelled)
        con.execute("CREATE VIEW gp AS SELECT label AS part, u, v FROM g")
        return set(con.execute(sql).fetchall())
    finally:
        con.close()


def _labelled() -> list[tuple[int, int, int]]:
    return [(0, u, v) for u, v in PLANTED] + [(1, u, v) for u, v in PATH]


def test_bfs_kernel_matches_python_reference():
    for edges in (PLANTED, PATH):
        assert _bfs_level_counts(edges) == _py_bfs(edges)
    # the chain is cut after BFS_MAX_LEVEL hops; 50-51 is never reached
    assert _bfs_level_counts(PLANTED) == {0: 1, 1: 4, 2: 1, 3: 1}


def test_lp_kernel_matches_python_reference():
    for edges in (PLANTED, PATH):
        assert _lp_labels(edges) == _py_lp(edges)


def test_lp_vote_tie_goes_to_larger_label(monkeypatch):
    """Node 3 sees labels 1 and 2 once each and adopts 2."""
    monkeypatch.setattr(similarity, "LP_ROUNDS", 1)
    assert _lp_labels([(1, 3), (2, 3)]) == {1: 3, 2: 3, 3: 2}


def test_bfs_query_matches_oracle_cte(spark, monkeypatch):
    labelled = _labelled()
    got = {
        tuple(r)
        for r in _on_frame(spark, monkeypatch, graph_bfs_levels, labelled).collect()
    }
    assert got == _duck(labelled, f"WITH RECURSIVE {_bfs_census_sql('g')}")
    assert got == {
        (label, lvl, n)
        for label, edges in ((0, PLANTED), (1, PATH))
        for lvl, n in _py_bfs(edges).items()
    }


def test_lp_query_matches_oracle_cte(spark, monkeypatch):
    labelled = _labelled()
    got = {
        tuple(r)
        for r in _on_frame(
            spark, monkeypatch, label_propagation_communities, labelled
        ).collect()
    }
    assert got == _duck(labelled, f"WITH RECURSIVE {_lp_communities_sql('gp')}")
    assert got == {
        (label, *c)
        for label, edges in ((0, PLANTED), (1, PATH))
        for c in _communities(_py_lp(edges))
    }


def test_bfs_job_count(spark, sf_dir, count_jobs):
    jobs = count_jobs(
        lambda: graph_bfs_levels(spark, sf_dir)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    assert 0 < jobs <= BFS_JOBS_MAX, f"{jobs} jobs, recorded {BFS_JOBS_MAX}"


def test_lp_job_count(spark, sf_dir, count_jobs):
    jobs = count_jobs(
        lambda: label_propagation_communities(spark, sf_dir)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    assert 0 < jobs <= LP_JOBS_MAX, f"{jobs} jobs, recorded {LP_JOBS_MAX}"
