"""The per-label near-dup kernels: the edge kernel against
``embedding_neardup`` and its DuckDB oracle (on the test lake and on a
frame of NULL, NaN, zero and mixed-length vectors), BFS levels and
label propagation vs sequential python references without Spark, the
queries on embeddings planted with hand-made graphs against their
oracle CTEs in DuckDB, and job-count guards on the queries."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import numpy as np
import pytest

from smart_city_data_pipeline_spark.operators import similarity
from smart_city_data_pipeline_spark.operators.dedup import (
    _SRP_PLANES,
    NEARDUP_CELL_CAP,
    ORACLES,
    SRP_DIM,
    embedding_neardup,
)
from smart_city_data_pipeline_spark.operators.similarity import (
    BFS_MAX_LEVEL,
    LP_ROUNDS,
    _bfs_census_sql,
    _bfs_level_counts,
    _label_edges,
    _label_embeddings,
    _lp_communities_sql,
    _lp_labels,
    _per_label,
    graph_bfs_levels,
    label_propagation_communities,
)

# Spark jobs of one construct plus noop execute on the test lake: the
# embeddings' schema read, the shuffle into the labels and the kernel
# stage. Edges built by a Spark self-join took 8, and the driver-side
# round loops 25 and 29.
BFS_JOBS_MAX = 3
LP_JOBS_MAX = 3

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


def _on_frame(spark, planted_lake, query, labelled):
    """``query`` over embeddings whose near-dup graph is the hand-made
    ``(label, u, v)`` edge list."""
    return query(spark, planted_lake(labelled))


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


def test_bfs_query_matches_oracle_cte(spark, planted_lake):
    labelled = _labelled()
    got = {
        tuple(r)
        for r in _on_frame(spark, planted_lake, graph_bfs_levels, labelled).collect()
    }
    assert got == _duck(labelled, f"WITH RECURSIVE {_bfs_census_sql('g')}")
    assert got == {
        (label, lvl, n)
        for label, edges in ((0, PLANTED), (1, PATH))
        for lvl, n in _py_bfs(edges).items()
    }


def test_lp_query_matches_oracle_cte(spark, planted_lake):
    labelled = _labelled()
    got = {
        tuple(r)
        for r in _on_frame(
            spark, planted_lake, label_propagation_communities, labelled
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


def _neardup_pairs(spark, sf_dir, cell_cap=NEARDUP_CELL_CAP) -> set[tuple[int, int, int]]:
    rows = embedding_neardup(spark, sf_dir, cell_cap).collect()
    return {(r["label"], r["vec_a"], r["vec_b"]) for r in rows}


def _query_pairs(spark, sf_dir) -> set[tuple[int, int, int]]:
    """The edges the graph queries see: the per-label Spark path with a
    kernel that returns its edge list."""
    out = _per_label(spark, sf_dir, lambda edges: edges, "label int, u bigint, v bigint")
    return {tuple(r) for r in out.collect()}


def _kernel_pairs(spark, sf_dir, monkeypatch, cell_cap) -> set[tuple[int, int, int]]:
    """:func:`_label_edges` over each label's rows, on the driver, with
    ``NEARDUP_CELL_CAP`` set to ``cell_cap``."""
    pdf = _label_embeddings(spark, sf_dir).toPandas()
    monkeypatch.setattr(similarity, "NEARDUP_CELL_CAP", cell_cap)
    return {
        (int(label), u, v)
        for label, rows in pdf.groupby("label")
        for u, v in _label_edges(rows)
    }


@pytest.mark.parametrize("cell_cap", [NEARDUP_CELL_CAP, 1])
def test_label_edges_match_neardup_on_test_lake(spark, sf_dir, monkeypatch, cell_cap):
    """The kernel's edges are ``embedding_neardup``'s, at the default
    cap (every label all-pairs) and at cap 1 (every label SRP-banded)."""
    want = _neardup_pairs(spark, sf_dir, cell_cap)
    assert want
    assert _kernel_pairs(spark, sf_dir, monkeypatch, cell_cap) == want
    if cell_cap == NEARDUP_CELL_CAP:
        assert _query_pairs(spark, sf_dir) == want


def _axes(*entries, dim=SRP_DIM) -> list:
    vec = [0.0] * dim
    for i, x in entries:
        vec[i] = x
    return vec


def _band0_ones() -> list:
    """A vector whose projections on the first eight SRP planes are all
    positive: its band 0 is all ones, as a NaN vector's is."""
    planes = np.array(_SRP_PLANES)
    return np.linalg.lstsq(planes[:8], np.ones(8), rcond=None)[0].tolist()


_NULL_ELEMENT = _axes((0, 1.0))
_NULL_ELEMENT[7] = None

# (vec_id, label, embedding) rows around every corner of the cosine.
EDGE_CASES = [
    (1, 0, _axes((0, 1.0))),
    (2, 0, _axes((0, 1.0), (1, 0.1))),  # near-dup of 1
    (3, 0, _axes()),  # zero norm: NULL cosine with 1, 2 and 9
    (4, 0, _axes((0, 1.0), (5, math.nan))),  # NaN cosine with every vector
    (9, 0, _axes((2, 1.0))),  # orthogonal to 1 and 2
    (5, 0, _NULL_ELEMENT),  # no edges
    (6, 0, None),  # no edges
    (7, 0, [1.0, 0.0, 0.0]),  # another length: pairs with 8 only
    (8, 0, [1.0, 0.1, 0.0]),
    (10, 1, _axes()),
    (11, 1, _axes((3, 1.0))),
    (12, 1, _axes((3, 1.0), (4, 0.2))),
    (13, 2, _axes((5, 1.0))),  # a label with no edges emits no row
    (14, 2, _axes((6, 1.0))),
    (17, 3, _band0_ones()),
    (18, 3, _axes((0, 1.0), (1, math.nan))),  # shares band 0 with 17
    (15, None, _axes((0, 1.0))),  # a NULL label has no edges
    (16, None, _axes((0, 1.0))),
]
EDGE_CASE_PAIRS = {
    (0, 1, 2), (0, 1, 4), (0, 2, 4), (0, 3, 4), (0, 4, 9), (0, 7, 8),
    (1, 11, 12),
    (3, 17, 18),
}
# Row ids the DuckDB oracle rejects: list_dot_product raises on a NULL
# element, on lists of different lengths and, in the pair join, on a
# NULL list.
ORACLE_REJECTS = {5, 6, 7, 8}


def test_edge_cases_match_neardup_and_oracle(spark, embeddings_lake, monkeypatch):
    """On NULL, NaN, zero and mixed-length vectors the kernel, the
    query path and ``embedding_neardup`` emit the same edges, and so does
    the DuckDB oracle on the rows it accepts. At cap 1 the kernel and
    ``embedding_neardup`` still agree, with a NaN projection as bit 1."""
    lake = embeddings_lake(EDGE_CASES)
    assert _neardup_pairs(spark, lake) == EDGE_CASE_PAIRS
    assert _query_pairs(spark, lake) == EDGE_CASE_PAIRS

    # embedding_neardup's banded plan keys a map on the label: no NULL.
    banded = embeddings_lake([r for r in EDGE_CASES if r[1] is not None], "banded")
    want = _neardup_pairs(spark, banded, 1)
    assert (3, 17, 18) in want
    assert _kernel_pairs(spark, banded, monkeypatch, 1) == want

    oracle_lake = embeddings_lake([r for r in EDGE_CASES if r[0] not in ORACLE_REJECTS], "oracle")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM"
            f" read_parquet('{oracle_lake}/embeddings.parquet')"
        )
        got = con.execute(
            f"SELECT label, vec_a, vec_b FROM ({ORACLES['embedding_neardup']})"
        ).fetchall()
    finally:
        con.close()
    oracle_pairs = {p for p in EDGE_CASE_PAIRS if not {p[1], p[2]} & ORACLE_REJECTS}
    assert set(got) == oracle_pairs
    assert _query_pairs(spark, oracle_lake) == oracle_pairs
