"""k-core peeling vs a sequential python reference: the per-label
kernel's core-node helper without Spark, the query on embeddings
planted with hand-made near-dup graphs, the oracle's fixpoint peel CTE
in DuckDB, and a job-count guard on the query."""

from __future__ import annotations

import duckdb
import pytest

from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.operators.similarity import (
    _core_nodes,
    _kcore_core_sql,
    kcore_decompose,
)

# Spark jobs of one kcore_decompose construct plus noop execute on the
# test lake: the embeddings' schema read, the shuffle into the labels
# and the kernel stage. Edges built by a Spark self-join took 8, and a
# driver-side peel loop 18.
KCORE_JOBS_MAX = 3


def _py_peel(edges: list[tuple[int, int]], k: int) -> tuple[set[tuple[int, int]], int]:
    """Sequential reference peel: drop nodes with degree < k to
    fixpoint. Returns the core and the rounds run, the round that
    confirms the fixpoint included."""
    cur, rounds = set(edges), 0
    while True:
        rounds += 1
        deg: dict[int, int] = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        nxt = {(u, v) for u, v in cur if deg[u] >= k and deg[v] >= k}
        if nxt == cur:
            return cur, rounds
        cur = nxt


def _py_kcore(edges: list[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    return _py_peel(edges, k)[0]


def _core_edges(edges: list[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    """The k-core's edges: the edges between the helper's core nodes."""
    nodes = _core_nodes(edges, k)
    return {(u, v) for u, v in edges if u in nodes and v in nodes}


# Planted graph: a 4-clique (3-core), a triangle hanging off it via one
# bridge edge (2-core), and a pendant chain (coreness 1, peels away in
# several rounds — exercises the iteration, not just one pass).
PLANTED = [
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
    (4, 10), (10, 11), (11, 12), (10, 12),           # bridge + triangle
    (12, 20), (20, 21), (21, 22), (22, 23),          # pendant chain
]

# A triangle with a 30-edge pendant chain: a synchronous peel removes
# one chain edge a round, so it needs 31 rounds to reach the 2-core.
PENDANT = [(100, 101), (100, 102), (101, 102)] + [
    (102 + i, 103 + i) for i in range(30)
]


def _kcore_on(spark, planted_lake, labelled: list[tuple[int, int, int]]):
    """``kcore_decompose`` over embeddings whose near-dup graph is the
    hand-made ``(label, u, v)`` edge list."""
    return kcore_decompose(spark, planted_lake(labelled))


@pytest.mark.parametrize("k", [2, 3])
def test_peel_matches_python_reference(k):
    assert _core_edges(PLANTED, k) == _py_kcore(PLANTED, k)


def test_planted_core_membership():
    # chain peels away entirely; clique + triangle stay, and so does the
    # bridge edge (4, 10): both of its ends keep degree >= 2
    assert _core_nodes(PLANTED, 2) == {1, 2, 3, 4, 10, 11, 12}
    assert _core_nodes(PLANTED, 3) == {1, 2, 3, 4}


def test_fused_slices_match_python_reference():
    """The kernel peels every k from the same edge list."""
    for edges in (PLANTED, PENDANT):
        for k in (2, 3):
            assert _core_edges(edges, k) == _py_kcore(edges, k), f"k={k}"


def test_core3_of_core2_is_core3():
    """k-cores are unique and nested: the DuckDB oracle peels the
    3-core from the 2-core while the kernel peels it from the whole
    graph."""
    assert _py_kcore(sorted(_py_kcore(PLANTED, 2)), 3) == _py_kcore(PLANTED, 3)
    assert _core_nodes(sorted(_core_edges(PLANTED, 2)), 3) == _core_nodes(PLANTED, 3)


def test_pendant_chain_peels_to_fixpoint(spark, planted_lake):
    """A chain longer than any round cap peels away on every path: the
    helper, the Spark query and the oracle's peel CTE all give the
    triangle as the 2-core and an empty 3-core."""
    core2, rounds = _py_peel(PENDANT, 2)
    assert core2 == {(100, 101), (100, 102), (101, 102)} and rounds == 31
    assert not _py_kcore(PENDANT, 3)
    for k in (2, 3):
        assert _core_edges(PENDANT, k) == _py_kcore(PENDANT, k)

    labelled = [(0, u, v) for u, v in PLANTED] + [(1, u, v) for u, v in PENDANT]
    rows = {
        r["label"]: tuple(r)[1:]
        for r in _kcore_on(spark, planted_lake, labelled).collect()
    }
    assert rows == {0: (11, 14, 7, 4), 1: (33, 33, 3, 0)}

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE g (label INT, u BIGINT, v BIGINT)")
        con.executemany("INSERT INTO g VALUES (?, ?, ?)", labelled)
        for k in (2, 3):
            got = con.execute(
                f"WITH RECURSIVE {_kcore_core_sql('core', 'g', k)}"
                " SELECT u, v FROM core WHERE label = 1"
            ).fetchall()
            assert set(got) == _py_kcore(PENDANT, k), f"k={k}"
    finally:
        con.close()


def test_bare_path_label_counts_zero_cores(spark, planted_lake):
    """A label whose graph is a bare path has empty 2- and 3-cores: its
    census row reads 0, not NULL, beside a label that has both cores."""
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    out = _kcore_on(
        spark,
        planted_lake,
        [(0, u, v) for u, v in PLANTED] + [(1, u, v) for u, v in path],
    )
    rows = {r["label"]: tuple(r)[1:] for r in out.collect()}
    assert rows == {0: (11, 14, 7, 4), 1: (5, 4, 0, 0)}
    expected = [
        ("label", "int"),
        ("n_nodes", "bigint"),
        ("n_edges", "bigint"),
        ("core2_nodes", "bigint"),
        ("core3_nodes", "bigint"),
    ]
    assert out.dtypes == expected
    assert not any(f.nullable for f in out.schema.fields[1:])


def test_kcore_job_count(spark, sf_dir, count_jobs):
    """Construct starts no Spark job beyond reading the embeddings
    table's schema, and construct plus execute stays within the recorded
    job count: a driver-side collect or peel loop exceeds both."""
    schema_read = count_jobs(lambda: table(spark, sf_dir, "embeddings"))
    built = []
    construct = count_jobs(lambda: built.append(kcore_decompose(spark, sf_dir)))
    assert construct == schema_read
    jobs = construct + count_jobs(
        lambda: built[0].write.format("noop").mode("overwrite").save()
    )
    assert 0 < jobs <= KCORE_JOBS_MAX, f"{jobs} jobs, recorded {KCORE_JOBS_MAX}"


def test_kcore_monotone(spark, sf_dir):
    out = kcore_decompose(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_nodes"] >= r["core2_nodes"] >= r["core3_nodes"] >= 0
