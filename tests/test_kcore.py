"""k-core peeling vs a sequential python reference, the fused
all-k peel loop, the KCORE_ROUNDS convergence-headroom contract and a
job-count guard on the query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.operators.similarity import (
    KCORE_KS,
    KCORE_ROUNDS,
    _kcore_census,
    _peel_cores,
    _peel_edges,
    kcore_decompose,
)

# Spark jobs of one kcore_decompose construct plus noop execute on the
# test lake: 15 + 3 with the fused peel loop and the single-aggregate
# census (one loop per k with a count() probe per round and the
# four-way census took 20 + 7).
KCORE_JOBS_MAX = 18


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


# Planted graph: a 4-clique (3-core), a triangle hanging off it via one
# bridge edge (2-core), and a pendant chain (coreness 1, peels away in
# several rounds — exercises the iteration, not just one pass).
PLANTED = [
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
    (4, 10), (10, 11), (11, 12), (10, 12),           # bridge + triangle
    (12, 20), (20, 21), (21, 22), (22, 23),          # pendant chain
]


def _planted_df(spark):
    return spark.createDataFrame(
        [(0, u, v) for u, v in PLANTED], ["label", "u", "v"]
    )


@pytest.mark.parametrize("k", [2, 3])
def test_peel_matches_python_reference(spark, k):
    got = {
        (r["u"], r["v"]) for r in _peel_edges(_planted_df(spark), k).collect()
    }
    assert got == _py_kcore(PLANTED, k)


def test_planted_core_membership(spark):
    df = _planted_df(spark)
    core2 = _peel_edges(df, 2)
    nodes2 = {
        r["n"]
        for r in core2.select(F.col("u").alias("n"))
        .unionAll(core2.select(F.col("v").alias("n")))
        .distinct()
        .collect()
    }
    # chain peels away entirely; clique + triangle stay, and so does the
    # bridge edge (4, 10): both of its ends keep degree >= 2
    assert nodes2 == {1, 2, 3, 4, 10, 11, 12}
    core3 = _peel_edges(df, 3)
    nodes3 = {
        r["n"]
        for r in core3.select(F.col("u").alias("n"))
        .unionAll(core3.select(F.col("v").alias("n")))
        .distinct()
        .collect()
    }
    assert nodes3 == {1, 2, 3, 4}


def test_fused_slices_match_python_reference(spark):
    cores, _ = _peel_cores(_planted_df(spark))
    for k in KCORE_KS:
        got = {
            (r["u"], r["v"]) for r in cores.filter(F.col("k") == k).collect()
        }
        assert got == _py_kcore(PLANTED, k), f"k={k}"


def test_core3_of_core2_is_core3():
    """k-cores are unique and nested: the DuckDB oracle peels the
    3-core from the 2-core while Spark peels it from the whole graph."""
    assert _py_kcore(sorted(_py_kcore(PLANTED, 2)), 3) == _py_kcore(PLANTED, 3)


def test_fused_rounds_are_the_largest_reference_rounds(spark):
    """One loop peels every k: it runs as many rounds as the slowest k
    needs, confirming round included, not the sum over k."""
    _, rounds = _peel_cores(_planted_df(spark))
    per_k = [_py_peel(PLANTED, k)[1] for k in KCORE_KS]
    assert per_k == [5, 3]  # the pendant chain peels one edge a round
    assert rounds == max(per_k)


def test_bare_path_label_counts_zero_cores(spark):
    """A label whose graph is a bare path has empty 2- and 3-cores: its
    census row reads 0, not NULL, beside a label that has both cores."""
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(
        [(0, u, v) for u, v in PLANTED] + [(1, u, v) for u, v in path],
        "label int, u long, v long",
    )
    out = _kcore_census(df)
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


def test_rounds_headroom(spark, sf_dir):
    """The real near-dup graph must converge well inside KCORE_ROUNDS
    (the oracle replays exactly KCORE_ROUNDS rounds — agreement needs
    the fixpoint reached within the cap). Measured on the shipped loop,
    every k at once."""
    from smart_city_data_pipeline_spark.operators.dedup import (
        embedding_neardup,
    )

    edges = embedding_neardup(spark, sf_dir).select(
        "label", F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
    )
    _, rounds = _peel_cores(edges)
    assert rounds * 2 <= KCORE_ROUNDS, f"converged in {rounds}, cap {KCORE_ROUNDS}"


def test_kcore_job_count(spark, sf_dir, count_jobs):
    """One construct plus execute stays within the recorded job count:
    a per-k loop or a separate count probe per round would exceed it."""
    jobs = count_jobs(
        lambda: kcore_decompose(spark, sf_dir)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    assert 0 < jobs <= KCORE_JOBS_MAX, f"{jobs} jobs, recorded {KCORE_JOBS_MAX}"


def test_kcore_monotone(spark, sf_dir):
    out = kcore_decompose(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_nodes"] >= r["core2_nodes"] >= r["core3_nodes"] >= 0
