"""Per-operator Spark↔DuckDB parity at sf0.001 — the same comparison the
driver's t2 gate runs at sf0.01 (tools/check_correctness.py)."""

from __future__ import annotations

import pytest

from tools.check_correctness import compare


def _pairs():
    import __spark_entry__ as e

    qs, orc = e.queries(), e.oracle_sql()
    return sorted(orc), qs, orc


KEYS, QUERIES, ORACLES = _pairs()


def _plan_rdd_ids(sdf) -> set:
    ids = set()
    leaves = sdf._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(int(leaf.rdd().id()))
    return ids


@pytest.mark.parametrize("key", KEYS)
def test_oracle_parity(key, spark, duck, sf_dir, persistent_rdd_ids):
    """Parity, plus the leak invariant: every persistent RDD the query
    leaves behind is a checkpoint its result plan reads."""
    before = persistent_rdd_ids()
    sdf = QUERIES[key](spark, sf_dir)
    rel = duck.sql(ORACLES[key])
    verdict = compare(key, sdf, rel.fetchall(), list(rel.columns))
    assert verdict.startswith("OK"), verdict
    unread = persistent_rdd_ids() - before - _plan_rdd_ids(sdf)
    assert not unread, f"{len(unread)} persistent RDDs the plan does not read"


def test_every_oracle_has_query():
    assert set(QUERIES) >= set(ORACLES)


def test_entry_runs(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) > 0
