"""Oracle result-type lint: no DuckDB oracle may emit a HUGEINT.

DuckDB widens SUM(BIGINT) — including window sums — to HUGEINT
(INT128). Spark has no 128-bit integer, and the driver's fetch path
renders HUGEINT columns unlike Spark BIGINT even when every VALUE is
identical: `markov_entropy_rate` carried a raw window-sum `n_trans`
and was the registry's ONLY oracle emitting a HUGEINT — and its only
persistent hash-red driver row (rows/schema green, hash red, rounds
10-11) while byte-exact locally at every SF. The fix is a
CAST(... AS BIGINT) at the oracle's output; this lint keeps the class
extinct.

DuckDB-only (no Spark session): runs every oracle at sf0.001 and
asserts no result column is HUGEINT/UHUGEINT, one test per registry
key so a failure names its key and ``--durations`` shows each cost.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from smart_city_data_pipeline_spark.catalog import TABLES
from smart_city_data_pipeline_spark.operators import all_oracles

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_no_oracle_emits_hugeint(con, name):
    rel = con.sql(ORACLES[name])
    bad = [
        c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")
    ]
    assert bad == [], f"{name} emits HUGEINT columns: {bad}"
