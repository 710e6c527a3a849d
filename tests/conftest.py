"""Shared fixtures: one local SparkSession + a DuckDB connection with the
sf0.001 tables registered as views (SURVEY.md §5)."""

from __future__ import annotations

import itertools
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from smart_city_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from smart_city_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def persistent_rdd_ids(spark):
    """``persistent_rdd_ids()`` returns the ids of the RDDs the session
    keeps persisted, checkpoint blocks included."""
    jsc = spark.sparkContext._jsc
    return lambda: {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns how many Spark jobs it started."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run



@pytest.fixture
def embeddings_lake(tmp_path):
    """``embeddings_lake(rows, name)`` writes ``(vec_id, label,
    embedding)`` rows as the ``embeddings`` table of a lake directory
    ``name`` under a temporary directory and returns that directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(rows, name: str = "lake") -> str:
        vec_id, label, embedding = zip(*rows)
        lake = tmp_path / name
        lake.mkdir()
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(vec_id, pa.int64()),
                    "embedding": pa.array(embedding, pa.list_(pa.float32())),
                    "label": pa.array(label, pa.int32()),
                }
            ),
            lake / "embeddings.parquet",
        )
        return str(lake)

    return write


@pytest.fixture
def planted_lake(embeddings_lake):
    """``planted_lake(labelled)`` writes an ``embeddings`` table whose
    near-dup graph is exactly the ``(label, u, v)`` edge list and
    returns its lake directory. Each label's vectors are the rows of the
    symmetric square root of ``I + 0.35 A`` (``A`` its adjacency), so
    adjacent nodes have cosine 0.35 and all other pairs 0, on either
    side of the 0.3 threshold. (One-hot node and edge directions, as in
    ``perfbench/gen.py``, fall below it at a degree-4 node.)"""
    import numpy as np

    def write(labelled) -> str:
        graphs: dict[int, list[tuple[int, int]]] = {}
        for label, u, v in labelled:
            graphs.setdefault(label, []).append((u, v))
        rows = []
        for label, edges in graphs.items():
            nodes = sorted({n for e in edges for n in e})
            at = {n: i for i, n in enumerate(nodes)}
            gram = np.eye(len(nodes))
            for u, v in edges:
                gram[at[u], at[v]] = gram[at[v], at[u]] = 0.35
            w, q = np.linalg.eigh(gram)
            assert w.min() > 0.05, f"label {label}: I + 0.35 A is not positive definite"
            vecs = ((q * np.sqrt(w)) @ q.T).astype(np.float32)
            rows += [(n, label, vec) for n, vec in zip(nodes, vecs)]
        return embeddings_lake(rows)

    return write
