"""Output checks, run outside every timed window.

Batch keys are compared with their ``oracle_sql()`` twin on DuckDB over
the same input view, with the row/column normalisation of the
package's correctness tool. The stream's rollup lake is compared with a
one-shot decimal-exact group-by over history and every generated event.
"""

from __future__ import annotations

import os
import sys

import duckdb


def _compare():
    # The correctness tool prepends its own checkout to sys.path on
    # import; keep this process's import path as it was.
    saved = list(sys.path)
    try:
        from tools.check_correctness import compare
    finally:
        sys.path[:] = saved
    return compare


def duck_views(view_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in sorted(os.listdir(view_dir)):
        table = name.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(view_dir, name)}')"
        )
    return con


def check_key(con, name: str, sql: str, spark_df) -> str:
    """Verdict string from the correctness tool: ``OK (<n> rows)`` or
    the first mismatch. Collecting ``spark_df`` executes the key."""
    rel = con.execute(sql)
    return _compare()(name, spark_df, rel.fetchall(), [d[0] for d in rel.description])


ROLLUP_SQL = """
    SELECT event_type AS zone,
           date_trunc('minute', ts) AS minute,
           SUM(CAST(value AS DECIMAL(18, 2))) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(value) AS peak_value
    FROM read_parquet({files})
    GROUP BY 1, 2
"""


def check_rollup(rollup_df, files: list[str]) -> str:
    """``rollup_df`` (the user-facing ``read_minute_rollup`` view) must
    equal the one-shot group-by of ``files`` bucket for bucket."""
    df = rollup_df.select("zone", "minute", "total_value", "n_events", "peak_value")
    rel = duckdb.connect().execute(ROLLUP_SQL.format(files=repr(list(files))))
    return _compare()("minute_rollup", df, rel.fetchall(), [d[0] for d in rel.description])
