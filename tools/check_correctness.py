"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, then compares row count, column names,
and order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from smart_city_data_pipeline_spark.catalog import TABLES
from smart_city_data_pipeline_spark.session import get_spark


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _row_key(row: tuple) -> tuple:
    """None-safe, cross-type-safe sort key: Python can't order None
    against a value (or an int against a str), which crashed the sort
    whenever a NULLABLE column had to break a tie on the prefix
    columns. Sort by (type-tag, value) per cell instead."""
    return tuple(
        (1, "") if v is None else (2, str(type(v)), str(v)) for v in row
    )


def compare(name, spark_df, duck_rows, duck_cols):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return f"COLS MISMATCH spark={s_cols} duck={d_cols}"
    s_idx = [spark_df.columns.index(c) for c in s_cols]
    d_idx = [duck_cols.index(c) for c in d_cols]
    s_rows = sorted(
        (tuple(norm_cell(r[i]) for i in s_idx) for r in spark_df.collect()),
        key=_row_key,
    )
    d_rows = sorted(
        (tuple(norm_cell(r[i]) for i in d_idx) for r in duck_rows),
        key=_row_key,
    )
    if len(s_rows) != len(d_rows):
        return f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return f"VALUE MISMATCH at row {i}: spark={a} duck={b}"
    return f"OK ({len(s_rows)} rows)"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                rel = con.execute(oracles[name])
                duck_cols = [d[0] for d in rel.description]
                duck_rows = rel.fetchall()
                verdict = compare(name, sdf, duck_rows, duck_cols)
            else:
                verdict = f"rows-only ({sdf.count()} rows)"
        except Exception as ex:
            verdict = f"ERROR {type(ex).__name__}: {ex}"
        status = "PASS" if verdict.startswith(("OK", "rows-only")) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"[{status}] {name}: {verdict[:300]}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
