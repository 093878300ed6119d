"""Reference results for the registry ops: ``queries.ORACLE_SQL`` on DuckDB.

Results are compared with the row canonicalisation of the repository's
correctness gate (``tools/check_correctness.py``): same column names,
same row count and the same order-insensitive row set, with doubles
rounded to 12 significant digits.
"""

from __future__ import annotations

import duckdb

from gen import TABLES
from tools.check_correctness import row_set


def oracle_results(data_dir: str, sql_by_name: dict[str, str]) -> dict[str, tuple]:
    """Name -> (columns, canonical row set) from DuckDB over ``data_dir``."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, sql in sql_by_name.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = (cols, row_set(cols, res.fetchall()))
        return out
    finally:
        con.close()


def mismatch(expected: tuple, cols: list[str], rows: list[tuple]) -> str | None:
    """Why a Spark result differs from the oracle's, or None if it matches."""
    ocols, orows = expected
    if sorted(cols) != sorted(ocols):
        return f"columns {cols} != oracle {ocols}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    got = row_set(cols, rows)
    if got != orows:
        diff = [(a, b) for a, b in zip(got, orows) if a != b][:2]
        return f"values differ, first: {diff}"
    return None
