"""Result check against the DuckDB oracles of ``__spark_entry__.oracle_sql()``.

The rule is the order-insensitive multiset comparison of
``tools/check_correctness.py``: same column names (case-insensitive), same row
count, and the same multiset of rows with columns ordered by name.  Floats
compare exactly; lists compare as tuples.
"""

from __future__ import annotations

import math
from collections import Counter


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def expected(data_dir: str, tables, sqls: dict[str, str]) -> dict:
    """Run each oracle on DuckDB over the parquet tables in ``data_dir``:
    name -> (lower-case columns, rows), or the error text."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads = 2")
    for tbl in tables:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{data_dir}/{tbl}.parquet'")
    out = {}
    for name, sql in sqls.items():
        try:
            rel = con.sql(sql)
            out[name] = ([c.lower() for c in rel.columns], rel.fetchall())
        except Exception as exc:  # noqa: BLE001 - reported as a mismatch
            out[name] = f"duckdb: {type(exc).__name__}: {exc}"[:300]
    con.close()
    return out


def mismatch(oracle_result, spark_cols, spark_rows) -> str | None:
    """None when the Spark result equals the oracle's, else the reason."""
    if isinstance(oracle_result, str):
        return oracle_result
    ocols, orows = oracle_result
    scols = [c.lower() for c in spark_cols]
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} vs {sorted(ocols)}"
    if len(spark_rows) != len(orows):
        return f"rows {len(spark_rows)} vs {len(orows)}"
    if _multiset(spark_rows, scols) != _multiset(orows, ocols):
        return "values differ"
    return None
