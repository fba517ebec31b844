"""Output check: a query's Spark rows against its DuckDB ``oracle_sql``.

Rows are compared as multisets over the columns sorted by name, the
same normalisation as the repository's oracle gate.  Floats compare
with a relative tolerance of 1e-9 instead of exact digits, so a last-ulp
difference between the engines does not count as a wrong answer while
any real change to a value does.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-12


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    """Map engine-specific Python values onto comparable ones."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytearray):
        return bytes(v)
    if hasattr(v, "asDict"):  # pyspark Row (a struct column) is also a tuple
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _sort_key(row):
    # floats rounded to 6 significant digits so 1-ulp noise cannot reorder rows
    return tuple(
        (f"{v:.6g}" if isinstance(v, float) else repr(v)) for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in idx) for r in rows]
    return [cols[i] for i in idx], sorted(out, key=_sort_key)


def compare(s_cols, s_rows, o_cols, o_rows) -> str | None:
    """None when the two results agree, else a one-line reason."""
    sc, sn = normalize(list(s_cols), s_rows)
    oc, on = normalize(list(o_cols), o_rows)
    if sc != oc:
        return f"columns differ: spark={sc} oracle={oc}"
    if len(sn) != len(on):
        return f"row count differs: spark={len(sn)} oracle={len(on)}"
    for i, (a, b) in enumerate(zip(sn, on)):
        if not _same(a, b):
            return f"row {i} differs: spark={a} oracle={b}"
    return None


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
