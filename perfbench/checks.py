"""Output checks: a query's rows against its DuckDB oracle's result.

The canonicalization is the one ``tests/test_oracle_parity.py`` uses
(``_canon`` / ``_multiset``): floats to 10 significant digits,
timestamps with microseconds, order-insensitive multiset of rows with
columns matched by sorted lower-cased name.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, Decimal):
        return f"{float(v):.10g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _multiset(rows, col_order):
    return Counter(tuple(_canon(row[i]) for i in col_order) for row in rows)


def duck_con(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canonical(cols: list[str], rows: list[tuple]) -> dict:
    """A result as sorted lower-cased column names and a sorted list of
    ``[canonical row, count]`` (JSON-safe, so it can be stored)."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "cols": sorted(cols),
        "rows": sorted([list(r), n] for r, n in _multiset(rows, order).items()),
    }


def oracle_results(sf_dir: str, tables, oracles: dict[str, str]) -> dict:
    """Each oracle's result on the warehouse at ``sf_dir``, canonical."""
    con = duck_con(sf_dir, tables)
    try:
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = canonical([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def compare(cols: list[str], rows: list[tuple], expected: dict) -> str | None:
    """None when ``rows`` match the oracle's canonical result, else the reason."""
    got = canonical(cols, rows)
    if got["cols"] != expected["cols"]:
        return f"columns {got['cols']} != oracle {expected['cols']}"
    n_got = sum(n for _, n in got["rows"])
    n_want = sum(n for _, n in expected["rows"])
    if n_got != n_want:
        return f"{n_got} rows != oracle {n_want}"
    if got["rows"] != expected["rows"]:
        return "values differ from oracle"
    return None
