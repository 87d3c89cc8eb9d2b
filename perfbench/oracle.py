"""DuckDB answers and the comparison every operation's output must pass.

Answers are computed before the timed window. Values compare exactly
after normalisation (floats by repr, decimals via float, timestamps by
ISO text); the workloads' queries keep money in decimals on both sides
so that exact comparison holds.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb


def connect(data_dir: str, tables: tuple[str, ...], temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def fetch(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canonical(cols: list[str], rows, ordered: bool = False) -> tuple[tuple[str, ...], list]:
    """Columns in name order; rows re-projected and normalised, sorted
    unless the row order itself is part of the answer."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    if not ordered:
        out.sort(key=repr)
    return tuple(cols[i] for i in order), out


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when the canonical answers agree, else a short description
    of the first differences."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {list(gcols)} != expected {list(wcols)}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != expected {len(wrows)}"
    if grows == wrows:
        return None
    bad = [(g, w) for g, w in zip(grows, wrows) if g != w][:3]
    return f"{sum(g != w for g, w in zip(grows, wrows))} rows differ, e.g. got/expected {bad}"
