"""Result canonicalization and the DuckDB oracle check.

Both sides are compared as multisets of rows with columns sorted by
name. Cells are normalized as the oracle-parity tests compare them:
floats rounded to 6 places, IEEE -0.0 kept distinct from +0.0, ints and
floats kept distinct, dates and timestamps as ISO strings.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter

import duckdb


def _cell(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            return ("f", "-0.0")
        return ("f", round(v, 6) + 0.0)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return ("t", v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _cell(x)) for k, x in v.items())))
    if v is None or isinstance(v, str):
        return v
    return ("o", type(v).__name__, str(v))


def canon(cols: list[str], rows) -> tuple[list[str], Counter]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], Counter(
        tuple(_cell(r[i]) for i in order) for r in rows
    )


def output_hash(cols: list[str], rows) -> str:
    names, bag = canon(cols, rows)
    h = hashlib.sha1(repr(names).encode())
    for row in sorted(bag.items(), key=repr):
        h.update(repr(row).encode())
    return h.hexdigest()


def connect(views: dict[str, str | list[str]]) -> duckdb.DuckDBPyConnection:
    """One in-memory DuckDB with a view per table over parquet path(s)."""
    con = duckdb.connect()
    for name, src in views.items():
        files = src if isinstance(src, list) else [src]
        quoted = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{quoted}])")
    return con


def run(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def compare(cols: list[str], rows, con, sql: str) -> str | None:
    """None when the Spark rows equal the oracle's; else a short reason.
    An empty result is a failure, not a match."""
    if not rows:
        return "empty result"
    o_cols, o_rows = run(con, sql)
    a_names, a_bag = canon(cols, rows)
    b_names, b_bag = canon(o_cols, o_rows)
    if a_names != b_names:
        return f"columns {a_names} != oracle {b_names}"
    if a_bag != b_bag:
        extra = sum((a_bag - b_bag).values())
        missing = sum((b_bag - a_bag).values())
        return f"{extra} rows not in oracle, {missing} oracle rows missing"
    return None
