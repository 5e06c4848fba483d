"""Rollup / cube money totals (operators/rollup.py) on a planted fixture.

Two lineitems in one (returnflag, linestatus) group whose revenues are
698.01 and 602.775: the exact total 1300.785 rounds half-up to 1300.79,
but their double sum is 1300.7849999999999, which rounds to 1300.78.
Every grain must carry the exact cent, as the oracle's decimicent sum
(``registry.money_sum_sql``) does."""

from __future__ import annotations

import duckdb
import pytest

from spendinganalysisetl_spark.operators.rollup import lineitem_cube, lineitem_rollup
from spendinganalysisetl_spark.registry import ORACLE

LINES = [("A", "F", 698.01, 0.00), ("A", "F", 669.75, 0.10)]
COLS = "l_returnflag string, l_linestatus string, l_extendedprice double, l_discount double"


@pytest.fixture()
def lineitem(spark):
    return spark.createDataFrame(LINES, COLS)


def _oracle(name: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem (l_returnflag VARCHAR, l_linestatus VARCHAR, "
        "l_extendedprice DOUBLE, l_discount DOUBLE)"
    )
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?, ?)", LINES)
    return con.execute(ORACLE[name]).fetchall()


def test_planted_rows_sit_on_the_half_cent():
    total = sum(p * (1.0 - d) for _, _, p, d in LINES)
    assert total == 1300.7849999999999 and round(total, 2) == 1300.78


@pytest.mark.parametrize(
    "build, name, grains",
    [
        (
            lineitem_rollup,
            "rollup_returnflag_linestatus",
            {("A", "F"), ("A", None), (None, None)},
        ),
        (
            lineitem_cube,
            "cube_returnflag_linestatus",
            {("A", "F"), ("A", None), (None, "F"), (None, None)},
        ),
    ],
)
def test_every_grain_sums_exact_cents(lineitem, build, name, grains):
    rows = build(lineitem).collect()
    assert {(r["l_returnflag"], r["l_linestatus"]) for r in rows} == grains
    assert [r["revenue"] for r in rows] == [1300.79] * len(grains)
    assert [tuple(r) for r in rows] == _oracle(name)
