"""Dialect shim unit behavior that needs no Spark session or fixture
data: the ``average(`` and ``distinct(`` rewrites apply only outside
single-quoted string literals."""

from __future__ import annotations

import pytest

from minisql_engine_spark.plans.dialect import rewrite_query


@pytest.mark.parametrize(
    "q",
    [
        "select 'x, distinct(B)' from table1",
        "select 'average(' from table1",
        "select 'it''s distinct(B)' from table1",
    ],
)
def test_rewrites_leave_string_literals_unchanged(q):
    assert rewrite_query(q) == q


def test_rewrites_still_apply_beside_a_literal():
    assert (
        rewrite_query("select 'average(', average(A) from t -- c\n;")
        == "select 'average(', avg(A) from t"
    )
    assert (
        rewrite_query("select distinct(C) from t where x = 'distinct(D)'")
        == "select DISTINCT C from t where x = 'distinct(D)'"
    )
