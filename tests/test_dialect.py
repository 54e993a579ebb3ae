"""Dialect shim unit behavior that needs no Spark session or fixture
data: the ``average(`` and ``distinct(`` rewrites, comment stripping,
the multi-column DISTINCT error, and that rewrites apply only outside
single-quoted string literals."""

from __future__ import annotations

import pytest

from minisql_engine_spark.plans.dialect import DialectError, rewrite_query


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


def test_rewrite_distinct_and_comments():
    assert (
        rewrite_query("select distinct(C) from t -- note\n;")
        == "select DISTINCT C from t"
    )
    assert rewrite_query("select average(A) from t") == "select avg(A) from t"


def test_multi_distinct_rejected():
    with pytest.raises(DialectError):
        rewrite_query("select distinct(a), distinct(b) from t")


def test_ansi_count_distinct_passes_through():
    # count(distinct(a)), count(distinct(b)) is valid ANSI — must NOT
    # trip the multi-column dialect error
    q = rewrite_query(
        "select count(distinct(a)), count(distinct(b)) from t"
    )
    assert "count(distinct(a))" in q


def test_comment_inside_string_literal_preserved():
    q = rewrite_query("select * from t where x = 'a--b' -- real comment")
    assert "'a--b'" in q and "real comment" not in q
