"""End-to-end: the reference's entire 15-query corpus
(``TestCases/test.txt``) through the SQL front door on the reference's
own CSV fixtures, checked in under ``tests/fixtures/reference/`` —
capability parity, ANSI semantics
(SURVEY §5.2 item 1). Expected values computed from the fixture data
with correct relational semantics (not the reference's Q1-Q11 bugs)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.errors import AnalysisException

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minisql_engine_spark.plans import run_sql  # noqa: E402
from minisql_engine_spark.sources import load_csv_database  # noqa: E402
from tests.conftest import REFERENCE_FIXTURES as FIXTURES  # noqa: E402


@pytest.fixture(scope="module")
def ref_db(spark):
    return load_csv_database(spark, FIXTURES)


def rows(spark, q):
    return sorted(tuple(r) for r in run_sql(spark, q).collect())


def test_q1_full_scan(spark, ref_db):
    out = rows(spark, "select * from table1")
    assert len(out) == 10 and out[0] == (-952, 311, 1318)


def test_q2_to_q5_aggregates(spark, ref_db):
    assert rows(spark, "select max(A) from table1") == [(922,)]
    assert rows(spark, "select min(B) from table1") == [(85,)]
    [(avg_c,)] = rows(spark, "select avg(C) from table1")
    assert abs(avg_c - 5862.0) < 1e-9
    assert rows(spark, "select sum(D) from table2") == [(107459,)]


def test_q6_projection(spark, ref_db):
    out = rows(spark, "select A from table1")
    assert len(out) == 10 and out[0] == (-952,)


def test_q7_cartesian(spark, ref_db):
    out = rows(spark, "select A,D from table1,table2")
    assert len(out) == 100  # 10×10, no 1000-row cap semantics


def test_q8_distinct_dialect(spark, ref_db):
    # reference dialect distinct(C) via the shim; table3 = table1 ×32
    out = rows(spark, "select distinct(C) from table3")
    assert len(out) == 10


def test_q9_filter(spark, ref_db):
    assert rows(spark, "select B,C from table1 where A=-900") == [(718, 9020)]


def test_q10_q11_or_and_semicolon(spark, ref_db):
    out = rows(spark, "select A,B from table1 where A=775 OR B=803")
    assert (775, 85) in out and (411, 803) in out
    out2 = rows(spark, "select A,B from table1 where A=922 OR B=158;")
    assert (922, 158) in out2


def test_q12_join_star(spark, ref_db):
    # join with USING-style dedup: B emitted once → 4 columns
    df = run_sql(
        spark,
        "select table1.A, B, table1.C, table2.D from table1 "
        "join table2 using (B)",
    )
    assert df.columns == ["A", "B", "C", "D"]
    assert df.count() == 10  # B is a 1:1 key in the fixtures


def test_q13_join_projection(spark, ref_db):
    out = rows(
        spark,
        "select A,D from table1,table2 where table1.B=table2.B",
    )
    assert len(out) == 10


def test_q14_unknown_table_errors(spark, ref_db):
    with pytest.raises(AnalysisException):
        run_sql(spark, "Select A from table4;").collect()


def test_q15_unknown_column_errors(spark, ref_db):
    with pytest.raises(AnalysisException):
        run_sql(spark, "Select Z from table1;").collect()


def test_ambiguous_column_errors(spark, ref_db):
    # B exists in table1 and table2 (reference errors too,
    # sqlengine.py:170-172)
    with pytest.raises(AnalysisException):
        run_sql(spark, "select B from table1, table2").collect()


def test_all_comparators_execute(spark, ref_db):
    # Q1 fix: < > <= >= != must actually filter (reference ran all as =)
    assert len(rows(spark, "select A from table1 where A < 0")) == 5
    assert len(rows(spark, "select A from table1 where A >= 900")) == 1
    assert len(rows(spark, "select A from table1 where A != -900")) == 9


def test_unknown_conjunction_rejected(spark):
    import pytest as _pytest

    from minisql_engine_spark.operators import relational as R
    from pyspark.sql import functions as F

    df = spark.range(3)
    with _pytest.raises(ValueError):
        R.filter_rows(df, F.col("id") > 0, F.col("id") < 2, conjunction="nad")


def test_salted_join_rejects_right_outer(spark):
    import pytest as _pytest

    from minisql_engine_spark.operators.skew import salted_join

    df = spark.range(3).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError):
        salted_join(df, df, on="k", how="right")


def test_pandas_quality_udf_null_text(spark):
    from minisql_engine_spark.functions import quality_score_pandas_udf

    df = spark.createDataFrame([(1, "the cat and dog"), (2, None)], ["i", "text"])
    rows = {r["i"]: r["q"] for r in df.select(
        "i", quality_score_pandas_udf("text").alias("q")).collect()}
    assert rows[2] is None and rows[1] is not None


def test_csv_column_count_mismatch_errors(spark, tmp_path):
    """Reference parity (sqlengine.py:152-154): a CSV row whose column
    count contradicts metadata.txt is a hard error, not a silent
    NULL-fill."""
    from minisql_engine_spark.sources.csv_metadata import (
        CsvSchemaError,
        load_csv_database,
    )

    (tmp_path / "metadata.txt").write_text(
        "<begin_table>\nbadtab\nA\nB\nC\n<end_table>\n"
    )
    (tmp_path / "badtab.csv").write_text("1,2,3\n4,5\n6,7,8\n")
    with pytest.raises(CsvSchemaError, match="badtab.*2 columns.*3"):
        load_csv_database(spark, str(tmp_path))
    # validate=False restores the permissive NULL-fill read
    dfs = load_csv_database(spark, str(tmp_path), validate=False, register=False)
    assert dfs["badtab"].count() == 3
