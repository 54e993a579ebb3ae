"""Shared fixtures: one tuned SparkSession per test session, a DuckDB
connection with the driver's pre-registered parquet views, and an
oracle-comparison helper mirroring the driver's check (row count +
schema + order-insensitive value hash)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minisql_engine_spark import get_spark  # noqa: E402
from minisql_engine_spark.sources.parquet_catalog import TABLES  # noqa: E402

# Driver runs correctness at sf0.01; allow sf0.001 for quick local loops.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

# The reference's TestCases fixtures (metadata.txt, table1-3.csv),
# checked in so the corpus and CLI tests read the same copy.
REFERENCE_FIXTURES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "reference"
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("minisql-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style normalization: columns sorted by name, rows sorted by
    all columns, index dropped — makes comparison order-insensitive."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        # unify datetime precisions (parquet ns vs spark us)
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def assert_matches_oracle(spark_df, duck_df: pd.DataFrame, name: str = "") -> None:
    sp = normalize(spark_df.toPandas())
    du = normalize(duck_df)
    assert list(sp.columns) == list(du.columns), (
        f"{name}: schema mismatch spark={list(sp.columns)} duck={list(du.columns)}"
    )
    assert len(sp) == len(du), f"{name}: rowcount spark={len(sp)} duck={len(du)}"
    if len(sp):
        try:
            pd.testing.assert_frame_equal(
                sp, du, check_dtype=False, check_exact=True, obj=name
            )
        except AssertionError:
            # fall back with a diff summary for floats
            pd.testing.assert_frame_equal(
                sp, du, check_dtype=False, rtol=0, atol=0, obj=name
            )
