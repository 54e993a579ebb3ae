"""CLI surface regression tests (reference O20/O21): one-shot query,
dialect form, and error exit codes via a real subprocess."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import REFERENCE_FIXTURES as FIXTURES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*args: str):
    return subprocess.run(
        [sys.executable, "-m", "minisql_engine_spark", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=180,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )


@pytest.mark.slow
def test_one_shot_dialect_query():
    r = run_cli("--data-dir", FIXTURES, "select distinct(C) from table3")
    assert r.returncode == 0
    # ASCII table with the 10 distinct values of C
    assert r.stdout.count("\n|") >= 10 and "9020" in r.stdout


@pytest.mark.slow
def test_one_shot_unknown_column_exits_nonzero():
    r = run_cli("--data-dir", FIXTURES, "Select Z from table1")
    assert r.returncode == 1
    assert "error:" in r.stderr and "`Z`" in r.stderr


def test_data_dir_without_tables_is_an_error(tmp_path, capsys):
    """A --data-dir with neither metadata.txt nor any table fails up
    front instead of failing every query later."""
    from minisql_engine_spark.cli import main

    assert main(["--data-dir", str(tmp_path), "select 1"]) == 2
    assert capsys.readouterr().err == f"error: no tables found in {tmp_path}\n"
    assert main(["--data-dir", str(tmp_path / "absent"), "select 1"]) == 2


# --- O19 byte-format parity: the reference's AsciiTable grid ---------------

GOLDEN_SELECT_A = """\
+----------+
| table1.A |
+----------+
| 922      |
| 640      |
| 775      |
| -551     |
| -952     |
| -354     |
| -497     |
| 411      |
| -900     |
| 858      |
+----------+"""


def test_ascii_table_layout_unit():
    """Byte-exact terminaltables-AsciiTable layout, no Spark needed."""
    from minisql_engine_spark.format import ascii_table

    grid = ascii_table(
        ["table1.A"],
        [(922,), (640,), (775,), (-551,), (-952,), (-354,), (-497,), (411,), (-900,), (858,)],
    )
    assert grid == GOLDEN_SELECT_A
    # empty result: reference prints a bare blank line (sqlengine.py:449-450)
    assert ascii_table(["x"], []) == ""
    # NULLs render as NULL, widths account for them
    two = ascii_table(["a", "bb"], [(None, 1)])
    assert two.splitlines()[3] == "| NULL | 1  |"


def test_merge_headers_unit():
    from minisql_engine_spark.format import merge_headers

    # analyzed-plan qualifiers win; unqualified names stay as-is
    assert merge_headers(
        [("A", "table1"), ("B", None), ("expr", None)], {}
    ) == ["table1.A", "B", "expr"]
    # Spark's default unaliased-aggregate name gets the reference's
    # func(table.col) form (sqlengine.py:356-361) when the inner
    # column's owner is unambiguous in the plan tree
    deep = {"a": {"table1"}, "b": {"table1", "table2"}}
    assert merge_headers([("max(A)", None)], deep) == ["max(table1.A)"]
    assert merge_headers([("max(B)", None)], deep) == ["max(B)"]
    assert merge_headers([("max(Z)", None)], {}) == ["max(Z)"]


@pytest.mark.slow
def test_one_shot_golden_grid():
    """End-to-end golden: the reference corpus query renders the exact
    reference grid (qualified header, file row order, borders)."""
    r = run_cli("--data-dir", FIXTURES, "Select A from table1")
    assert r.returncode == 0
    assert GOLDEN_SELECT_A in r.stdout


@pytest.mark.slow
def test_one_shot_aggregate_header_and_empty_result():
    r = run_cli("--data-dir", FIXTURES, "select max(A) from table1")
    assert r.returncode == 0
    assert "| max(table1.A) |" in r.stdout and "| 922" in r.stdout
