"""REPL + one-shot CLI drivers (reference O20/O21 parity).

The reference runs either ``python sqlengine.py "<query>"`` (one-shot,
``sqlengine.py:731-741``) or an interactive ``SqlEngine>`` prompt loop
(``:720-728``, exit on ``q``/``quit``, blank lines ignored). Same
surface here, Spark-backed, with the data directory an explicit
argument (fixes Q11 — the reference silently loaded from its own
script directory):

    python -m minisql_engine_spark --data-dir DIR            # REPL
    python -m minisql_engine_spark --data-dir DIR "<query>"  # one-shot

``DIR`` may hold driver-style parquet tables or reference-style
``metadata.txt`` + headerless integer CSVs — both catalogs register
as temp views, and queries go through the dialect shim.
"""

from __future__ import annotations

import argparse
import os
import sys


def _has_tables(data_dir: str) -> bool:
    """Whether ``data_dir`` holds a CSV catalog or any parquet table
    (checked before a Spark session is started)."""
    from minisql_engine_spark.sources.parquet_catalog import TABLES

    names = ["metadata.txt"] + [f"{t}.parquet" for t in TABLES]
    return any(os.path.exists(os.path.join(data_dir, n)) for n in names)


def _load(spark, data_dir: str) -> list[str]:
    from minisql_engine_spark.sources import load_csv_database, register_views

    if os.path.exists(os.path.join(data_dir, "metadata.txt")):
        return sorted(load_csv_database(spark, data_dir))
    return sorted(register_views(spark, data_dir))


def _execute(spark, query: str) -> int:
    from pyspark.errors import AnalysisException, ParseException

    from minisql_engine_spark.format import ascii_table, qualified_headers
    from minisql_engine_spark.plans import run_sql
    from minisql_engine_spark.plans.dialect import DialectError

    try:
        df = run_sql(spark, query)
        # reference-layout AsciiTable grid (O19/O21), qualified
        # table.col headers from the analyzed plan; ONE plan
        # execution — take(cap+1) both fetches the rows and detects
        # truncation (cap keeps the driver safe; say so when it bites)
        cap = 100_000
        rows = df.take(cap + 1)
        print(ascii_table(qualified_headers(df), rows[:cap]))
        if len(rows) > cap:
            print(f"... output truncated at {cap} rows", file=sys.stderr)
        return 0
    except (AnalysisException, ParseException, DialectError) as exc:
        # friendly error surface (reference O22); keep Catalyst's
        # precise unknown/ambiguous-identifier message, drop the plan
        msg = str(getattr(exc, "desc", None) or exc).strip().splitlines()[0]
        print(f"error: {msg}", file=sys.stderr)
        return 1


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="minisql_engine_spark",
        description="PySpark-native mini analytics engine",
    )
    parser.add_argument("query", nargs="?", help="one-shot SQL; omit for REPL")
    parser.add_argument(
        "--data-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="directory of parquet tables or metadata.txt+CSVs",
    )
    args = parser.parse_args(argv)
    if not _has_tables(args.data_dir):
        print(f"error: no tables found in {args.data_dir}", file=sys.stderr)
        return 2

    from minisql_engine_spark import get_spark

    spark = get_spark("minisql-cli")
    spark.sparkContext.setLogLevel("ERROR")
    tables = _load(spark, args.data_dir)
    if args.query is not None:
        return _execute(spark, args.query)

    print(f"loaded tables: {', '.join(tables)}")
    while True:
        try:
            line = input("SqlEngine> ").strip()
        except EOFError:
            break
        if not line:
            continue
        if line.lower() in {"q", "quit", "exit"}:
            break
        _execute(spark, line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
