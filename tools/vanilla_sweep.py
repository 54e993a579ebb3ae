"""Vanilla-session sweep — the repeatable form of the r9 gate.

The driver imports ``__spark_entry__`` with its OWN SparkSession
(plain ``SparkSession.builder``, default 200 shuffle partitions) —
NOT the tuned 8-partition session the pytest fixtures build. The r8
``embedding_drift`` miss hid for a full round because the archive
rows had only ever been parity-tested on the tuned session; commit
0fbb2c4 eradicated that class once with a manual 70/70 sweep. This
script makes the sweep a one-command gate so rotation can never
reintroduce tuned-session-only rows.

Usage (from the repo root; takes a few minutes — every window AND
archived row runs on a fresh vanilla session and is compared
exact-value against its DuckDB oracle)::

    python tools/vanilla_sweep.py                 # full 120-row surface
    python tools/vanilla_sweep.py name1 name2     # just those rows
    python tools/vanilla_sweep.py --sf /root/testdata/sf0.01

Exit code 0 = every oracled row exact (rows-only rows checked for
rows >= 0); 1 = any mismatch, listed at the end.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="subset of rows to sweep")
    ap.add_argument(
        "--sf", default="/root/testdata/sf0.01", help="testdata dir"
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    # deliberately NOT minisql_engine_spark.get_spark(): the point is
    # the driver's vanilla environment (200 shuffle partitions, no
    # tuned configs)
    def _fresh_session():
        return (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
            )
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )

    spark = _fresh_session()
    em = importlib.import_module("__spark_entry__")

    def _release_caches() -> None:
        # bench.py's inter-query hygiene: a 131-row sweep in ONE
        # vanilla 1g-heap session OOMs around row 105 without it
        # (r11); the driver itself never runs more than the 50-row
        # window per session, so per-row release + periodic session
        # recycle keeps the sweep at least as forgiving as the
        # driver's real condition.
        for mod, fn in [
            ("minisql_engine_spark.operators.dedup", "clear_simhash_cache"),
            ("minisql_engine_spark.operators.sq", "clear_sq_cache"),
            ("minisql_engine_spark.operators.curriculum",
             "clear_curriculum_cache"),
            ("minisql_engine_spark.operators.lm_score",
             "clear_lm_frozen_cache"),
            ("minisql_engine_spark.operators.editsim",
             "clear_editsim_cache"),
            ("minisql_engine_spark.operators.hashvec",
             "clear_hashvec_cache"),
            ("minisql_engine_spark.operators.similarity",
             "clear_centroid_cache"),
            ("minisql_engine_spark.operators.clustering",
             "clear_clustering_cache"),
            ("minisql_engine_spark.operators.semdedup",
             "clear_semdedup_cache"),
            ("minisql_engine_spark.operators.retrieval",
             "clear_retrieval_cache"),
            ("minisql_engine_spark.operators.graph", "clear_graph_cache"),
            ("minisql_engine_spark.operators.classify",
             "clear_classify_cache"),
            ("minisql_engine_spark.operators.knn_graph",
             "clear_knn_cache"),
        ]:
            try:
                getattr(importlib.import_module(mod), fn)()
            except Exception:
                pass
        try:
            spark.catalog.clearCache()
        except Exception:
            pass

    #: recycle the vanilla session every N rows — mirrors the driver
    #: contract (≤ 50 rows per session) instead of stacking the whole
    #: 131-row surface onto one default-1g JVM heap
    recycle_every = 40

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = dict(em.queries())
    qs.update(em.archived_queries())
    oracles = dict(em.oracle_sql())
    oracles.update(em.archived_oracle_sql())
    names = args.names or sorted(qs)

    from tests.conftest import normalize
    import pandas as pd

    fails: list[str] = []
    for idx, name in enumerate(names):
        if idx and idx % recycle_every == 0:
            _release_caches()
            spark.stop()
            spark = _fresh_session()
        if name not in qs:
            print(f"{name}: UNKNOWN row name", flush=True)
            fails.append(name)
            continue
        t0 = time.time()
        try:
            sp = normalize(qs[name](spark, args.sf).toPandas())
            o = oracles.get(name)
            if o is None:
                print(
                    f"{name}: rows-only ({len(sp)} rows,"
                    f" {time.time() - t0:.1f}s)",
                    flush=True,
                )
                continue
            du = normalize(con.execute(o).fetchdf())
            ok = list(sp.columns) == list(du.columns) and len(sp) == len(
                du
            )
            if ok and len(sp):
                try:
                    pd.testing.assert_frame_equal(
                        sp, du, check_dtype=False, check_exact=True
                    )
                except AssertionError:
                    ok = False
            print(
                f"{name}: {'OK' if ok else 'MISMATCH'}"
                f" ({len(sp)} rows, {time.time() - t0:.1f}s)",
                flush=True,
            )
            if not ok:
                fails.append(name)
        except Exception as e:  # noqa: BLE001 — sweep must finish
            print(f"{name}: ERROR {e!r:.200}", flush=True)
            fails.append(name)
        finally:
            _release_caches()

    print(f"\nswept {len(names)} rows, FAILS = {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
