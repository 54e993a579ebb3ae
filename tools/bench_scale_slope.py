"""sf0.1 → sf1 scale-slope measurement (VERDICT r10 task 7).

The 100 TB design story for the most expensive driver rows has rested
on plan inspection (cell-bounded joins, per-batch state, broadcast
dimension tables). This script adds the measurement: a 10× replica of
the driver's sf0.1 testdata (derived from it — NOT new synthetic
distributions; replicas perturb ids/content deterministically so
dedup/hash operators see realistic uniqueness), then the five most
expensive entries timed at both scales. A linear-ish slope (~10× on a
10× corpus, modulo fixed per-query overheads like Lloyd's constant
centroid work or the streaming fixed micro-batch count) corroborates
the claim; a superlinear slope falsifies it.

Replica construction (all deterministic, id-offset OFFSET=10⁷):
- documents: doc_id += r·OFFSET; text gets a per-replica suffix token
  so content hashes are unique across replicas (no artificial
  cross-replica duplicate explosion — the within-replica duplicate
  rate matches the original corpus). Source labels keep their values:
  domains stay dimension-sized, as at real scale.
- embeddings: vec_id += r·OFFSET; each component gets a deterministic
  per-(replica, id) jitter of ±1% so replicas are near but not equal
  (ANN cell populations grow 10× without degenerate exact ties).
- lineitem: l_orderkey += r·OFFSET, measures unchanged (stats_corr
  aggregates sufficient sums; replication preserves the distribution).

Scaled data lives under /tmp (ephemeral measurement artifact — the
oracle/testdata surface is untouched).

Usage (from the repo root; ~15 min)::

    python tools/bench_scale_slope.py
    python tools/bench_scale_slope.py --queries stats_corr semantic_dedup
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

OFFSET = 10_000_000
DEFAULT_QUERIES = [
    "llm_curation_funnel",
    "streaming_curate_funnel",
    "versioned_stream_admission",
    "stats_corr",
    "semantic_dedup",
]
#: which tables each measured query reads (only these are scaled)
TABLES = ["documents", "embeddings", "lineitem", "orders", "customer"]


def build_scaled(spark, src_dir: str, dst_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(dst_dir, exist_ok=True)
    reps = spark.range(factor).select(F.col("id").alias("_r"))

    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("_r") * OFFSET).alias("doc_id"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" rep"),
                    F.col("_r").cast("string"),
                    F.lit("x"),
                    F.col("doc_id").cast("string"),
                )
            )
            .alias("text"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    other = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("_r") * OFFSET).alias("vec_id"),
            *other,
            F.expr(
                "transform(embedding, (x, i) -> CAST(x * (1.0 +"
                " 0.01 * sin(CAST(_r * 1000003 + vec_id * 97 + i AS"
                " DOUBLE))) AS FLOAT))"
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "embeddings.parquet"))
    )

    li = spark.read.parquet(os.path.join(src_dir, "lineitem.parquet"))
    (
        li.crossJoin(reps)
        .select(
            (F.col("l_orderkey") + F.col("_r") * OFFSET).alias(
                "l_orderkey"
            ),
            *[c for c in li.columns if c != "l_orderkey"],
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "lineitem.parquet"))
    )

    # orders: keys offset in lockstep with lineitem so the
    # orderkey join scales coherently; custkey offset too, so the
    # customer node set grows 10× while suppliers stay shared
    # (hub structure — the realistic shape for a trade graph)
    od = spark.read.parquet(os.path.join(src_dir, "orders.parquet"))
    (
        od.crossJoin(reps)
        .select(
            (F.col("o_orderkey") + F.col("_r") * OFFSET).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.col("_r") * OFFSET).alias(
                "o_custkey"
            ),
            *[
                c
                for c in od.columns
                if c not in ("o_orderkey", "o_custkey")
            ],
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "orders.parquet"))
    )

    _scale_customer(spark, src_dir, dst_dir, factor)


def _scale_customer(spark, src_dir: str, dst_dir: str, factor: int):
    """customer replicas: keys offset (10× distinct customers), names
    re-suffixed per replica (no artificial cross-replica typo
    collisions — lev >> 2 across replicas), and NATIONKEY offset per
    replica so blocking-key cardinality grows WITH the corpus — the
    linkage module's documented contract (pick blocking keys the way
    you'd pick IVF cells: block size bounded, block count ∝ n). A
    replica set sharing the original 125 blocks would instead fatten
    every block 10× and measure the deliberate quadratic of an
    under-carded blocking key, not the operator."""
    from pyspark.sql import functions as F

    reps = spark.range(factor).select(F.col("id").alias("_r"))
    cu = spark.read.parquet(os.path.join(src_dir, "customer.parquet"))
    (
        cu.crossJoin(reps)
        .select(
            (F.col("c_custkey") + F.col("_r") * OFFSET).alias(
                "c_custkey"
            ),
            (F.col("c_nationkey") + F.col("_r") * 100).alias(
                "c_nationkey"
            ),
            F.when(F.col("_r") == 0, F.col("c_name"))
            .otherwise(
                F.concat(
                    F.col("c_name"),
                    F.lit(" r"),
                    F.col("_r").cast("string"),
                )
            )
            .alias("c_name"),
            *[
                c
                for c in cu.columns
                if c not in ("c_custkey", "c_name", "c_nationkey")
            ],
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "customer.parquet"))
    )


def _matryoshka_nq40(spark, sf_dir):
    """The r12 n_queries budget variant: same audit, absolute
    40-query budget — the O(n·n_queries) scale path next to the
    registry row's proportional query_mod sampling."""
    from minisql_engine_spark.operators.matryoshka import (
        matryoshka_recall,
    )
    from minisql_engine_spark.sources.parquet_catalog import load_table

    return matryoshka_recall(
        load_table(spark, sf_dir, "embeddings"), n_queries=40
    )


#: operator variants measurable by name beside registry rows
EXTRA_VARIANTS = {"matryoshka_nq40": _matryoshka_nq40}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--queries", nargs="*", default=DEFAULT_QUERIES)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument(
        "--scaled-dir", default="/tmp/minisql_scaled_sf1"
    )
    ap.add_argument(
        "--keep", action="store_true", help="keep the scaled data"
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import importlib

    em = importlib.import_module("__spark_entry__")
    qs = dict(em.queries())
    qs.update(em.archived_queries())
    qs.update(EXTRA_VARIANTS)

    t0 = time.monotonic()
    build_scaled(spark, args.sf, args.scaled_dir, args.factor)
    print(
        json.dumps(
            {"build_scaled_s": round(time.monotonic() - t0, 1)}
        ),
        flush=True,
    )

    from minisql_engine_spark.materialize import release

    def _release():
        # same inter-query hygiene as bench.py: drop persisted state
        release()
        spark.catalog.clearCache()

    out = {}
    for name in args.queries:
        fn = qs[name]
        row = {}
        for label, d in [("sf0.1", args.sf), ("sf1", args.scaled_dir)]:
            times = []
            for _ in range(args.samples):
                _release()
                t0 = time.monotonic()
                fn(spark, d).count()
                times.append(round(time.monotonic() - t0, 2))
            row[label] = min(times)
            row[f"{label}_samples"] = times
        row["slope"] = round(row["sf1"] / max(row["sf0.1"], 1e-9), 2)
        out[name] = row
        print(json.dumps({name: row}), flush=True)

    print(json.dumps({"slopes": {n: r["slope"] for n, r in out.items()}}))
    if not args.keep:
        shutil.rmtree(args.scaled_dir, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
