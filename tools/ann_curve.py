"""ANN recall/latency tradeoff curve (r5 verdict task 6).

Fair-query measurement (query ids disjoint from the first-ids seed
vectors — the r5 correction: seed-coincident queries inflate recall
~3x) of IVF-Flat and IVF-PQ at n_probe ∈ {2, 4, 8, 16}, against the
exact top-k under each method's own metric (cosine for IVF, L2 for
IVF-PQ). Prints one markdown table row per configuration; the table
is recorded in PLANS_r6.md and the chosen operating point's recall
bar is wired into the `emb_ivf_topk` driver entry as an in-row gate.

Run:  python tools/ann_curve.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QIDS = list(range(500, 532))
K = 10


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.pq import ivf_pq_topk
    from minisql_engine_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    emb.count()

    cos_true = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, QIDS, k=K).collect()
    }
    # exact L2 top-k (IVF-PQ's metric): brute pairs via broadcast
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    q = (
        v.filter(F.col("vec_id").isin(QIDS))
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("v", "qv")
    )
    from pyspark.sql.window import Window

    l2 = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " 0.0d, (acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    l2_true = {
        (r["query_id"], r["neighbor_id"])
        for r in l2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .collect()
    }

    def recall(pairs: set, truth: set) -> float:
        return round(len(pairs & truth) / len(truth), 3)

    print("| method | n_probe | recall@10 (fair) | sec |")
    print("|---|---|---|---|")
    for n_probe in (2, 4, 8, 16):
        for label, fn, truth in (
            (
                "IVF-Flat (refine 2)",
                lambda np=n_probe: ivf_topk(
                    emb, QIDS, k=K, n_probe=np, refine_iters=2
                ),
                cos_true,
            ),
            (
                "IVF-Flat (kmeans||, refine 2)",
                lambda np=n_probe: ivf_topk(
                    emb, QIDS, k=K, n_probe=np, refine_iters=2,
                    seed="kmeans_parallel",
                ),
                cos_true,
            ),
            (
                "IVF-PQ (rerank 4)",
                lambda np=n_probe: ivf_pq_topk(
                    emb, QIDS, k=K, n_probe=np, rerank_factor=4
                ),
                l2_true,
            ),
        ):
            fn().count()  # warm (codegen + persisted centroids)
            t0 = time.perf_counter()
            rows = fn().collect()
            dt = time.perf_counter() - t0
            got = {(r["query_id"], r["neighbor_id"]) for r in rows}
            print(
                f"| {label} | {n_probe} | {recall(got, truth)} |"
                f" {dt:.2f} |"
            )
            release("centroids")
    spark.stop()





def spectrum(sf_dir: str = "/root/testdata/sf0.1") -> None:
    """One-row-per-method ANN spectrum at the chosen operating points
    (r8 VERDICT task 6): bytes scanned per corpus vector next to
    measured fair recall@10 and wall seconds — the memory/recall
    trade the BASELINE.md table records. Run:
        python tools/ann_curve.py --spectrum [sf_dir]
    """
    import time as _time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from minisql_engine_spark.operators.pq import ivf_pq_topk, pq_topk
    from minisql_engine_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_ann_topk,
    )
    from minisql_engine_spark.operators.sq import sq8_topk
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()

    cos_true = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, QIDS, k=K).collect()
    }
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    q = (
        v.filter(F.col("vec_id").isin(QIDS))
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("v", "qv")
    )
    l2 = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " 0.0d, (acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    l2_true = {
        (r["query_id"], r["neighbor_id"])
        for r in l2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .collect()
    }

    # bytes per corpus vector in the scored scan (float32 storage):
    # flat/LSH/IVF-Flat score full vectors (64×4); SQ8 scores int8
    # codes (64×1) + 2 doubles of scale state amortized; PQ/IVF-PQ
    # score 8 sub-codes (8×1). Shortlist re-ranks touch k·factor
    # vectors per query — corpus-size-independent, excluded.
    methods = (
        ("flat (exact cosine)", 256, lambda: brute_force_topk(emb, QIDS, k=K), cos_true),
        ("SQ8 (rerank 3)", 64, lambda: sq8_topk(emb, QIDS, k=K), cos_true),
        ("PQ-ADC (rerank 4)", 8, lambda: pq_topk(emb, QIDS, k=K, rerank_factor=4), l2_true),
        ("PQ-ADC m=16 (rerank 16)", 16, lambda: pq_topk(emb, QIDS, k=K, m_sub=16, rerank_factor=16), l2_true),
        ("IVF-Flat n_probe=8", 256, lambda: ivf_topk(emb, QIDS, k=K, n_probe=8, refine_iters=2), cos_true),
        ("IVF-PQ n_probe=8 (rerank 4)", 8, lambda: ivf_pq_topk(emb, QIDS, k=K, n_probe=8, rerank_factor=4), l2_true),
        ("LSH 8×4 multi-probe", 256, lambda: lsh_ann_topk(emb, QIDS, k=K, multi_probe=True), cos_true),
    )
    print(f"corpus n={n}, dims=64, queries={len(QIDS)} (fair ids), k={K}")
    print("| method | bytes/vector scanned | recall@10 | sec |")
    print("|---|---|---|---|")
    for label, bpv, fn, truth in methods:
        fn().count()  # warm
        t0 = _time.perf_counter()
        rows = fn().collect()
        dt = _time.perf_counter() - t0
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        rec = round(len(got & truth) / len(truth), 3)
        print(f"| {label} | {bpv} | {rec} | {dt:.2f} |")


if __name__ == "__main__":
    if "--spectrum" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--spectrum"]
        spectrum(args[0] if args else "/root/testdata/sf0.1")
    else:
        main()
