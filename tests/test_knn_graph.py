"""Blocked kNN-graph — oracle parity, degree/self-edge contracts,
and a brute-force recall sanity check on a crafted corpus."""

from __future__ import annotations

import math

import pandas as pd

from minisql_engine_spark.operators.knn_graph import (
    knn_graph,
    knn_graph_sql,
)
from minisql_engine_spark.sources.parquet_catalog import load_table
from tests.conftest import assert_matches_oracle


def test_knn_graph_oracle_corpus(spark, duck, sf_dir):
    out = knn_graph(load_table(spark, sf_dir, "embeddings"), k=5)
    assert_matches_oracle(
        out, duck.execute(knn_graph_sql(k=5)).df(), "knn_graph"
    )


def test_knn_graph_contracts(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_graph(emb, k=5).toPandas()
    # no self edges, ranks dense 1..deg per source, degree <= k
    assert (out.src_id != out.nbr_id).all()
    deg = out.groupby("src_id")["rank"]
    assert (deg.max() == deg.size()).all()
    assert (deg.max() <= 5).all()
    # every source appears (each vector has >= k candidates here)
    assert out.src_id.nunique() == emb.count()
    # per-source sims are non-increasing in rank
    s = out.sort_values(["src_id", "rank"])
    worse = s.groupby("src_id")["sim"].diff().dropna()
    assert (worse <= 0).all()


def test_knn_graph_cache_bounded(spark, sf_dir):
    """ADVICE r10: the corpus-sized assignment persist must be held
    BOUNDED under its own owner, not with the centroid tables —
    repeated calls must not accumulate unbounded persisted storage."""
    from minisql_engine_spark.materialize import _HELD, held, release
    from minisql_engine_spark.operators.knn_graph import N_CELLS

    def count(owner):
        return sum(1 for o, _ in held() if o == owner)

    release("knn")
    cents_before = count("centroids")
    emb = load_table(spark, sf_dir, "embeddings")
    for _ in range(3):
        knn_graph(emb, k=3).count()
    assert count("knn") <= 2
    # only the tiny centroid tables are held as centroids
    assert count("centroids") - cents_before == 3
    cents = [df for o, _, df in _HELD if o == "centroids"]
    for cached in cents[cents_before:]:
        assert cached.count() <= N_CELLS
    release("knn")
    assert count("knn") == 0


def test_knn_graph_single_cell_is_exact(spark, duck):
    """n_cells=1 degenerates to brute force: the graph must equal
    the exact top-k by rounded cosine."""

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [(i, vec(0.35 * i), 0) for i in range(8)]
    sdf = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    duck.register(
        "_knn",
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
    )
    out = knn_graph(sdf, k=3, n_cells=1, n_iter=1, n_probe=1, dims=4)
    oracle = knn_graph_sql(
        k=3, n_cells=1, n_iter=1, n_probe=1, dims=4, table="_knn"
    )
    assert_matches_oracle(out, duck.execute(oracle).df(), "knn-1cell")
    got = out.toPandas()
    # brute-force replay in Python over the same rounded cosine
    import itertools

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    by_id = {i: v for i, v, _ in rows}
    for src in by_id:
        want = sorted(
            ((-cos(by_id[src], by_id[n]), n) for n in by_id if n != src)
        )[:3]
        mine = got[got.src_id == src].sort_values("rank")
        assert list(mine.nbr_id) == [n for _, n in want], src
        assert list(mine.sim) == [-c for c, _ in want], src


def test_knn_refine_oracle_corpus(spark, duck, sf_dir):
    from minisql_engine_spark.operators.knn_graph import (
        knn_graph_refine,
        knn_graph_refine_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = knn_graph(emb, k=5)
    out = knn_graph_refine(emb, base, k=5, n_rounds=1)
    assert_matches_oracle(
        out,
        duck.execute(knn_graph_refine_sql(k=5, n_rounds=1)).df(),
        "knn_refine",
    )


def test_knn_refine_recall_non_decreasing(spark, sf_dir):
    """NN-descent recovers recall the cell blocking loses: measured
    against brute-force cosine top-k, refined recall >= base recall,
    and strictly above on the n_probe=2 base (an n_probe=1 base is
    un-improvable by construction: its edges never leave the home
    cell — see the operator docstring)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from minisql_engine_spark.operators.knn_graph import (
        knn_graph_refine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = 5
    # exact truth by the same rounded cosine
    from minisql_engine_spark.operators.similarity import (
        as_double_sql,
        norm_sql,
        score_sql,
    )

    v = emb.selectExpr(
        "vec_id", as_double_sql("embedding") + " as v"
    ).withColumn("nv", F.expr(norm_sql("v")))
    a = (
        v.selectExpr("vec_id as src_id", "v as sv", "nv as sn")
    )
    b = (
        v.selectExpr("vec_id as nbr_id", "v as cv", "nv as cn")
    )
    pairs = a.crossJoin(b).filter(F.col("src_id") != F.col("nbr_id"))
    w = Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("nbr_id")
    )
    truth = (
        pairs.select(
            "src_id",
            "nbr_id",
            F.expr(score_sql("sv", "cv", "sn", "cn")).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    tset = {(r.src_id, r.nbr_id) for r in truth.collect()}

    base = knn_graph(emb, k=k, n_probe=2)
    bset = {(r.src_id, r.nbr_id) for r in base.collect()}
    ref = knn_graph_refine(emb, base, k=k, n_rounds=2)
    rset = {(r.src_id, r.nbr_id) for r in ref.collect()}
    base_recall = len(bset & tset) / len(tset)
    ref_recall = len(rset & tset) / len(tset)
    assert ref_recall >= base_recall
    assert ref_recall > base_recall, (base_recall, ref_recall)
    # shape contracts survive refinement
    refp = ref.toPandas()
    assert (refp.src_id != refp.nbr_id).all()
    deg = refp.groupby("src_id")["rank"]
    assert (deg.max() == deg.size()).all()
    assert (deg.max() <= k).all()
