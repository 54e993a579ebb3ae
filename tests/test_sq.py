"""SQ8 scalar quantization — oracle parity, recall, code bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from minisql_engine_spark.materialize import release
from minisql_engine_spark.operators.sq import (
    sq8_codebook,
    sq8_encode,
    sq8_topk,
    sq8_topk_sql,
)
from minisql_engine_spark.sources import load_table
from tests.conftest import assert_matches_oracle

QIDS = [100, 101, 102, 103, 104]


def test_sq8_topk_oracle_parity(spark, duck, sf_dir):
    out = sq8_topk(load_table(spark, sf_dir, "embeddings"), QIDS, k=10)
    ddf = duck.execute(sq8_topk_sql(QIDS, k=10)).fetchdf()
    assert_matches_oracle(out, ddf, "sq8_topk")
    release("sq")


def test_sq8_approx_only_oracle_parity(spark, duck, sf_dir):
    out = sq8_topk(
        load_table(spark, sf_dir, "embeddings"), QIDS, k=10, rerank=False
    )
    ddf = duck.execute(sq8_topk_sql(QIDS, k=10, rerank=False)).fetchdf()
    assert_matches_oracle(out, ddf, "sq8_approx")
    release("sq")


def test_sq8_recall_vs_exact(spark, sf_dir):
    """SQ8's whole reason to exist: recall@10 ≈ 1 at 1/4 the bytes.
    Gate conservatively at ≥0.9 mean (reranked) and ≥0.8 approx."""
    from minisql_engine_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, QIDS, k=10).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(emb, QIDS, k=10).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(emb, QIDS, k=10, rerank=False).collect()
    }
    assert len(approx & truth) / len(truth) >= 0.8
    release("sq")


def test_sq8_codes_bounded_and_extremes_hit_rails(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = sq8_codebook(emb)
    codes = sq8_encode(emb, cb)
    stats = codes.select(
        F.explode("codes").alias("c")
    ).agg(F.min("c").alias("lo"), F.max("c").alias("hi")).collect()[0]
    assert stats["lo"] == 0 and stats["hi"] == 255
    release("sq")


def test_sq8_degenerate_dimension_encodes_zero(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    cb = sq8_codebook(emb)
    rows = {
        r["vec_id"]: r["codes"]
        for r in sq8_encode(emb, cb).collect()
    }
    assert all(c[0] == 0 for c in rows.values())  # constant dim
    assert rows[1][1] == 0 and rows[2][1] == 255  # rails
    release("sq")
