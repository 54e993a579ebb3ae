"""Interpolated bigram LM: DuckDB parity, interpolation edge cases,
and the context-sensitivity property the unigram scorer lacks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import release
from minisql_engine_spark.operators.lm_score import (
    lm_bigram_perplexity,
    lm_bigram_perplexity_sql,
    lm_perplexity,
)
from minisql_engine_spark.sources import load_table
from tests.conftest import assert_matches_oracle


@pytest.fixture(autouse=True)
def _release_cache():
    yield
    release("lm")


def test_bigram_oracle_corpus(spark, duck, sf_dir):
    out = lm_bigram_perplexity(load_table(spark, sf_dir, "documents"))
    ora = duck.execute(lm_bigram_perplexity_sql()).fetchdf()
    assert_matches_oracle(out, ora, "lm_bigram")


def _tiny(spark, duck, rows):
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    duck.execute("CREATE OR REPLACE TABLE _lm(doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO _lm VALUES (?, ?)", rows)
    return sdf


def test_bigram_edges_oracle(spark, duck):
    """Single-token docs (unigram-only path), repeated bigrams,
    unseen-pair backoff, empty/NULL docs dropped — all replayed."""
    rows = [
        (1, "one"),                       # 1 token → pure unigram
        (2, "a b a b a b"),               # strong bigram structure
        (3, "b a"),                       # pair seen only here
        (4, ""),                          # dropped
        (5, None),                        # dropped
        (6, "a a a a"),                   # self-bigram
    ]
    sdf = _tiny(spark, duck, rows)
    out = lm_bigram_perplexity(sdf)
    ora = duck.execute(lm_bigram_perplexity_sql(table="_lm")).fetchdf()
    assert_matches_oracle(out, ora, "lm_bigram_edges")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 2, 3, 6}


def test_bigram_rewards_word_order(spark):
    """The property that motivates the upgrade: shuffling words
    preserves every unigram count, so the unigram LM cannot tell the
    corpora apart — the bigram LM must score the coherent doc lower
    (docs share vocabulary; only order differs)."""
    coherent = "the cat sat on the mat " * 6
    shuffled = "mat the on sat the cat " * 6
    filler = [
        (10 + i, "the cat sat on the mat and the dog ran off")
        for i in range(4)
    ]
    rows = [(1, coherent.strip()), (2, shuffled.strip())] + filler
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    bi = {
        r["doc_id"]: r["ppl"] for r in lm_bigram_perplexity(sdf).collect()
    }
    uni = {r["doc_id"]: r["ppl"] for r in lm_perplexity(sdf).collect()}
    # unigram: both repeats of the same bag → (nearly) equal ppl
    assert abs(uni[1] - uni[2]) < 1e-6
    # bigram: the corpus-frequent word order scores strictly lower
    assert bi[1] < bi[2]


def test_bigram_plan_persists_tokens(spark, sf_dir):
    """The positional token table must be read from cache by its
    multiple consumers (the bm25/hashvec persist lesson), and no
    corpus-sized sort-merge join may appear at test SF."""
    out = lm_bigram_perplexity(load_table(spark, sf_dir, "documents"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2
    assert "SortMergeJoin" not in plan
