"""Naive Bayes classifier — discrimination, smoothing, edge cases."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from minisql_engine_spark.materialize import release
from minisql_engine_spark.operators.classify import (
    nb_classify_self,
    nb_score,
    nb_train,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def test_planted_signal_perfect_in_sample(spark):
    """Disjoint vocabularies per class → in-sample accuracy 1.0 (the
    discriminative behavior the driver corpus cannot show)."""
    rows = []
    for i in range(10):
        rows.append((i, "a", "apple apricot avocado apple"))
        rows.append((100 + i, "b", "banana blueberry bilberry banana"))
        rows.append((200 + i, "c", "cherry cranberry currant cherry"))
    out = nb_classify_self(_docs(spark, rows)).collect()
    assert len(out) == 30
    assert all(r["correct"] for r in out)
    assert all(r["accuracy"] == 1.0 for r in out)
    release("classify")


def test_unseen_evidence_scores_at_the_smoothed_floor(spark):
    """A doc of only unseen tokens scores every class at its Laplace
    floor 1/(N_k + V): the LESS-trained class has the higher
    per-token floor (3·log2(1/5) beats 3·log2(1/10) by more than the
    2:1 prior), so 'sml' wins — the standard NB smoothing geometry,
    re-derived by hand here."""
    train = _docs(
        spark,
        [(1, "big", "x x x y"), (2, "big", "x y y"), (3, "sml", "z z")],
    )
    model = nb_train(train)
    apply_df = spark.createDataFrame(
        [(9, "?", "qqq www eee")],
        "doc_id long, actual string, text string",
    )
    out = nb_score(apply_df, model).collect()
    assert len(out) == 1
    want_sml = round(3 * math.log2(1.0 / 5) + math.log2(1.0 / 3), 6)
    want_big = round(3 * math.log2(1.0 / 10) + math.log2(2.0 / 3), 6)
    assert want_sml > want_big
    assert out[0]["predicted"] == "sml"
    assert out[0]["score"] == want_sml
    release("classify")


def test_heldout_split_scores_every_doc_once(spark):
    rows = []
    for i in range(30):
        lang = "a" if i % 2 == 0 else "b"
        word = "alpha" if lang == "a" else "beta"
        rows.append((i, lang, f"{word} {word} common"))
    docs = _docs(spark, rows)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("actual"), "text"
    )
    model = nb_train(train)
    out = nb_score(test, model).collect()
    assert len(out) == 6
    assert all(r["correct"] for r in out)
    release("classify")


def test_score_arithmetic_matches_python(spark):
    """One tiny corpus, every number re-derived by hand."""
    rows = [(1, "a", "x x y"), (2, "b", "y z")]
    out = {
        r["doc_id"]: r
        for r in nb_classify_self(_docs(spark, rows)).collect()
    }
    # counts: class a: x:2 y:1 (nk=3); class b: y:1 z:1 (nk=2); V=3
    # priors: log2(1/2) each
    def score(tfs, nk):
        return round(
            sum(t * math.log2((c + 1.0) / (nk + 3)) for t, c in tfs)
            + math.log2(0.5),
            6,
        )

    # doc 1 under a: x(tf2,c2), y(tf1,c1); under b: x(tf2,c0), y(tf1,c1)
    s1a = score([(2, 2), (1, 1)], 3)
    s1b = score([(2, 0), (1, 1)], 2)
    assert out[1]["predicted"] == ("a" if s1a >= s1b else "b")
    assert out[1]["score"] == max(s1a, s1b)
    assert out[1]["correct"] is True
    release("classify")


def test_empty_text_docs_are_excluded(spark):
    rows = [(1, "a", "foo foo"), (2, "a", ""), (3, "b", "bar")]
    out = nb_classify_self(_docs(spark, rows)).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]
    release("classify")
