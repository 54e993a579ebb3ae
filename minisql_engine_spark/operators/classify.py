"""Multinomial Naive Bayes document classification, exact and
oracle-replayable — the shallow supervised classifier of a curation
pipeline (fastText-style language-ID / quality gating at web scale
is, at this fidelity, per-class token log-likelihoods + a prior).

Everything is counts and closed-form arithmetic — no RNG, no
gradient schedule — so a DuckDB oracle replays the ENTIRE model:

    score(d, k) = log2(P(k)) + Σ_{t ∈ d} tf(t,d) · log2 p(t|k)
    p(t|k)      = (c(t,k) + 1) / (N_k + V)        (Laplace α=1)
    predicted   = argmax_k round(score, 6), ties by class ascending

Float policy (r9): per-(doc, class) log-sums ride the exact
DECIMAL(38,12) sum (``portable_round.dsum`` — order-independent
across any shuffle) and the argmax edge is the portable ``fx6``
construction; see ``operators/portable_round.py`` for the
package-wide rule.

Plan shape (scale notes): one corpus tokenize → (doc, token) tf
aggregate; the MODEL is vocabulary-sized — class priors (|K| rows),
token likelihoods (V·|K| rows), class totals — and broadcasts into
the scoring join; scoring is tf × |K| rows with map-side partial
sums; the only corpus-sized shuffles are the tf aggregate and the
per-(doc, class) score aggregate. Unseen tokens take the smoothed
floor 1/(N_k + V) via a coalesce'd left join, never a lost row.

Reference contrast: ``sqlengine.py`` has no model surface at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.portable_round import (
    dsum as _dsum,
    fx6 as _fx6,
)
from pyspark.sql.window import Window

from minisql_engine_spark.operators.text import _norm_text, _ws_tokens


def nb_classify_self(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, actual, predicted, score, correct, accuracy) — train
    multinomial NB on the whole corpus and score the corpus in-sample
    (the arithmetic-certification shape; for held-out evaluation
    filter ``docs`` into train/apply halves and use
    :func:`nb_train` / :func:`nb_score`). ``accuracy`` repeats the
    corpus-level in-sample accuracy on every row so a driver hash
    pins the exact value."""
    model = nb_train(docs, label_col, text_col, id_col)
    scored = nb_score(
        docs.select(id_col, F.col(label_col).alias("actual"), text_col),
        model,
        text_col=text_col,
        id_col=id_col,
    )
    # two consumers below (accuracy aggregate + the crossJoin output)
    # — persist so the corpus-sized scoring subtree runs once
    scored = hold(scored.persist(), "classify")
    acc = scored.agg(
        _fx6(
            F.sum((F.col("predicted") == F.col("actual")).cast("int"))
            / F.count("*")
        ).alias("accuracy")
    )
    return scored.crossJoin(F.broadcast(acc))


def nb_train(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Fit the model: returns broadcast-sized DataFrames
    ``{"priors": (k, log_prior), "likelihood": (k, token, log_p),
    "floor": (k, log_floor)}`` — all counts exact, all logs log2.
    Empty-text documents are excluded from both doc and token counts
    (they carry no evidence and would only skew the priors)."""
    toks = hold(
        docs.select(
            F.col(id_col),
            F.col(label_col).alias("k"),
            F.explode(_ws_tokens(_norm_text(F.col(text_col)))).alias(
                "token"
            ),
        ).persist(),
        "classify",
    )

    cls = toks.groupBy("k").agg(
        F.count_distinct(F.col(id_col)).cast("long").alias("n_docs")
    )
    total = cls.agg(F.sum("n_docs").cast("long").alias("n"))
    priors = cls.crossJoin(F.broadcast(total)).select(
        "k",
        F.log2(F.col("n_docs").cast("double") / F.col("n")).alias(
            "log_prior"
        ),
    )
    ck = toks.groupBy("k", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    nk = ck.groupBy("k").agg(F.sum("c").cast("long").alias("nk"))
    vocab = toks.agg(
        F.count_distinct("token").cast("long").alias("v")
    )
    denom = nk.crossJoin(F.broadcast(vocab))  # (k, nk, v)
    likelihood = ck.join(denom, "k").select(
        "k",
        "token",
        F.log2(
            (F.col("c").cast("double") + F.lit(1.0))
            / (F.col("nk") + F.col("v"))
        ).alias("log_p"),
    )
    floor = denom.select(
        "k",
        F.log2(F.lit(1.0) / (F.col("nk") + F.col("v"))).alias(
            "log_floor"
        ),
    )
    return {"priors": priors, "likelihood": likelihood, "floor": floor}


def nb_score(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under a fitted model: one row per document
    with the argmax class. ``docs`` must carry (id_col, actual,
    text_col) — pass a constant ``actual`` if truth is unknown."""
    tf = (
        docs.select(
            F.col(id_col),
            F.col("actual"),
            F.explode(_ws_tokens(_norm_text(F.col(text_col)))).alias(
                "token"
            ),
        )
        .groupBy(id_col, "actual", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    scored = (
        tf.crossJoin(F.broadcast(model["priors"].select("k")))
        .join(F.broadcast(model["likelihood"]), ["k", "token"], "left")
        .join(F.broadcast(model["floor"]), "k")
        .select(
            id_col,
            "actual",
            "k",
            (
                F.col("tf")
                * F.coalesce(F.col("log_p"), F.col("log_floor"))
            ).alias("contrib"),
        )
        .groupBy(id_col, "actual", "k")
        .agg(_dsum(F.col("contrib")).alias("ll"))
        .join(F.broadcast(model["priors"]), "k")
        .select(
            id_col,
            "actual",
            "k",
            _fx6(F.col("ll") + F.col("log_prior")).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("k")
    )
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            id_col,
            "actual",
            F.col("k").alias("predicted"),
            "score",
            (F.col("k") == F.col("actual")).alias("correct"),
        )
    )
