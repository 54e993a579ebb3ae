"""Unigram language-model perplexity scoring (CCNet-style quality
bucketing).

The reference engine (``sqlengine.py:1-753``) has no statistical
quality surface; this implements the classic LM-filtering stage of a
pretraining pipeline (CCNet / Wenzek et al. 2020: score every document
under a language model, split the corpus into head/middle/tail
perplexity buckets, keep the head). A real pipeline scores with a
trained KenLM; the engine's job is the *distributed scoring and
bucketing plan*, which is identical for any factorized LM — so the
model here is a corpus-trained unigram LM whose probabilities are
themselves computed relationally, keeping the whole operator exact and
DuckDB-replayable (same stance as ``operators/tfidf.py`` vs HashingTF).

Model (Laplace-smoothed over the corpus's own vocabulary):

    p(t)   = (c(t) + 1) / (T + V)      c = corpus count, T = Σc,
                                       V = |vocabulary|
    H(d)   = −(1/n_d) Σ_{tokens of d} log2 p(t)   bits/token
    ppl(d) = 2^H(d)

Buckets: head / middle / tail at the corpus ppl terciles, computed with
the same portable interpolated-quantile arithmetic as
``operators/stats.exact_quantiles`` and applied via a single-row
broadcast join — NOT a global ``ntile`` window, which would funnel the
whole corpus through one partition at scale.

Plan shape: tokens explode once; c(t) is one token-keyed hash
aggregate; (T, V) a single-row aggregate off it; per-doc Σlog2 p joins
tokens→counts on token (Zipf-hot tokens are fine: the join fans out,
the per-doc aggregate re-collapses with map-side partials); tercile
thresholds are one sort-based percentile over the per-doc rows
(spillable ObjectHashAggregate, same as stats_quantiles) cross-joined
back as one broadcast row. No window over the full corpus, nothing
quadratic.

Float policy (r9): per-doc log sums ride the exact DECIMAL(38,12)
sum and edges are the portable fx6 construction — see
``operators/portable_round.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.portable_round import (
    dsum as _dsum,
    dsum_tf as _dsum_tf,
    fx6 as _fx6,
    fx6g as _fx6g,
)

from minisql_engine_spark.operators.text import _norm_text, _ws_tokens


def lm_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens_lm, xent_bits, ppl, bucket) for every
    document with ≥1 token — unigram-LM cross-entropy, perplexity,
    and head/middle/tail tercile bucket."""
    toks = docs.select(
        F.col(id_col),
        F.explode(_ws_tokens(_norm_text(F.col(text_col)))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("c")
    )
    totals = counts.agg(
        F.sum("c").cast("bigint").alias("t_total"),
        F.count("*").cast("bigint").alias("v_size"),
    )
    # log2 p(token) under Laplace smoothing; denominator rides the
    # broadcast single-row totals
    logp = F.log2(
        (F.col("c").cast("double") + F.lit(1.0))
        / (F.col("t_total") + F.col("v_size")).cast("double")
    )
    # (doc, token) pre-aggregation: logp is constant per token type,
    # so tf-weighting (dsum_tf — BITWISE identical to the per-instance
    # decimal sum) shrinks both the counts join and the decimal rows
    # to the doc-vocabulary size
    dtf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    per = (
        dtf.join(counts, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens_lm"),
            (
                -_dsum_tf(logp, F.col("tf"))
                / F.sum("tf").cast("double")
            ).alias("_h"),
        )
        .select(
            id_col,
            "n_tokens_lm",
            _fx6(F.col("_h")).alias("xent_bits"),
            _fx6g(F.pow(F.lit(2.0), F.col("_h"))).alias("ppl"),
        )
    )
    # tercile thresholds over the rounded ppl (portable interpolated
    # percentile — identical arithmetic to stats.exact_quantiles)
    thr = per.agg(
        F.expr("percentile(ppl, 0.3333333333333333)").alias("_t1"),
        F.expr("percentile(ppl, 0.6666666666666666)").alias("_t2"),
    )
    return per.crossJoin(F.broadcast(thr)).select(
        id_col,
        "n_tokens_lm",
        "xent_bits",
        "ppl",
        F.when(F.col("ppl") <= F.col("_t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def lm_perplexity_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`lm_perplexity` — same smoothing,
    same decomposition, same tercile arithmetic.

    DuckDB's ``quantile_cont`` uses the same ``lo + (hi-lo)·frac``
    linear interpolation as Spark's ``percentile`` (both at index
    ``p·(n-1)``), so the thresholds agree bit-for-bit on the already-
    rounded ppl values (the same pairing ``stats.exact_quantiles``
    oracle-verifies)."""
    return (
        f"WITH toks AS (SELECT {id_col}, unnest(string_split("
        f"  regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'),"
        f"  ' ')) AS token FROM {table} WHERE trim({text_col}) <> ''),"
        " counts AS (SELECT token, CAST(count(*) AS BIGINT) AS c"
        "  FROM toks GROUP BY token),"
        " totals AS (SELECT CAST(sum(c) AS BIGINT) AS t_total,"
        "  CAST(count(*) AS BIGINT) AS v_size FROM counts),"
        f" per0 AS (SELECT {id_col},"
        "  CAST(count(*) AS BIGINT) AS n_tokens_lm,"
        "  -CAST(sum(CAST(log2((CAST(c AS DOUBLE) + 1.0)"
        "    / CAST(t_total + v_size AS DOUBLE)) AS DECIMAL(38,12)))"
        "    AS DOUBLE)"
        "   / CAST(count(*) AS DOUBLE) AS h"
        "  FROM toks JOIN counts USING (token) CROSS JOIN totals"
        f"  GROUP BY {id_col}),"
        f" per AS (SELECT {id_col}, n_tokens_lm,"
        "  floor(h * 1e6 + 0.5) / 1e6 AS xent_bits,"
        "  CASE WHEN abs(power(2.0, h)) < 1e12"
        "   THEN floor(power(2.0, h) * 1e6 + 0.5) / 1e6"
        "   ELSE power(2.0, h) END AS ppl FROM per0),"
        " thr AS (SELECT"
        "  quantile_cont(ppl, 0.3333333333333333) AS t1,"
        "  quantile_cont(ppl, 0.6666666666666666) AS t2 FROM per)"
        f" SELECT {id_col}, n_tokens_lm, xent_bits, ppl,"
        "  CASE WHEN ppl <= t1 THEN 'head'"
        "       WHEN ppl <= t2 THEN 'middle'"
        "       ELSE 'tail' END AS bucket"
        " FROM per CROSS JOIN thr"
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM (KenLM-lite)
# ---------------------------------------------------------------------------


def lm_bigram_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated-bigram perplexity buckets — one modeling step up
    from :func:`lm_perplexity` (a KenLM-lite: context-aware scoring
    catches shuffled-word gibberish a unigram LM scores as fluent).

    Per token at position i (w = token, v = predecessor):

        p(w | v) = λ·c₂(v,w)/c₁(v) + (1−λ)·(c₁(w)+1)/(T+V)
        p(w₀)    = (c₁(w₀)+1)/(T+V)        (first token: unigram)

    The MLE bigram term backs off through the interpolation to the
    Laplace unigram, so every token has positive probability; the
    c₁(v) denominator is v's total occurrence count (the last-token
    context correction is a KenLM normalization detail that doesn't
    change ranking — documented, not modeled). Same cross-entropy /
    ppl / tercile-bucket surface as the unigram scorer.

    Plan shape: positional tokens materialize ONCE (persisted — three
    consumers: c₁, c₂, and the scoring join; the bm25 tf lesson), the
    predecessor comes from a per-doc lag window (one Exchange on doc
    id — partitions are doc-sized, never corpus-sized), c₂ is a
    pair-keyed hash aggregate, and scoring re-collapses per doc with
    map-side partials. Nothing quadratic, no global window.
    """
    from pyspark.sql.window import Window

    # fan_out MEASURED AND REJECTED here (r15): 2.76 → 4.16 s min of
    # 3 in a direct identity-vs-fanout A/B. The tokenize map is cheap
    # on this operator (posexplode only — no per-position hashing),
    # while the downstream is exchange-dense (lag window, c2, dtf,
    # three joins): fanning the input to 32 partitions multiplied the
    # AQE stage bookkeeping on every one of those exchanges for no
    # map-side win. The single-scan shape stays.
    toks = hold(
        docs.select(
            F.col(id_col),
            F.posexplode(
                _ws_tokens(_norm_text(F.col(text_col)))
            ).alias("pos", "token"),
        )
        .persist(),
        "lm",
    )
    c1 = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("c1")
    )
    totals = c1.agg(
        F.sum("c1").cast("bigint").alias("t_total"),
        F.count("*").cast("bigint").alias("v_size"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    with_prev = toks.withColumn("prev", F.lag("token").over(w))
    c2 = (
        with_prev.filter(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count("*").cast("bigint").alias("c2"))
    )
    c1_prev = c1.select(
        F.col("token").alias("prev"), F.col("c1").alias("c1_prev")
    )
    # (doc, prev, token) pre-aggregation before the model joins:
    # logp is constant per (prev, token) pair, so the tf-weighted
    # decimal sum (dsum_tf — bitwise identical to the per-instance
    # sum) runs the three model joins on the doc's distinct pairs,
    # not its token instances; NULL prev (each doc's first token)
    # groups like any other key
    dtf = with_prev.groupBy(id_col, "prev", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    scored = (
        dtf.join(c2, ["prev", "token"], "left")
        .join(c1, "token")
        .join(c1_prev, "prev", "left")
        .crossJoin(F.broadcast(totals))
    )
    p_uni = (F.col("c1").cast("double") + F.lit(1.0)) / (
        F.col("t_total") + F.col("v_size")
    ).cast("double")
    p_bi = (
        F.lit(lam)
        * F.coalesce(F.col("c2"), F.lit(0)).cast("double")
        / F.col("c1_prev").cast("double")
        + F.lit(1.0 - lam) * p_uni
    )
    logp = F.log2(
        F.when(F.col("prev").isNull(), p_uni).otherwise(p_bi)
    )
    per = (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens_lm"),
            (
                -_dsum_tf(logp, F.col("tf"))
                / F.sum("tf").cast("double")
            ).alias("_h"),
        )
        .select(
            id_col,
            "n_tokens_lm",
            _fx6(F.col("_h")).alias("xent_bits"),
            _fx6g(F.pow(F.lit(2.0), F.col("_h"))).alias("ppl"),
        )
    )
    thr = per.agg(
        F.expr("percentile(ppl, 0.3333333333333333)").alias("_t1"),
        F.expr("percentile(ppl, 0.6666666666666666)").alias("_t2"),
    )
    return per.crossJoin(F.broadcast(thr)).select(
        id_col,
        "n_tokens_lm",
        "xent_bits",
        "ppl",
        F.when(F.col("ppl") <= F.col("_t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def lm_bigram_perplexity_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> str:
    """DuckDB oracle twin of :func:`lm_bigram_perplexity` — same
    positional tokens (list-index pattern), same interpolation, same
    tercile arithmetic."""
    return (
        f"WITH tk AS (SELECT {id_col}, string_split(regexp_replace("
        f"  lower(trim({text_col})), '\\s+', ' ', 'g'), ' ') AS t"
        f"  FROM {table} WHERE trim({text_col}) <> ''),"
        f" toks AS (SELECT {id_col}, i - 1 AS pos, t[i] AS token"
        f"  FROM (SELECT {id_col}, t,"
        "   unnest(range(1, len(t) + 1)) AS i FROM tk)),"
        " c1 AS (SELECT token, CAST(count(*) AS BIGINT) AS c1"
        "  FROM toks GROUP BY token),"
        " totals AS (SELECT CAST(sum(c1) AS BIGINT) AS t_total,"
        "  CAST(count(*) AS BIGINT) AS v_size FROM c1),"
        f" wp AS (SELECT {id_col}, pos, token,"
        f"  lag(token) OVER (PARTITION BY {id_col} ORDER BY pos)"
        "   AS prev FROM toks),"
        " c2 AS (SELECT prev, token, CAST(count(*) AS BIGINT) AS c2"
        "  FROM wp WHERE prev IS NOT NULL GROUP BY prev, token),"
        f" scored AS (SELECT wp.{id_col},"
        "   CASE WHEN wp.prev IS NULL THEN"
        "    (CAST(u.c1 AS DOUBLE) + 1.0)"
        "     / CAST(t_total + v_size AS DOUBLE)"
        f"   ELSE {lam!r} * CAST(COALESCE(b.c2, 0) AS DOUBLE)"
        "     / CAST(pv.c1 AS DOUBLE)"
        f"    + {1.0 - lam!r} * (CAST(u.c1 AS DOUBLE) + 1.0)"
        "     / CAST(t_total + v_size AS DOUBLE) END AS p"
        "  FROM wp"
        "  LEFT JOIN c2 b ON b.prev = wp.prev AND b.token = wp.token"
        "  JOIN c1 u ON u.token = wp.token"
        "  LEFT JOIN c1 pv ON pv.token = wp.prev"
        "  CROSS JOIN totals),"
        f" per0 AS (SELECT {id_col},"
        "  CAST(count(*) AS BIGINT) AS n_tokens_lm,"
        "  -CAST(sum(CAST(log2(p) AS DECIMAL(38,12))) AS DOUBLE)"
        "   / CAST(count(*) AS DOUBLE) AS h"
        f"  FROM scored GROUP BY {id_col}),"
        f" per AS (SELECT {id_col}, n_tokens_lm,"
        "  floor(h * 1e6 + 0.5) / 1e6 AS xent_bits,"
        "  CASE WHEN abs(power(2.0, h)) < 1e12"
        "   THEN floor(power(2.0, h) * 1e6 + 0.5) / 1e6"
        "   ELSE power(2.0, h) END AS ppl FROM per0),"
        " thr AS (SELECT"
        "  quantile_cont(ppl, 0.3333333333333333) AS t1,"
        "  quantile_cont(ppl, 0.6666666666666666) AS t2 FROM per)"
        f" SELECT {id_col}, n_tokens_lm, xent_bits, ppl,"
        "  CASE WHEN ppl <= t1 THEN 'head'"
        "   WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket"
        " FROM per CROSS JOIN thr"
    )


# ---------------------------------------------------------------------------
# Frozen reference model — the streaming / production scoring shape
# ---------------------------------------------------------------------------
#
# :func:`lm_perplexity` trains its unigram model AND its tercile
# thresholds on the corpus it scores — right for one-shot curation,
# impossible for a stream (a micro-batch's terciles are not the
# corpus's). Production CCNet does what this section does: train ONCE
# on a trusted reference corpus, FREEZE the model and the bucket
# thresholds, and apply them to every incoming batch. Scoring a
# corpus with a model frozen from that same corpus reproduces
# :func:`lm_perplexity` exactly (pinned in test_streaming_curate.py),
# so the frozen path is a strict generalization, not a fork.

_LM_MODEL_META = "_lm_meta.json"

#: (realpath, model-version) -> (persisted counts DF, meta dict). A
#: streaming funnel calls lm_score_frozen once PER MICRO-BATCH;
#: without this cache every batch re-reads the model parquet and
#: meta JSON (r8 VERDICT task 5). ``save_lm_model`` stamps a unique
#: ``version`` into the meta JSON, so a model rebuilt at the same
#: path invalidates even within filesystem-mtime granularity (the
#: meta JSON is tiny — re-reading it per call is the cheap part;
#: the cache exists to skip the parquet read + persist). Models
#: saved before the version field fall back to the meta mtime.
_FROZEN_CACHE: dict = {}


def clear_lm_frozen_cache() -> None:
    """Release persisted frozen-model count tables."""
    while _FROZEN_CACHE:
        try:
            _FROZEN_CACHE.popitem()[1][0].unpersist()
        except Exception:
            pass


def _load_frozen_model(spark, model_path: str):
    import json as _json
    import os as _os

    meta_path = _os.path.join(model_path, _LM_MODEL_META)
    with open(meta_path) as f:
        meta = _json.load(f)
    ver = meta.get("version") or _os.path.getmtime(meta_path)
    key = (_os.path.realpath(model_path), ver)
    hit = _FROZEN_CACHE.get(key)
    if hit is not None:
        return hit
    # a rebuilt model at the same path gets a new version — drop the
    # stale entry so its persisted partitions free up
    for k in [k for k in _FROZEN_CACHE if k[0] == key[0]]:
        try:
            _FROZEN_CACHE.pop(k)[0].unpersist()
        except Exception:
            pass
    counts = spark.read.parquet(
        _os.path.join(model_path, "counts")
    ).persist()
    _FROZEN_CACHE[key] = (counts, meta)
    return counts, meta


def save_lm_model(
    ref_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Train on the reference corpus and persist the model: token
    counts as parquet plus (t_total, v_size, t1, t2) metadata — the
    Laplace denominators and the tercile thresholds of the
    reference's own ppl distribution."""
    import json as _json
    import os as _os

    spark = ref_docs.sparkSession
    toks = ref_docs.select(
        F.col(id_col),
        F.explode(_ws_tokens(_norm_text(F.col(text_col)))).alias("token"),
    ).persist()  # one corpus pass feeds BOTH counts and threshold
    # scoring — without the persist training re-normalizes and
    # re-explodes the reference corpus twice (profiled r7)
    try:
        counts = toks.groupBy("token").agg(
            F.count("*").cast("bigint").alias("c")
        )
        _os.makedirs(path, exist_ok=True)
        counts.write.mode("overwrite").parquet(
            _os.path.join(path, "counts")
        )
        cdf = spark.read.parquet(_os.path.join(path, "counts"))
        tot = cdf.agg(
            F.sum("c").cast("bigint").alias("t"),
            F.count("*").cast("bigint").alias("v"),
        ).collect()[0]
        scored = _score_frozen(
            ref_docs,
            cdf,
            int(tot["t"]),
            int(tot["v"]),
            id_col,
            text_col,
            _toks=toks,
        )
        thr = scored.agg(
            F.expr("percentile(ppl, 0.3333333333333333)").alias("t1"),
            F.expr("percentile(ppl, 0.6666666666666666)").alias("t2"),
        ).collect()[0]
    finally:
        toks.unpersist()
    import uuid as _uuid

    with open(_os.path.join(path, _LM_MODEL_META), "w") as f:
        _json.dump(
            {
                "t_total": int(tot["t"]),
                "v_size": int(tot["v"]),
                "t1": float(thr["t1"]),
                "t2": float(thr["t2"]),
                # unique per save: invalidates the frozen cache even
                # when a rebuild lands within mtime granularity
                "version": _uuid.uuid4().hex,
            },
            f,
        )


def _score_frozen(
    docs: DataFrame,
    counts: DataFrame,
    t_total: int,
    v_size: int,
    id_col: str,
    text_col: str,
    _toks: DataFrame | None = None,
) -> DataFrame:
    """(id, n_tokens_lm, xent_bits, ppl) under the frozen model —
    identical arithmetic to :func:`lm_perplexity` except the
    denominators are constants and unseen tokens take the Laplace
    floor (count 0) via a LEFT join.

    The counts relation BROADCASTS: a frozen unigram vocabulary is
    Zipf-bounded (the same contract as BPE's vocabulary guard), so a
    micro-batch scoring job must never shuffle the model — without
    the hint a small streaming batch sort-merge-joins the whole
    vocabulary per batch, which dominated the streaming funnel's
    per-batch cost (profiled r7)."""
    toks = (
        _toks
        if _toks is not None
        else docs.select(
            F.col(id_col),
            F.explode(
                _ws_tokens(_norm_text(F.col(text_col)))
            ).alias("token"),
        )
    )
    denom = float(t_total + v_size)
    logp = F.log2(
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(1.0))
        / F.lit(denom)
    )
    # per-INSTANCE decimal sum here, deliberately NOT the dsum_tf
    # pre-agg the batch scorers use: the model join is already a
    # broadcast (no join rows to save), so a (doc, token) pre-agg
    # would only ADD a shuffle per scoring call — and this runs once
    # per micro-batch in the streaming funnel (measured ~1 s across
    # the funnel's batches at sf0.1)
    return (
        toks.join(F.broadcast(counts), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens_lm"),
            (-_dsum(logp) / F.count("*").cast("double")).alias("_h"),
        )
        .select(
            id_col,
            "n_tokens_lm",
            _fx6(F.col("_h")).alias("xent_bits"),
            _fx6g(F.pow(F.lit(2.0), F.col("_h"))).alias("ppl"),
        )
    )


def lm_score_frozen(
    docs: DataFrame,
    model_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens_lm, xent_bits, ppl, bucket) under the saved
    model — per-batch scoring with corpus-stable buckets: every
    micro-batch of a stream gets the SAME thresholds, so "drop the
    tail tercile" means the reference's tail, not the batch's."""
    spark = docs.sparkSession
    counts, meta = _load_frozen_model(spark, model_path)
    scored = _score_frozen(
        docs, counts, meta["t_total"], meta["v_size"], id_col, text_col
    )
    return scored.select(
        id_col,
        "n_tokens_lm",
        "xent_bits",
        "ppl",
        F.when(F.col("ppl") <= meta["t1"], F.lit("head"))
        .when(F.col("ppl") <= meta["t2"], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
