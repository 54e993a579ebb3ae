"""Okapi BM25 full-text retrieval, exact and oracle-verifiable.

The reference engine (``sqlengine.py:1-753``) has no text-retrieval
surface at all; this module adds the standard lexical-search operator a
training-data pipeline needs (mining documents for a topic, building
retrieval eval sets, hard-negative selection). Same design stance as
``operators/tfidf.py``: a relational formulation with exact per-term
statistics instead of a hashed/approximate library path, so the DuckDB
oracle can replay every number.

Scoring (Lucene-style positive idf; k1/b the classic defaults):

    idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    score(q, d) = Σ_{t ∈ q}  idf(t) · tf(t,d)·(k1+1)
                             / (tf(t,d) + k1·(1 - b + b·dl(d)/avgdl))

N and avgdl count only documents with ≥1 token (an empty document can
never match and would only dilute avgdl with zeros that DuckDB's
``avg`` over a join would not see).

Plan shape (scale notes):
  * tokens explode ONCE; (doc, token) tf is one hash aggregate with
    map-side partials; dl = Σ tf reuses that aggregate instead of a
    second pass over the exploded rows.
  * the query-term set is tiny by construction (a handful of queries ×
    a few terms) → broadcast semi-join restricts tf to matching terms
    BEFORE df/score work, so corpus-wide per-token stats are computed
    only for terms someone asked about.
  * N / avgdl ride a single-row aggregate cross-joined in (a
    BroadcastNestedLoopJoin of one row — no driver collect).
  * final score is one (query, doc) hash aggregate + WindowGroupLimit
    top-k per query. Nothing is quadratic; the only corpus-sized
    shuffles are the tf aggregate and the dl reuse.

Float policy (r9): the per-term contribution is summed exactly via
``portable_round.dsum`` (order-independent across any shuffle) and
the score edge is the portable ``fx6`` — see
``operators/portable_round.py`` for the package-wide rule; the
DECIMAL cast absorbs libm ulp skew between Spark and DuckDB ``ln``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.portable_round import (
    dsum as _dsum,
    dsum_sql as _dsum_sql,
    fx6 as _fx6,
    fx6_sql as _fx6_sql,
)

from minisql_engine_spark.operators.text import _norm_text, _ws_tokens

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame | list[tuple[str, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score, rank) — BM25 top-``k`` documents per
    query, rank 1 = best; ties broken by ``doc_id`` ascending so the
    result is deterministic and oracle-comparable.

    ``queries`` is a DataFrame with (query_id, query_text) or a list
    of such pairs (built into a broadcast-sized local relation).
    """
    spark = docs.sparkSession
    if not isinstance(queries, DataFrame):
        queries = spark.createDataFrame(
            list(queries), "query_id string, query_text string"
        )

    from minisql_engine_spark.fanout import fan_out

    # tokenize + explode + the tf partial aggregate are the dominant
    # map stage — fan the (id, text) projection out so they run on
    # every core instead of the single-row-group scan's one task
    # (guide §2.5; no-op at scale, see fanout.py)
    toks = fan_out(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(_ws_tokens(_norm_text(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    # tf feeds FOUR consumers (dl, stats, the restricted tf_q, and
    # the final score join); without materialization Spark re-executes
    # the corpus explode+aggregate once per consumer (measured: 11
    # exchanges, ~4 document scans). Persist it — the (doc, token)
    # aggregate is the retrieval index, and multi-consumer reuse IS
    # the usage pattern.
    tf = hold(tf.persist(), "retrieval")
    # dl reuses the tf aggregate (no second pass over exploded rows)
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("dl"))
    # N + avgdl in ONE single-row aggregate, cross-joined (1-row BNLJ)
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_corpus"),
        (
            F.sum("dl").cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
    )

    # query term SET (BM25 ignores duplicate query terms)
    qterms = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(_ws_tokens(_norm_text(F.col("query_text"))))
        ).alias("token"),
    )
    qtoken_set = qterms.select("token").distinct()

    # restrict tf to asked-about terms BEFORE computing df
    tf_q = tf.join(F.broadcast(qtoken_set), "token")
    df_t = tf_q.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df")
    )

    idf = F.log(
        F.lit(1.0)
        + (
            (F.col("n_corpus") - F.col("df")).cast("double") + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    sat = (
        F.col("tf").cast("double")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b)
                * F.col("dl").cast("double")
                / F.col("avgdl")
            )
        )
    )

    scored = (
        tf_q.join(F.broadcast(df_t), "token")
        .join(F.broadcast(qterms), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(_fx6(_dsum(idf * sat)).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", F.col("rank").cast("int"))
    )


def bm25_topk_sql(
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`bm25_topk` — identical statistics,
    identical formula, round(6) at the edge. ``queries`` must be the
    same literal pairs passed to the Spark side."""
    qvals = ", ".join(
        "({0}, {1})".format(_sql_str(qid), _sql_str(qtext))
        for qid, qtext in queries
    )
    return (
        f"WITH q(query_id, query_text) AS (VALUES {qvals}),"
        f" toks AS (SELECT {id_col}, unnest(string_split("
        f"  regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'),"
        f"  ' ')) AS token FROM {table} WHERE trim({text_col}) <> ''),"
        f" tf AS (SELECT {id_col}, token,"
        f"  CAST(count(*) AS BIGINT) AS tf FROM toks"
        f"  GROUP BY {id_col}, token),"
        f" dl AS (SELECT {id_col}, CAST(sum(tf) AS BIGINT) AS dl"
        f"  FROM tf GROUP BY {id_col}),"
        " stats AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,"
        "  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl"
        "  FROM dl),"
        " qterms AS (SELECT DISTINCT query_id, unnest(string_split("
        "  regexp_replace(lower(trim(query_text)), '\\s+', ' ', 'g'),"
        "  ' ')) AS token FROM q),"
        " tf_q AS (SELECT tf.* FROM tf"
        "  WHERE token IN (SELECT token FROM qterms)),"
        " df_t AS (SELECT token, CAST(count(*) AS BIGINT) AS df"
        "  FROM tf_q GROUP BY token),"
        f" scored AS (SELECT qterms.query_id, tf_q.{id_col},"
        "  " + _fx6_sql(_dsum_sql(
            " ln(1.0 + (CAST(stats.n_corpus - df_t.df AS DOUBLE) + 0.5)"
            "      / (CAST(df_t.df AS DOUBLE) + 0.5))"
            f" * (CAST(tf_q.tf AS DOUBLE) * {k1 + 1.0!r}"
            f"    / (CAST(tf_q.tf AS DOUBLE) + {k1!r}"
            f"       * ({1.0 - b!r} + {b!r} * CAST(dl.dl AS DOUBLE)"
            "          / stats.avgdl)))"
        )) + " AS score"
        "  FROM tf_q JOIN df_t ON tf_q.token = df_t.token"
        "  JOIN qterms ON tf_q.token = qterms.token"
        f"  JOIN dl ON tf_q.{id_col} = dl.{id_col}"
        "  CROSS JOIN stats"
        f"  GROUP BY qterms.query_id, tf_q.{id_col})"
        f" SELECT query_id, {id_col}, score, CAST(rank AS INT) AS rank"
        " FROM (SELECT *, row_number() OVER (PARTITION BY query_id"
        f"  ORDER BY score DESC, {id_col}) AS rank FROM scored)"
        f" WHERE rank <= {k}"
    )


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal (quotes doubled)."""
    return "'" + s.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (RRF)
# ---------------------------------------------------------------------------

#: fixed-point unit for RRF contributions: 1.0 = 10**15 units, so a
#: rank-r entry contributes RRF_UNIT DIV (rrf_k + r) — ONE integer
#: floor-division, exact and identical in Spark and DuckDB. Summing
#: doubles 1/(k+r) across a shuffle is fold-order-dependent at the
#: last ulp; integer units make the fused score order-independent and
#: bit-replayable (house style: see operators/graph.py SCALE).
RRF_UNIT = 10**15
RRF_K = 60


def hard_negatives(
    docs: DataFrame,
    queries: DataFrame | list[tuple[str, str]],
    positives: DataFrame,
    k: int = 5,
    depth: int = 20,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score, neg_rank) — top-``k`` HARD NEGATIVES
    per query for contrastive-training data: the highest-BM25
    candidates within retrieval ``depth`` that are NOT labeled
    positives for that query (the standard BM25-negatives recipe of
    DPR, Karpukhin et al. 2020 — lexically close to the query, known
    not to be answers, which is exactly what makes them hard).

    ``positives`` is (query_id, id_col) — the labeled relevant set;
    the anti-join drops them AND their rank slots, then survivors
    re-rank densely (``neg_rank`` 1..k) by (score DESC, id). A query
    whose whole depth window is positive yields no rows (mine deeper
    or fall back to random negatives — the caller's policy).

    Scale shape: :func:`bm25_topk` bounds the candidate set to
    depth·|queries| rows BEFORE the anti-join, so the positives join
    and the re-rank window touch nothing corpus-sized; the corpus
    work is exactly the BM25 pass (see module doc)."""
    if k < 1 or depth < k:
        raise ValueError(f"need 1 <= k <= depth, got k={k} depth={depth}")
    cand = bm25_topk(
        docs, queries, k=depth, k1=k1, b=b, id_col=id_col,
        text_col=text_col,
    )
    pos = positives.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col(id_col).cast("long").alias(id_col),
    )
    neg = cand.join(pos, ["query_id", id_col], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id",
            id_col,
            "score",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
        .orderBy("query_id", "neg_rank")
    )


def hard_negatives_sql(
    q_cte: str = "q",
    pos_cte: str = "pos",
    k: int = 5,
    depth: int = 20,
    k1: float = K1,
    b: float = B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`hard_negatives` — the shared
    :func:`bm25_ranked_cte_sql` chain, the depth cut, a NOT EXISTS
    against ``pos_cte(query_id, {id_col})`` (anti-join parity), and
    the dense re-rank. Embed after a WITH list defining ``q_cte`` and
    ``pos_cte`` (composable CTE text, like the RRF oracle)."""
    if k < 1 or depth < k:
        raise ValueError(f"need 1 <= k <= depth, got k={k} depth={depth}")
    return (
        bm25_ranked_cte_sql(
            q_cte, k1=k1, b=b, table=table, id_col=id_col,
            text_col=text_col,
        )
        + f", hn_neg AS (SELECT r.query_id, r.{id_col}, r.score"
        "   FROM bm25_ranked r"
        f"  WHERE r.rank <= {int(depth)} AND NOT EXISTS ("
        f"   SELECT 1 FROM {pos_cte} p WHERE p.query_id = r.query_id"
        f"    AND p.{id_col} = r.{id_col}))"
        f" SELECT query_id, {id_col}, score,"
        "  CAST(neg_rank AS INT) AS neg_rank FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, {id_col}) AS neg_rank FROM hn_neg)"
        f" WHERE neg_rank <= {int(k)} ORDER BY query_id, neg_rank"
    )


def contrastive_triplets(
    docs: DataFrame,
    queries: DataFrame | list[tuple[str, str]],
    positives: DataFrame,
    k: int = 5,
    depth: int = 20,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, pos_id, neg_id, neg_rank, pos_rank, is_hard) —
    assembled (anchor, positive, negative) training triplets: every
    labeled positive of a query paired with each of its top-``k``
    mined hard negatives (:func:`hard_negatives`), the standard
    contrastive-set assembly downstream of DPR-style mining.

    The hardness signal is RANK-based, not score-based, on purpose:
    ``pos_rank`` is the positive's retrieval rank within ``depth``
    (0 = below depth — by definition out-scored by every mined
    negative), and ``is_hard`` marks the hardest class — a negative
    that the retriever ranks ABOVE the positive. Ranks come from the
    same hash-certified bm25 ranking the rest of the family ships; a
    raw fx6 score DIFFERENCE would expose the one remaining ln-ulp
    edge (two near-tied large sums each exact to ±1 unit subtract to
    a ±1-unit margin — measured cross-engine on full-overlap
    positives), so curricula sort by rank gap instead.

    Scale: |positives per query| × k rows per query — both factors
    label/parameter-sized; the corpus work remains the one shared
    BM25 pass at ``depth``."""
    ranked = bm25_topk(
        docs, queries, k=depth, k1=k1, b=b, id_col=id_col,
        text_col=text_col,
    ).localCheckpoint(eager=False)
    pos = positives.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col(id_col).cast("long").alias("pos_id"),
    )
    neg = (
        ranked.join(
            pos.select(
                "query_id", F.col("pos_id").alias(id_col)
            ),
            ["query_id", id_col],
            "left_anti",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    neg = (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neg_id"),
            F.col("rank").alias("neg_ret_rank"),
            "neg_rank",
        )
    )
    pos_ranked = pos.join(
        ranked.select(
            "query_id",
            F.col(id_col).alias("pos_id"),
            F.col("rank").alias("pos_rank"),
        ),
        ["query_id", "pos_id"],
        "left",
    ).select(
        "query_id",
        "pos_id",
        F.coalesce(F.col("pos_rank"), F.lit(0)).cast("int").alias(
            "pos_rank"
        ),
    )
    return (
        pos_ranked.join(neg, "query_id")
        .select(
            "query_id",
            "pos_id",
            "neg_id",
            F.col("neg_rank").cast("int").alias("neg_rank"),
            "pos_rank",
            (
                (F.col("pos_rank") == 0)
                | (F.col("neg_ret_rank") < F.col("pos_rank"))
            ).alias("is_hard"),
        )
        .orderBy("query_id", "pos_id", "neg_rank")
    )


def contrastive_triplets_sql(
    q_cte: str = "q",
    pos_cte: str = "pos",
    k: int = 5,
    depth: int = 20,
    k1: float = K1,
    b: float = B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`contrastive_triplets` — the shared
    :func:`bm25_ranked_cte_sql` chain, negatives via NOT EXISTS +
    dense re-rank within ``depth``, the positive's retrieval rank
    from the same ranked list (COALESCE 0 past depth), cross product
    per query, rank-gap hardness flag. Embed after a WITH list
    defining ``q_cte`` and ``pos_cte(query_id, {id_col})``."""
    return (
        bm25_ranked_cte_sql(
            q_cte, k1=k1, b=b, table=table, id_col=id_col,
            text_col=text_col,
        )
        + f", ct_neg AS (SELECT query_id, {id_col} AS neg_id,"
        "   ret_rank AS neg_ret_rank,"
        "   CAST(neg_rank AS INT) AS neg_rank FROM ("
        f"  SELECT r.query_id, r.{id_col}, r.rank AS ret_rank,"
        "   row_number() OVER (PARTITION BY r.query_id"
        f"    ORDER BY r.score DESC, r.{id_col}) AS neg_rank"
        "   FROM bm25_ranked r"
        f"   WHERE r.rank <= {int(depth)} AND NOT EXISTS ("
        f"    SELECT 1 FROM {pos_cte} p WHERE p.query_id = r.query_id"
        f"     AND p.{id_col} = r.{id_col}))"
        f"  WHERE neg_rank <= {int(k)}),"
        " ct_pos AS (SELECT p.query_id,"
        f"  p.{id_col} AS pos_id, CAST(COALESCE(("
        f"   SELECT r.rank FROM bm25_ranked r WHERE r.rank <= {int(depth)}"
        f"    AND r.query_id = p.query_id AND r.{id_col} = p.{id_col}"
        f"  ), 0) AS INT) AS pos_rank FROM {pos_cte} p)"
        " SELECT ct_pos.query_id, pos_id, neg_id, neg_rank, pos_rank,"
        "  (pos_rank = 0 OR neg_ret_rank < pos_rank) AS is_hard"
        " FROM ct_pos JOIN ct_neg ON ct_neg.query_id = ct_pos.query_id"
        " ORDER BY ct_pos.query_id, pos_id, neg_rank"
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, id_col, rrf_units, n_lists, fused_rank) — classic
    reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    over any number of per-query ranked lists, each a DataFrame with
    (query_id, id_col, rank), rank 1 = best.

    ``rrf_units`` = Σ_lists RRF_UNIT DIV (rrf_k + rank) in fixed-point
    units; ``n_lists`` counts how many input lists surfaced the item
    (retrieval diagnostics: 2 = consensus hit). Final top-``k`` per
    query, ties broken by ``id_col`` ascending.

    Scale: each input list is already top-k-per-query sized (k·|q|
    rows); the fusion is a union + one tiny hash aggregate + window
    top-k — nothing corpus-sized enters the plan.
    """
    contrib = None
    for df in ranked_lists:
        part = df.select(
            F.col("query_id").cast("string").alias("query_id"),
            F.col(id_col).cast("long").alias(id_col),
            F.expr(f"{RRF_UNIT}L DIV ({rrf_k} + rank)").alias("c"),
        )
        contrib = part if contrib is None else contrib.unionByName(part)
    if contrib is None:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = contrib.groupBy("query_id", id_col).agg(
        F.sum("c").alias("rrf_units"),
        F.count("*").cast("bigint").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_units").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select(
            "query_id",
            id_col,
            "rrf_units",
            "n_lists",
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
    )


def bm25_ranked_cte_sql(
    q_cte: str = "q",
    k1: float = K1,
    b: float = B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Composable DuckDB CTE text computing ``bm25_ranked(query_id,
    {id_col}, score, rank)`` — the same statistics and formula as
    :func:`bm25_topk_sql`, but taking its queries from an existing
    CTE ``q_cte(query_id, query_text)`` so callers (the RRF hybrid
    oracle) can DERIVE query text in SQL instead of passing literals.
    Embed inside a WITH list; no top-k filter is applied here."""
    return (
        f" bm_toks AS (SELECT {id_col}, unnest(string_split("
        f"  regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'),"
        f"  ' ')) AS token FROM {table} WHERE trim({text_col}) <> ''),"
        f" bm_tf AS (SELECT {id_col}, token,"
        "  CAST(count(*) AS BIGINT) AS tf FROM bm_toks"
        f"  GROUP BY {id_col}, token),"
        f" bm_dl AS (SELECT {id_col}, CAST(sum(tf) AS BIGINT) AS dl"
        f"  FROM bm_tf GROUP BY {id_col}),"
        " bm_stats AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,"
        "  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl"
        "  FROM bm_dl),"
        " bm_qterms AS (SELECT DISTINCT query_id, unnest(string_split("
        "  regexp_replace(lower(trim(query_text)), '\\s+', ' ', 'g'),"
        f"  ' ')) AS token FROM {q_cte}),"
        " bm_tfq AS (SELECT bm_tf.* FROM bm_tf"
        "  WHERE token IN (SELECT token FROM bm_qterms)),"
        " bm_df AS (SELECT token, CAST(count(*) AS BIGINT) AS df"
        "  FROM bm_tfq GROUP BY token),"
        f" bm_scored AS (SELECT bm_qterms.query_id, bm_tfq.{id_col},"
        "  " + _fx6_sql(_dsum_sql(
            " ln(1.0 + (CAST(bm_stats.n_corpus - bm_df.df AS DOUBLE) + 0.5)"
            "      / (CAST(bm_df.df AS DOUBLE) + 0.5))"
            f" * (CAST(bm_tfq.tf AS DOUBLE) * {k1 + 1.0!r}"
            f"    / (CAST(bm_tfq.tf AS DOUBLE) + {k1!r}"
            f"       * ({1.0 - b!r} + {b!r} * CAST(bm_dl.dl AS DOUBLE)"
            "          / bm_stats.avgdl)))"
        )) + " AS score"
        "  FROM bm_tfq JOIN bm_df ON bm_tfq.token = bm_df.token"
        "  JOIN bm_qterms ON bm_tfq.token = bm_qterms.token"
        f"  JOIN bm_dl ON bm_tfq.{id_col} = bm_dl.{id_col}"
        "  CROSS JOIN bm_stats"
        f"  GROUP BY bm_qterms.query_id, bm_tfq.{id_col}),"
        f" bm25_ranked AS (SELECT query_id, {id_col}, score,"
        "  CAST(rank AS INT) AS rank"
        " FROM (SELECT *, row_number() OVER (PARTITION BY query_id"
        f"  ORDER BY score DESC, {id_col}) AS rank FROM bm_scored))"
    )
