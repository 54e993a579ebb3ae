"""Scalar quantization (SQ8) for embedding similarity search.

The remaining point on the engine's ANN memory/recall spectrum:
flat float (exact) → **SQ8 (4× smaller, near-exact)** → PQ (32×
smaller, re-rank required) → IVF-PQ (cell-pruned) → LSH (bucketed).
SQ8 stores each dimension as one byte on a per-dimension linear
grid — the standard first compression step (FAISS
``ScalarQuantizer``, Lucene int8 HNSW) because recall stays ≈1 at
1/4 the float32 footprint (1/8 of the double the exact path scores
in).

Everything is deterministic double arithmetic + ``floor``, so a
DuckDB oracle replays codes AND scores bit-for-bit:

* codebook: per-dimension (min, max) — exact aggregates;
* encode:  ``code = floor((x - mn) * 255 / (mx - mn) + 0.5)``,
  clamped by construction (x inside [mn, mx]); degenerate
  dimensions (mx == mn) encode 0. ``floor`` is unambiguous on
  identical doubles — deliberately NOT ``round``, whose half-up /
  half-even / scaled conventions genuinely diverge across engines
  (see operators/mmr.py's _round6 note);
* search: cosine on the DEQUANTIZED vectors
  (``mn + code * (mx - mn) / 255``) through the package's fixed
  left-to-right fold, round(6) at the ranking edge, doc-id
  tie-breaks; optional exact re-rank of a widened shortlist.

Scale notes (100 TB): the codebook is 2 doubles per dimension —
broadcast as one row of arrays; codes live beside the corpus (1
byte/dim); the approx pass never touches the float vectors, so the
scan is 1/8 the bytes of the exact path — the actual win at memory-
bound scale. Query vectors broadcast; the corpus never collects.

Reference contrast: ``sqlengine.py`` has no vector surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.similarity import _as_double


def sq8_codebook(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """ONE row (mn array<double>, mx array<double>): per-dimension
    min/max over the corpus — the whole SQ8 'model'."""
    dims = emb.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x")
    )
    per_dim = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return per_dim.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "mn"))
        ).alias("_a"),
        F.array_sort(
            F.collect_list(F.struct("dim", "mx"))
        ).alias("_b"),
    ).select(
        F.transform(F.col("_a"), lambda s: s["mn"]).alias("mn"),
        F.transform(F.col("_b"), lambda s: s["mx"]).alias("mx"),
    )


def _code_expr(vec: Column, mn: Column, mx: Column) -> Column:
    """int codes: floor((x - mn) * 255 / (mx - mn) + 0.5), degenerate
    dims → 0. All-double then one floor — engine-identical."""
    return F.zip_with(
        vec,
        F.zip_with(mn, mx, lambda a, b: F.struct(a.alias("mn"), b.alias("mx"))),
        lambda x, s: F.when(
            s["mx"] > s["mn"],
            F.floor(
                (x - s["mn"]) * F.lit(255.0) / (s["mx"] - s["mn"])
                + F.lit(0.5)
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )


def _deq_expr(codes: Column, mn: Column, mx: Column) -> Column:
    """Dequantized doubles: mn + code * (mx - mn) / 255."""
    return F.zip_with(
        codes,
        F.zip_with(mn, mx, lambda a, b: F.struct(a.alias("mn"), b.alias("mx"))),
        lambda c, s: F.when(
            s["mx"] > s["mn"],
            s["mn"]
            + c.cast("double") * (s["mx"] - s["mn"]) / F.lit(255.0),
        ).otherwise(s["mn"]),
    )


def sq8_encode(
    emb: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, codes array<int>) — the 1-byte/dim corpus."""
    return emb.crossJoin(F.broadcast(codebook)).select(
        id_col,
        _code_expr(
            _as_double(F.col(vec_col)), F.col("mn"), F.col("mx")
        ).alias("codes"),
    )


def sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    rerank: bool = True,
    rerank_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) — top-k by cosine on the
    SQ8-dequantized corpus; with ``rerank`` the approx pass only
    builds a k·rerank_factor shortlist and EXACT vectors re-rank it
    (shortlist-sized work, the PQ row's shape). Scores are round-6,
    ties by neighbor id; the query doc itself is excluded."""
    from minisql_engine_spark.operators.similarity import (
        cosine_pre,
        norm,
    )

    cb = sq8_codebook(emb, vec_col)
    codes = hold(sq8_encode(emb, cb, id_col, vec_col).persist(), "sq")
    # norms once per row below the pair join (cosine_pre rule): the
    # q × corpus scoring pass pays 1 fold per pair instead of 3
    deq = codes.crossJoin(F.broadcast(cb)).select(
        id_col,
        _deq_expr(F.col("codes"), F.col("mn"), F.col("mx")).alias(
            "dv"
        ),
    )
    deq = deq.withColumn("ndv", norm(F.col("dv")))
    queries = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    queries = queries.withColumn("nqv", norm(F.col("qv")))
    scored = (
        deq.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_pre(
                    F.col("qv"),
                    F.col("dv"),
                    F.col("nqv"),
                    F.col("ndv"),
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    shortlist_k = k * rerank_factor if rerank else k
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
    if not rerank:
        return shortlist
    exact = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn("nnv", norm(F.col("nv")))
    rescored = (
        shortlist.join(exact, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(
                    F.col("qv"),
                    F.col("nv"),
                    F.col("nqv"),
                    F.col("nnv"),
                ),
                6,
            ).alias("score"),
        )
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sq8_topk_sql(
    query_ids: list[int],
    k: int = 10,
    rerank: bool = True,
    rerank_factor: int = 3,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`sq8_topk` — codebook, floor-encoded
    codes, dequantized scoring, shortlist, exact re-rank, all
    replayed (the cosine pairing is the corpus-proven DUCK_COS)."""
    from minisql_engine_spark.operators.similarity import DUCK_COS

    ids = ",".join(str(i) for i in query_ids)
    rng = f"range(1, {dims + 1})"
    shortlist_k = k * rerank_factor if rerank else k
    approx_cos = DUCK_COS.format(a="q.qv", b="d.dv")
    exact_cos = DUCK_COS.format(a="q.qv", b="x.nv")
    sql = (
        f"WITH se AS MATERIALIZED (SELECT {id_col},"
        f" CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),"
        f" sdim AS (SELECT u.i AS dim, min(v[u.i]) AS mn,"
        f" max(v[u.i]) AS mx FROM se, (SELECT unnest({rng}) AS i) u"
        " GROUP BY u.i),"
        " scb AS MATERIALIZED (SELECT list(mn ORDER BY dim) AS mn,"
        " list(mx ORDER BY dim) AS mx FROM sdim),"
        f" scodes AS (SELECT {id_col}, [CASE WHEN scb.mx[i] > scb.mn[i]"
        " THEN CAST(floor((v[i] - scb.mn[i]) * 255.0"
        " / (scb.mx[i] - scb.mn[i]) + 0.5) AS INT) ELSE 0 END"
        f" for i in {rng}] AS codes FROM se CROSS JOIN scb),"
        f" sdeq AS MATERIALIZED (SELECT {id_col},"
        " [CASE WHEN scb.mx[i] > scb.mn[i] THEN scb.mn[i]"
        " + CAST(codes[i] AS DOUBLE) * (scb.mx[i] - scb.mn[i]) / 255.0"
        f" ELSE scb.mn[i] END for i in {rng}] AS dv"
        " FROM scodes CROSS JOIN scb),"
        f" sq AS (SELECT {id_col} AS query_id, v AS qv FROM se"
        f" WHERE {id_col} IN ({ids})),"
        f" sap AS (SELECT q.query_id, d.{id_col} AS neighbor_id,"
        f" round({approx_cos}, 6) AS score"
        " FROM sdeq d CROSS JOIN sq q"
        f" WHERE d.{id_col} != q.query_id),"
        " ssl AS (SELECT query_id, neighbor_id, score, rank FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY score DESC, neighbor_id) AS rank FROM sap)"
        f" WHERE rank <= {shortlist_k})"
    )
    if not rerank:
        return sql + (
            " SELECT query_id, neighbor_id, score,"
            " CAST(rank AS INT) AS rank FROM ssl"
        )
    return sql + (
        f", sx AS (SELECT {id_col} AS neighbor_id, v AS nv FROM se),"
        " srr AS (SELECT s.query_id, s.neighbor_id,"
        f" round({exact_cos}, 6) AS score"
        " FROM ssl s JOIN sx x ON x.neighbor_id = s.neighbor_id"
        " JOIN sq q ON q.query_id = s.query_id)"
        " SELECT query_id, neighbor_id, score,"
        " CAST(rank AS INT) AS rank FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "  ORDER BY score DESC, neighbor_id) AS rank FROM srr)"
        f" WHERE rank <= {k}"
    )
