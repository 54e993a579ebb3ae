"""Similarity search over embedding columns (array<float>).

Two paths over the ``embeddings`` table (vec_id, embedding[64], label):

* brute-force cosine top-k — the correctness baseline: broadcast the
  (small) query set against the full corpus, JVM-side
  ``zip_with``/``aggregate`` dot products, window top-k;
* LSH-bucketed ANN — the scale path: deterministic sign-random-
  projection (hyperplanes derived from md5 hex digits, so the SQL
  oracle can rebuild the exact same planes), candidates = same
  bucket, then exact cosine re-rank.

Embedding cosine **near-dup** (pairs above a threshold, blocked by
label) also lives here — it is dedup family #5 (BASELINE.json).

Determinism: all float math is double-precision with a fixed
left-to-right fold (``F.aggregate``), and final scores are rounded to
6 decimals before ranking, which absorbs any residual
engine-summation difference while keeping rankings stable.

Scale: the corpus side never collects; the query side broadcasts.
At 100 TB the ANN path's bucket join replaces the n·q brute force;
recall is testable against the brute-force baseline (see
tests/test_extensions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold

N_TABLES = 8  # independent LSH tables (OR-amplification)
N_PLANES = 4  # hyperplanes per table (AND-amplification) → 16 buckets each


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as an explicit left-to-right double fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with pre-materialized norms — bit-identical to
    ``cosine(a, b)`` (same expressions, same operation order) but the
    per-vector ``sqrt(dot(v,v))`` fold is computed ONCE per row in a
    projection BELOW the join boundary instead of once per scored
    PAIR. In every top-k/assignment path the pair count is n×q or
    n×n_cells, so this removes 2 of the 3 64-element folds from the
    hot multiply: scoring cost drops ~3× while the oracle hash stays
    unchanged (verified — tests/test_oracle_parity.py)."""
    return dot(a, b) / (na * nb)


# SQL-string twins of the Column helpers above, for the hot builders.
# Each Python-side lambda in F.zip_with/F.aggregate costs several
# py4j round-trips to register (~7 ms per higher-order call —
# measured r3: ~0.4 s of every IVF plan build); the SQL forms parse
# JVM-side in one trip and produce the IDENTICAL expression tree
# (same lambdafunction nodes, same left-to-right fold, same 0.0
# double seed), so scores stay bit-stable.


def as_double_sql(field: str) -> str:
    return f"transform({field}, x -> cast(x as double))"


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" 0.0d, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def score_sql(a: str, b: str, na: str, nb: str) -> str:
    """round(cosine, 6) from pre-materialized norms."""
    return f"round({dot_sql(a, b)} / ({na} * {nb}), 6)"


# --- DuckDB oracle-side twins -----------------------------------------------
# (The Spark-dialect strings above feed F.expr; these feed the DuckDB
# oracle. Kept here so every consumer — the driver entry's IVF oracle,
# semdedup's oracle — replays the IDENTICAL formulas from one source.)

#: DuckDB rounded cosine between two DOUBLE[] expressions.
DUCK_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


def lsh_sig_ctes_sql(
    n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> str:
    """DuckDB CTEs ``bits, sig`` replaying the SRP signatures of
    :func:`lsh_bucket_table` bit for bit — the planes are re-derived
    from md5 IN SQL (component d of plane (t, p) =
    ``hexval(md5('t:p:d')[0]) − 7.5``, exactly :func:`_plane_component`),
    the per-element products accumulate through a sequential
    ``list_reduce`` with a prepended 0.0 seed (the same left-to-right
    IEEE addition order as Spark's ``aggregate(…, 0d, (acc,x)->acc+x)``
    fold — verified bit-identical on the driver corpus), and the
    bucket string is the plane bits in p order. Expects a prior CTE
    ``e(vec_id, v DOUBLE[])``."""
    return (
        " bits AS (SELECT vec_id, t, p,"
        "  CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        "   list_transform(v, (x, i) -> x *"
        "    (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR ||"
        "     ':' || (i-1)::VARCHAR), 1, 1))::BIGINT - 7.5))),"
        "   (acc, x) -> acc + x) > 0.0 THEN '1' ELSE '0' END AS bit"
        f"  FROM e, range(0, {n_tables}) tt(t),"
        f"  range(0, {n_planes}) pp(p)),"
        " sig AS MATERIALIZED (SELECT vec_id, t,"
        "  string_agg(bit, '' ORDER BY p) AS bucket"
        "  FROM bits GROUP BY vec_id, t)"
    )


def ivf_refine_ctes_sql(
    n_iter: int, n_cells: int | str = 16, dims: int = 64
) -> str:
    """DuckDB CTE chain replaying :func:`ivf_refined_centroids` from
    the ``first_ids`` seed: requires an ``e(vec_id, v DOUBLE[])`` CTE
    upstream, defines ``cents0`` … ``cents{n_iter}``. Each iteration
    assigns every vector to its nearest centroid by rounded cosine and
    recomputes decimal-exact per-dimension means — the same
    order-independent arithmetic the Spark side uses, so the refined
    index replays bit-for-bit. ``n_cells`` may be a SQL expression
    (string) — DuckDB accepts a scalar subquery as LIMIT — so a
    corpus-derived cell count (``semdedup.AUTO_N_CELLS_SQL``) replays
    without a Python-side count."""
    ctes = [
        " cents0 AS (SELECT vec_id AS cell, v AS cv FROM e"
        f"   ORDER BY vec_id LIMIT {n_cells})"
    ]
    for i in range(1, n_iter + 1):
        cos = DUCK_COS.format(a="e.v", b="c.cv")
        ctes.append(
            f" asg{i} AS (SELECT e.vec_id, c.cell, {cos} AS sim"
            f"   FROM e CROSS JOIN cents{i - 1} c)"
        )
        ctes.append(
            f" best{i} AS (SELECT vec_id, cell FROM ("
            f"   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id"
            f"    ORDER BY sim DESC, cell) AS r FROM asg{i}) WHERE r = 1)"
        )
        ctes.append(
            f" comp{i} AS (SELECT b.cell, d.i AS dim, e.v[d.i] AS comp"
            f"   FROM best{i} b JOIN e USING (vec_id),"
            f"   (SELECT unnest(range(1, {dims + 1})) AS i) d)"
        )
        ctes.append(
            f" mean{i} AS (SELECT cell, dim,"
            f"   round(CAST(sum(CAST(comp AS DECIMAL(38,12))) AS DOUBLE)"
            f"    / count(*), 6) AS m FROM comp{i} GROUP BY cell, dim)"
        )
        ctes.append(
            f" cents{i} AS (SELECT cell, list(m ORDER BY dim) AS cv"
            f"   FROM mean{i} GROUP BY cell)"
        )
    return ",".join(ctes)


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score, rank).

    The query rows are broadcast (tiny); each corpus partition scores
    its rows independently — embarrassingly parallel, one shuffle for
    the per-query top-k window. Self-matches excluded. Rank ties are
    broken by neighbor id (deterministic).
    """
    from pyspark.sql.window import Window

    q = embeddings.filter(F.col(id_col).isin(query_ids)).selectExpr(
        f"{id_col} as query_id",
        as_double_sql(vec_col) + " as qv",
    ).withColumn("qn", F.expr(norm_sql("qv")))
    c = embeddings.selectExpr(
        f"{id_col} as neighbor_id",
        as_double_sql(vec_col) + " as cv",
    ).withColumn("cn", F.expr(norm_sql("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(score_sql("qv", "cv", "qn", "cn")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def brute_force_topk_pandas(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched brute-force cosine top-k — the vectorized twin of
    ``brute_force_topk`` for wide-vector / many-query workloads.

    The JVM fold path scores one (query, vector) pair per codegen'd
    64-element loop; this path hands each Arrow batch to numpy and
    scores ALL pairs in the batch with ONE BLAS matmul
    (``C_hat @ Q_hat.T``), then keeps each batch's per-query top-k so
    only ``k·n_batches`` candidate rows (not n·q scored rows) reach
    the final global top-k window. Same scale contract as the JVM
    path: queries broadcast (collected once — q ≪ corpus by
    contract), corpus streams through mapInPandas, nothing
    corpus-sized ever concentrates.

    Scores are float64 matmuls rounded to 6 — summation ORDER differs
    from the JVM left-fold, so boundary pairs can differ in the last
    unit; rankings agree (asserted in tests) but this path is
    registered nowhere the driver hash-compares.
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    q_rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .selectExpr(id_col, as_double_sql(vec_col) + " as qv")
        .collect()
    )
    qids = [r[id_col] for r in q_rows]
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("score", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )

    def score_batches(batches):
        import numpy as np

        Q = np.asarray([r["qv"] for r in q_rows], dtype=np.float64)
        Qh = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        qid_arr = np.asarray(qids, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray(list(pdf["cv"]), dtype=np.float64)
            Ch = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = np.round(Ch @ Qh.T, 6)  # (batch, q)
            nid = pdf["nid"].to_numpy(dtype=np.int64)
            frames = []
            for j, qid in enumerate(qid_arr):
                s = S[:, j]
                mask = nid != qid
                s_m, n_m = s[mask], nid[mask]
                top = min(k, len(s_m))
                if top == 0:
                    continue
                # per-batch top-k: score desc, neighbor_id asc tiebreak
                order = np.lexsort((n_m, -s_m))[:top]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": n_m[order],
                            "score": s_m[order],
                            "rank": 0,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = embeddings.selectExpr(
        f"{id_col} as nid", as_double_sql(vec_col) + " as cv"
    ).mapInPandas(score_batches, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Deterministic sign-random-projection LSH
# ---------------------------------------------------------------------------


def _plane_component(table: int, p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-7.5, 7.5]:
    hexval(md5('t:p:d')[0]) - 7.5. Reproducible in SQL (md5 + strpos)."""
    import hashlib

    h = hashlib.md5(f"{table}:{p}:{d}".encode()).hexdigest()
    return int(h[0], 16) - 7.5


def _plane_hex(table: int, p: int, dims: int) -> str:
    """The plane's ``dims`` components packed as one hex string —
    char d is md5('t:p:d')[0], so component d = hexval(char) − 7.5."""
    import hashlib

    return "".join(
        hashlib.md5(f"{table}:{p}:{d}".encode()).hexdigest()[0]
        for d in range(dims)
    )


def lsh_bucket_expr(
    vec_field: str, dims: int, table: int, n_planes: int = N_PLANES
) -> Column:
    """One table's bucket signature: concat of sign(v·plane_p) bits,
    for the array column named ``vec_field``.

    Planes are constants folded into the plan (no join, no shuffle):
    bucket computation is pure map-side. Two plan-construction traps
    measured here: (a) dims×planes×tables ``F.lit`` nodes cost ~4 s
    of py4j round-trips per query BEFORE any row moved — each plane
    is instead ONE packed hex string decoded per element
    (``conv(char,16,10) − 7.5``, exact halves); (b) composing the
    folds through the functional Column API still made thousands of
    py4j calls, so the whole signature is ONE ``F.expr`` SQL string —
    a single round-trip, parsed JVM-side. Fold order (left-to-right)
    and arithmetic match the original literal-array encoding, so
    signatures are bit-identical and the SQL oracle can still rebuild
    planes from md5."""
    parts = []
    for p in range(n_planes):
        hx = _plane_hex(table, p, dims)
        fold = (
            f"aggregate(transform({vec_field}, (x, i) ->"
            f" cast(x as double) *"
            f" (cast(conv(substring('{hx}', i + 1, 1), 16, 10) as double)"
            f" - 7.5d)), 0d, (acc, x) -> acc + x)"
        )
        parts.append(f"case when {fold} > 0d then '1' else '0' end")
    return F.expr("concat(" + ", ".join(parts) + ")")


def lsh_bucket_table(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(id, tbl, bucket) over all LSH tables — the ANN index.

    Multi-table sign-random-projection: AND over n_planes bits within
    a table (selectivity), OR across n_tables tables (recall). One
    map-side projection + posexplode; no vector payload is carried,
    so shuffle rows are (id, short string)."""
    buckets = F.array(
        *[
            lsh_bucket_expr(vec_col, dims, t, n_planes)
            for t in range(n_tables)
        ]
    )
    return embeddings.select(
        F.col(id_col), F.posexplode(buckets).alias("tbl", "bucket")
    )


def _flip_bit(bucket: Column, p: int, n_planes: int) -> Column:
    """The bucket signature with bit ``p`` (0-based) flipped."""
    c = F.substring(bucket, p + 1, 1)
    flipped = F.when(c == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(
        F.substring(bucket, 1, p),
        flipped,
        F.substring(bucket, p + 2, n_planes - p - 1),
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    multi_probe: bool = False,
) -> DataFrame:
    """ANN top-k: candidates share ANY LSH table bucket with the
    query; exact cosine re-rank over the deduplicated candidates.

    At scale the bucket equi-join replaces the n·q cross join; the
    candidate set is bounded by bucket occupancy. Recall < 1 by
    design, measured against ``brute_force_topk`` in tests — on
    clustered real-world embeddings selectivity is far better than on
    near-uniform synthetic vectors.

    ``multi_probe=True`` additionally probes, per table, every bucket
    at Hamming distance 1 from the query's signature (Lv et al.,
    VLDB'07): a near neighbor that disagrees on exactly one hyperplane
    is still found. The expansion happens ONLY on the (tiny) query
    side — n_planes extra keys per query per table — so the corpus
    index, the equi-join shape, and the shuffle are unchanged; recall
    rises at the cost of ~(1+n_planes)× the probed buckets, which
    beats adding tables (more index rows for every corpus vector).
    """
    from pyspark.sql.window import Window

    index = lsh_bucket_table(
        embeddings, id_col, vec_col, dims, n_tables, n_planes
    )
    q_index = index.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "tbl", "bucket"
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[
                _flip_bit(F.col("bucket"), p, n_planes)
                for p in range(n_planes)
            ],
        )
        q_index = q_index.select(
            "query_id", "tbl", F.explode(probes).alias("bucket")
        )
    cand = (
        index.join(F.broadcast(q_index), ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    vecs = embeddings.selectExpr(
        id_col, as_double_sql(vec_col) + " as v"
    ).withColumn("nv", F.expr(norm_sql("v")))
    qv = (
        vecs.filter(F.col(id_col).isin(query_ids))
        .withColumnRenamed(id_col, "query_id")
        .withColumnRenamed("v", "qv")
        .withColumnRenamed("nv", "qn")
    )
    cv = (
        vecs.withColumnRenamed(id_col, "neighbor_id")
        .withColumnRenamed("v", "cv")
        .withColumnRenamed("nv", "cn")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(score_sql("qv", "cv", "qn", "cn")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (dedup family #5)
# ---------------------------------------------------------------------------


def lsh_block_candidates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    dims: int = 64,
    n_tables: int = N_TABLES,
    n_planes: int = 8,
) -> DataFrame:
    """Candidate (blk, id_a, id_b) pairs within a block that share an
    SRP-LSH bucket in ANY table. Input: (id, blk, v) rows. The index
    carries (id, blk, tbl, bucket) only — no vector payload shuffles —
    and candidates are bounded by per-bucket occupancy (expected
    ~n²/2^n_planes per table for near-orthogonal vectors) instead of
    the block's full n²."""
    buckets = F.array(
        *[
            lsh_bucket_expr("v", dims, t, n_planes)
            for t in range(n_tables)
        ]
    )
    idx = vectors.select(
        F.col(id_col), "blk", F.posexplode(buckets).alias("tbl", "bucket")
    )
    ia = idx.select(
        F.col(id_col).alias("id_a"), "blk", "tbl", "bucket"
    )
    ib = idx.select(
        F.col(id_col).alias("id_b"), "blk", "tbl", "bucket"
    )
    return (
        ia.join(ib, ["blk", "tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("blk", "id_a", "id_b")
        .distinct()
    )


def embedding_near_dups(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_block_size: int = 10_000,
    dims: int = 64,
) -> DataFrame:
    """Near-duplicate vector pairs: exact cosine ≥ threshold within a
    blocking key (label) — the embedding analog of
    ``dedup.ngram_jaccard_pairs``. Returns (id_a, id_b, cos_sim).

    Scale guard: blocks are all-pairs ONLY up to ``max_block_size``
    rows. A skewed blocking key used to send one giant block
    quadratic; now any block over the cap routes through the SRP-LSH
    bucket join (``lsh_block_candidates``) — candidates share a
    hyperplane-signature bucket, then get the SAME exact cosine
    scoring, so precision stays 1.0 (every emitted pair's cos_sim is
    exact and ≥ threshold) and only recall becomes probabilistic,
    rising with threshold (high-similarity pairs collide in some
    table with probability ~1-(1-(1-θ/π)^8)^n_tables). Both branches
    are one plan; on unskewed data the fallback branch is empty and
    costs one small per-block count aggregate."""
    from pyspark.sql.window import Window

    # Block sizes via a window over blk, NOT groupBy+self-join: the
    # window's shuffle is the SAME hash-partitioning by blk the pair
    # join needs, so every downstream branch (a/b/va/vb) reuses ONE
    # exchange (ReusedExchange) instead of re-running the scan+norm
    # subtree per branch — Spark dedupes identical exchanges, not
    # arbitrary common subplans.
    e = (
        embeddings.selectExpr(
            id_col,
            f"{block_col} as blk",
            as_double_sql(vec_col) + " as v",
        )
        .withColumn("nv", F.expr(norm_sql("v")))
        .withColumn("blk_n", F.count("*").over(Window.partitionBy("blk")))
    )
    small = e.filter(F.col("blk_n") <= max_block_size)
    big = e.filter(F.col("blk_n") > max_block_size)

    sim = F.expr(score_sql("va", "vb", "na", "nb")).alias("cos_sim")

    a = small.select(
        F.col(id_col).alias("id_a"), "blk",
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    b = small.select(
        F.col(id_col).alias("id_b"), "blk",
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    exact = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim)
        .filter(F.col("cos_sim") >= threshold)
    )

    cand = lsh_block_candidates(big, id_col, dims)
    va = big.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    vb = big.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    approx = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim)
        .filter(F.col("cos_sim") >= threshold)
    )
    return exact.unionByName(approx)

# ---------------------------------------------------------------------------
# IVF-Flat ANN (inverted-file index with deterministic centroids)
# ---------------------------------------------------------------------------

N_CELLS = 16   # IVF cells (centroids)
N_PROBE = 2    # cells probed per query


def ivf_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
) -> DataFrame:
    """(cell, cv) centroid table: the vectors with the ``n_cells``
    smallest ids — deterministic, reproducible in SQL, a legitimate
    IVF seeding (at cluster scale you'd refresh centroids with
    k-means||; the index structure and query path stay identical)."""
    return embeddings.orderBy(F.col(id_col)).limit(n_cells).selectExpr(
        f"{id_col} as cell",
        as_double_sql(vec_col) + " as cv",
    )


def kmeans_parallel_seeds(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    oversample: int | None = None,
    rounds: int = 3,
) -> DataFrame:
    """(cell, cv) seed centroids via DETERMINISTIC k-means||
    (Bahmani et al., VLDB'12) — the scale-correct alternative to
    first-ids seeding when ids correlate with ingest order (first-ids
    then seeds from one corner of the distribution).

    k-means|| structure, determinism substituted for randomness so
    runs (and a SQL oracle) reproduce bit-for-bit:

    * initial center: the min-id vector;
    * each round scores every vector's cosine distance to the current
      center set (broadcast join, min over centers — round(6) like
      every sim in this module), computes the total cost φ as an
      exact DECIMAL sum, and "samples" each vector with probability
      ``min(1, l·d/φ)`` — the coin flip is the md5-hash fraction of
      ``(id, round)``, the same hash-threshold trick
      ``operators/sampling`` uses, so acceptance is a pure function
      of the data;
    * final reduction to ``n_cells``: candidates are weighted by
      member count (one broadcast-join aggregate) and the heaviest
      ``n_cells`` win, weight desc / id asc — SQL-replayable, unlike
      the usual driver-side weighted k-means++.

    Everything is map-side against broadcast center sets except the
    per-round (id-keyed) min-distance aggregate and the final weight
    count; candidate sets stay ≤ 1 + l·rounds rows and ride
    ``localCheckpoint`` so the loop never deepens the lineage. Use as
    ``ivf_refined_centroids(..., seed="kmeans_parallel")``; Lloyd
    refinement is identical from either seed."""
    l = oversample if oversample is not None else 2 * n_cells
    vecs = (
        embeddings.selectExpr(id_col, as_double_sql(vec_col) + " as v")
        .withColumn("nv", F.expr(norm_sql("v")))
    )
    # deterministic first center: min id
    cents = (
        vecs.orderBy(F.col(id_col))
        .limit(1)
        .select(F.col(id_col).alias("cell"), F.col("v").alias("cv"))
        .localCheckpoint(eager=True)
    )
    # md5-fraction in [0,1): first 8 hex chars / 2^32 — the
    # deterministic coin (operators/sampling.py pattern)
    def _frac(round_no: int):
        return F.expr(
            f"conv(substr(md5(concat(cast({id_col} as string),"
            f" '#kmpar#', '{round_no}')), 1, 8), 16, 10)"
        ).cast("double") / F.lit(float(1 << 32))

    for r in range(rounds):
        scored = (
            vecs.crossJoin(
                F.broadcast(
                    cents.withColumn("nc", F.expr(norm_sql("cv")))
                )
            )
            .select(
                F.col(id_col),
                "v",
                "nv",
                F.expr(score_sql("v", "cv", "nv", "nc")).alias("sim"),
            )
            .groupBy(id_col, "v", "nv")
            .agg((F.lit(1.0) - F.max("sim")).alias("d"))
        )
        phi = scored.agg(
            F.sum(F.col("d").cast("decimal(38,12)"))
            .cast("double")
            .alias("_phi")
        )
        accepted = (
            scored.crossJoin(F.broadcast(phi))
            .filter(F.col("_phi") > 0)
            .filter(
                _frac(r)
                < F.lit(float(l)) * F.col("d") / F.col("_phi")
            )
            .select(F.col(id_col).alias("cell"), F.col("v").alias("cv"))
        )
        cents = (
            cents.unionByName(accepted)
            .dropDuplicates(["cell"])
            .localCheckpoint(eager=True)
        )
    # Reduce to n_cells: weight candidates by membership, then a
    # deterministic weighted farthest-point greedy — Bahmani's final
    # step reclusters the candidate set "small enough to handle
    # locally" (ibid. §3.3); taking simply the heaviest k instead
    # collapses onto the dense core and costs recall (measured:
    # 0.34 vs 0.96 at sf0.1). The candidate set is ≤ 1 + l·rounds
    # rows — the same contract-tiny driver fetch as query vectors.
    assigned = ivf_assignments(
        embeddings, cents, id_col, vec_col, n_probe=1
    )
    weights = assigned.groupBy("cell").agg(F.count("*").alias("_w"))
    rows = (
        cents.join(weights, "cell", "left")
        .withColumn("_w", F.coalesce(F.col("_w"), F.lit(0)))
        .orderBy(F.col("_w").desc(), F.col("cell"))
        .collect()
    )
    if not rows:
        return cents.select("cell", "cv")
    import math

    def _cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return round(dot / (na * nb), 6)

    chosen = [rows[0]]  # heaviest first (weight desc, cell asc)
    remaining = rows[1:]
    while remaining and len(chosen) < n_cells:
        # deterministic argmax of weight · min-cosine-distance to the
        # chosen set; ties → lower cell id
        best_i, best_key = 0, None
        for i, r in enumerate(remaining):
            d = min(1.0 - _cos(r["cv"], c["cv"]) for c in chosen)
            key = (r["_w"] * d, -r["cell"])
            if best_key is None or key > best_key:
                best_i, best_key = i, key
        chosen.append(remaining.pop(best_i))
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(int(r["cell"]), list(r["cv"])) for r in chosen],
        "cell bigint, cv array<double>",
    )


def ivf_refined_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    n_iter: int = 2,
    dims: int = 64,
    seed: str = "first_ids",
) -> DataFrame:
    """(cell, cv) centroids after ``n_iter`` Lloyd refinement steps
    from the deterministic seed — distributed k-means, one broadcast
    join + one shuffle per iteration, nothing ever collected.

    Each step assigns every vector to its nearest current centroid by
    rounded cosine (broadcast of ≤ n_cells tiny rows, map-side), then
    recomputes each cell's centroid as the per-dimension mean. The
    mean is ORDER-INDEPENDENT by construction: components are summed
    as DECIMAL(38,12) (exact, commutative — a raw double sum varies
    with partition order), divided in double, rounded to 6. That
    determinism is what lets the SQL oracle replay the identical
    iterations and verify the refined index end-to-end, instead of
    trusting frozen centroid literals.

    ``seed`` picks the initializer: ``"first_ids"`` (default — the
    n_cells lowest-id vectors, trivially SQL-replayable, what the
    driver oracle replays) or ``"kmeans_parallel"``
    (:func:`kmeans_parallel_seeds` — deterministic k-means||, better
    spread when ids correlate with ingest order; recall comparison
    recorded in PLANS_r5.md). The refinement loop is identical from
    either seed. Cells that lose all members drop out (both engines
    agree).

    Plan note: the per-dim means are ``dims`` independent decimal SUM
    columns (same 64-agg-columns shape as SimHash fingerprints — pure
    codegen, map-side partials, one shuffle)."""
    if seed == "kmeans_parallel":
        cents = kmeans_parallel_seeds(
            embeddings, id_col, vec_col, n_cells
        )
    elif seed == "first_ids":
        cents = ivf_centroids(embeddings, id_col, vec_col, n_cells)
    else:
        raise ValueError(
            f"unknown seed {seed!r}: use 'first_ids' or 'kmeans_parallel'"
        )
    # ONE F.expr per dimension, built ONCE and reused across
    # iterations (Column objects are immutable unresolved
    # expressions): the Column-API composition of the same mean
    # (~7 py4j calls × dims × n_iter) cost ~1.9 s of driver time per
    # plan BUILD (measured r3). SQL `/` is the same double division;
    # values are bit-stable.
    mean_cols = [
        F.expr(
            f"round(cast(sum(cast(element_at(v, {d}) as"
            f" decimal(38,12))) as double) / count(*), 6)"
            f" as c{d}"
        )
        for d in range(1, dims + 1)
    ]
    cv_col = F.expr(
        "array(" + ", ".join(f"c{d}" for d in range(1, dims + 1)) + ")"
    ).alias("cv")
    for _ in range(n_iter):
        # keep_vec: the assignment aggregate carries v, so the means
        # read vectors straight off the argmax output — the former
        # `vecs.join(best, id_col)` cost one corpus-sized exchange of
        # vecs PLUS the join itself per Lloyd iteration for rows the
        # aggregate already held (guide §2.4; same multiset of
        # (cell, v) rows, so the decimal means are bit-identical)
        best = ivf_assignments(
            embeddings, cents, id_col, vec_col, n_probe=1,
            keep_vec=True,
        )
        means = best.groupBy("cell").agg(*mean_cols)
        cents = means.select("cell", cv_col)
    return cents


def ivf_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    with_sim: bool = False,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cell, cell_rank) — each vector assigned to its ``n_probe``
    nearest centroids by cosine. Broadcast join against the (tiny)
    centroid table — map-side only; the SAME centroid table must be
    used for corpus and queries.

    The hot n_probe=1 corpus path is a pure HashAggregate with
    map-side partial combine — NO sort and NO shuffle of the
    (n × n_cells) scored rows, which matters because Lloyd refinement
    calls this once per iteration and every reindex calls it over the
    whole corpus. The argmax ordering is packed into ONE long —
    ``round(sim·1e6)·2³² − cell`` — because ``max_by`` over a struct
    ordering falls back to SortAggregate (struct is not a mutable
    hash-agg buffer type); a long ordering keeps it hash. The packing
    is exact and order-preserving: sim is already rounded to 6
    decimals so sim·1e6 is an integer in [−1e6, 1e6], and cell ids
    (< 2³¹) break ties downward exactly like the window's
    ``sim DESC, cell ASC``. The ``row_number`` window survives only
    for n_probe > 1 — the tiny query side.

    ``with_sim=True`` adds a ``sim_fx6`` column — round(sim·10⁶) of
    THAT ROW's cell: at n_probe=1 this is the assigned cell's sim;
    for n_probe>1 each returned (vector, probed-cell) row carries the
    sim of its own probed cell (rank 1..n_probe), so rank 1 is the
    assignment's. On the hot n_probe=1 path it is decoded from
    the packed-long max the aggregate already computes (packed =
    s·2³² − cell, so s = (packed + cell) DIV 2³² — exact integer
    arithmetic, no second scoring pass): a caller that needs the
    per-vector centroid distance (SemDeDup keep-farthest) gets it
    for free instead of re-scoring the corpus against the broadcast
    centroid table.

    ``keep_vec=True`` carries the cast vector (``v``) and its norm
    (``nv``) through to the output, so a consumer that needs the
    vectors alongside the assignment (Lloyd's per-cell means, the
    admission verify's batch side) reads them HERE instead of
    re-joining the corpus on id — deleting one corpus-sized
    exchange + join per consumer (guide §2.4). On the n_probe=1
    path (v, nv) ride as extra GROUP KEYS of the same hash
    aggregate: they are functionally dependent on the id (one
    vector per id), so groups and the argmax row are unchanged and
    the aggregate stays whole-stage-codegen hash (the docstring
    rule above); the partial combine still reduces to one row per
    id per map partition before the exchange, so the shuffle
    carries exactly the (id, v) payload the deleted join used to
    shuffle."""
    base_cols = [F.col(id_col), "cell"]
    scored = (
        vectors.selectExpr(id_col, as_double_sql(vec_col) + " as v")
        .withColumn("nv", F.expr(norm_sql("v")))
        .crossJoin(
            F.broadcast(
                centroids.withColumn("nc", F.expr(norm_sql("cv")))
            )
        )
        .select(
            *base_cols,
            F.expr(score_sql("v", "cv", "nv", "nc")).alias("sim"),
            *(["v", "nv"] if keep_vec else []),
        )
    )
    vec_cols = [F.col("v"), F.col("nv")] if keep_vec else []
    if n_probe == 1:
        packed = (
            F.round(F.col("sim") * 1e6).cast("long") * F.lit(1 << 32).cast("long")
            - F.col("cell").cast("long")
        )
        aggs = [F.max_by("cell", packed).alias("cell")]
        if with_sim:
            # max(packed) pairs with max_by's cell: packed is unique
            # per (sim, cell), so both aggregates pick the same row
            aggs.append(F.max(packed).alias("_pk"))
        out = scored.groupBy(F.col(id_col), *vec_cols).agg(*aggs)
        cols = [F.col(id_col), F.col("cell"), F.lit(1).alias("cell_rank")]
        if with_sim:
            cols.append(
                F.expr(
                    "CAST((_pk + CAST(cell AS BIGINT))"
                    f" DIV {1 << 32} AS BIGINT)"
                ).alias("sim_fx6")
            )
        return out.select(*cols, *vec_cols)
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell"))
    ranked = scored.withColumn("cell_rank", F.row_number().over(w)).filter(
        F.col("cell_rank") <= n_probe
    )
    cols = [F.col(id_col), F.col("cell"), F.col("cell_rank")]
    if with_sim:
        cols.append(
            F.round(F.col("sim") * 1e6).cast("long").alias("sim_fx6")
        )
    return ranked.select(*cols, *vec_cols)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    refine_iters: int = 0,
    seed: str = "first_ids",
) -> DataFrame:
    """IVF-Flat ANN top-k: corpus vectors live in their single nearest
    cell; each query probes its ``n_probe`` nearest cells; exact
    cosine re-rank over the probed cells' members.

    Scale shape: the inverted file is an equi-join key (cell id), so
    the query fan-out is bounded by cell occupancy (~n/n_cells per
    cell), replacing the n·q brute force. Recall grows with n_probe
    and with centroid quality — ``refine_iters`` > 0 runs that many
    Lloyd steps (``ivf_refined_centroids``) before indexing. Refined
    centroids are persisted: corpus and query assignment are separate
    join branches, and without the persist each would re-run the full
    refinement aggregation chain (at cluster scale the centroid table
    would be checkpointed to parquet — it is n_cells rows either way).
    """
    from pyspark.sql.window import Window

    if refine_iters > 0:
        from pyspark.storagelevel import StorageLevel

        cents = hold(
            ivf_refined_centroids(
                embeddings, id_col, vec_col, n_cells,
                n_iter=refine_iters, seed=seed,
            ).persist(StorageLevel.MEMORY_AND_DISK),
            "centroids",
        )
    else:
        cents = ivf_centroids(embeddings, id_col, vec_col, n_cells)
    corpus_cells = ivf_assignments(
        embeddings, cents, id_col, vec_col, n_probe=1
    ).select(F.col(id_col).alias("neighbor_id"), "cell")
    query_cells = (
        ivf_assignments(
            embeddings.filter(F.col(id_col).isin(query_ids)),
            cents,
            id_col,
            vec_col,
            n_probe=n_probe,
        )
        .select(F.col(id_col).alias("query_id"), "cell")
    )
    cand = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vecs = embeddings.selectExpr(
        id_col, as_double_sql(vec_col) + " as v"
    ).withColumn("nv", F.expr(norm_sql("v")))
    qv = (
        vecs.filter(F.col(id_col).isin(query_ids))
        .withColumnRenamed(id_col, "query_id")
        .withColumnRenamed("v", "qv")
        .withColumnRenamed("nv", "qn")
    )
    cv = (
        vecs.withColumnRenamed(id_col, "neighbor_id")
        .withColumnRenamed("v", "cv")
        .withColumnRenamed("nv", "cn")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(score_sql("qv", "cv", "qn", "cn")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
