"""Feature-hashed TF-IDF document vectors — the text→vector bridge.

The hashing trick (Weinberger et al. 2009, public): project a
corpus-sized vocabulary into a FIXED dimension by bucketing each token
with a hash, so the vectorizer needs no vocabulary table, no fit
phase, and no driver state — a pure per-token projection that
composes with every vector operator in this package (cosine top-k,
SRP-LSH, IVF, PQ, SemDeDup) on corpora that ship no embedding column.

  bucket(token) = first-8-hex of md5(token) as an integer, mod dim —
  the package's portable fingerprint family (MinHash, sampling), so
  the DuckDB oracle replays every bucket assignment byte-for-byte
  (Spark ``conv(hex,16,10)`` ≡ DuckDB ``('0x'||hex)::BIGINT``).

  weight(doc, bucket) = Σ_tokens-in-bucket tf · idf, with the same
  smoothed idf ``ln((N+1)/(df+1)) + 1`` as ``operators/tfidf.py``
  (sklearn's smoothing, public) — rounded to 6 at the edge.

The primary surface is the EXPLODED form ``(doc_id, bucket, weight)``:
relational (oracle-checkable row for row), sparse (only non-zero
buckets exist), and directly joinable — sparse cosine between two
docs is a sum over shared buckets, no dense materialization.
:func:`assemble_vectors` densifies to ``array<double>`` for the ANN
operators; it is a per-doc map-build with no extra shuffle beyond the
one ``groupBy(doc_id)``.

Scale shape: tf is one (doc, token) hash aggregate; df one (token)
aggregate (Zipf-hot tokens collapse map-side); the idf join keys on
token; bucket-sum one more (doc, bucket) aggregate. Everything keys
on uniformly-hashed or doc-local keys — no skew, no window over the
corpus, nothing driver-side (N rides a 1-row broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.portable_round import (
    dsum as _dsum,
    dsum_sql as _dsum_sql,
    fx6 as _fx6,
    fx6_sql as _fx6_sql,
)

from minisql_engine_spark.operators.text import _norm_text, _ws_tokens

DIM = 64

def hashed_tfidf(
    docs: DataFrame,
    dim: int = DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bucket, weight) — sparse feature-hashed TF-IDF rows
    (see module docstring); only non-zero buckets appear."""
    toks = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            F.explode(_ws_tokens(_norm_text(F.col(text_col)))).alias("t"),
        )
    )
    from pyspark.storagelevel import StorageLevel

    # the tf aggregate feeds BOTH the doc-frequency aggregate and the
    # idf join, and Spark's ReuseExchange does not dedupe the shared
    # subtree (verified empirically — the explode ran twice), so it is
    # persisted like the dedup shingle table
    tf = hold(
        toks.groupBy(id_col, "t")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK),
        "hashvec",
    )
    # doc-frequency from the persisted tf table, not a second explode
    # pass: tf holds one row per (doc, token), so count(*) per token
    # IS count(DISTINCT doc) over the raw tokens. The df table is
    # vocabulary-sized, so AQE broadcasts the idf join and the tf side
    # keeps its partitioning (no skewed shuffle on hot tokens).
    dft = tf.groupBy("t").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.filter(F.trim(F.col(text_col)) != "").agg(
        F.countDistinct(id_col).cast("double").alias("n_docs")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(dim),
    )
    scored = (
        tf.join(dft, "t")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            bucket.alias("bucket"),
            (
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0).cast("double")
                    )
                    + 1.0
                )
            ).alias("_w"),
        )
    )
    return (
        scored.groupBy(id_col, "bucket")
        .agg(_fx6(_dsum(F.col("_w"))).alias("weight"))
    )


def hashed_tfidf_sql(
    table: str = "documents",
    dim: int = DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`hashed_tfidf` — identical
    tokenization, md5-bucket arithmetic, idf smoothing, and round-6
    edge, term for term."""
    return (
        f"WITH toks AS (SELECT {id_col}, unnest(string_split("
        f" regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'),"
        f" ' ')) AS t FROM {table} WHERE trim({text_col}) <> ''),"
        f" tf AS (SELECT {id_col}, t, count(*) AS tf FROM toks"
        f"  GROUP BY {id_col}, t),"
        " dft AS (SELECT t,"
        f"  CAST(count(DISTINCT {id_col}) AS BIGINT) AS df"
        "  FROM toks GROUP BY t),"
        f" n AS (SELECT CAST(count(DISTINCT {id_col}) AS DOUBLE)"
        f"  AS n_docs FROM {table} WHERE trim({text_col}) <> '')"
        f" SELECT {id_col},"
        f" CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % {dim}"
        "  AS BIGINT) AS bucket,"
        " " + _fx6_sql(_dsum_sql(
            "CAST(tf AS DOUBLE)"
            " * (ln((n_docs + 1.0) / CAST(df + 1 AS DOUBLE)) + 1.0)"
        )) + " AS weight"
        " FROM tf JOIN dft USING (t), n"
        f" GROUP BY {id_col}, bucket"
    )


def assemble_vectors(
    sparse: DataFrame,
    dim: int = DIM,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, vec array<double>) — densified hashed vectors for the
    ANN/similarity operators (zero-filled; one groupBy(doc_id))."""
    entries = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "weight"))
        ).alias("_m")
    )
    return entries.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at("_m", i.cast("bigint")), F.lit(0.0)
            ),
        ).alias("vec"),
    )
