"""DSIR — data selection with importance resampling (hashed n-gram
importance weights).

Implements the scoring stage of DSIR (Xie et al. 2023, public
preprint: "Data Selection for Language Models via Importance
Resampling"): estimate bag-of-hashed-n-gram distributions for a
TARGET corpus (the domain you want more of) and the RAW pool, then
weight every raw document by how much more likely its features are
under the target:

    f(g)    = hash-bucket of n-gram g           (B buckets)
    p̂(f)    = (count(f) + 1) / (total + B)      Laplace-smoothed
    log w(d)= Σ_{g ∈ d} [ log p̂_target(f(g)) − log p̂_raw(f(g)) ]

Features are word unigrams + bigrams over the package's normalized
tokens (the DSIR paper's configuration). The hash bucket is the first
``digits`` hex chars of ``md5('dsir:' || gram)`` used DIRECTLY as the
bucket key — the same engine-portable idiom as
``operators/sampling.py`` (no hex→int conversion anywhere; B = 16^d
buckets, default 256), so the DuckDB oracle replays every weight
bit-for-bit.

Sizing ``digits``: B must stay WELL below the corpus's total feature
count, or the +1 Laplace mass dominates the ratios and every weight
collapses toward log((tr+B)/(tt+B)) (negative when the target is the
smaller pool — observed on a 40-feature toy corpus with B=256). The
paper uses 10⁴ buckets against ~10⁸⁺ features; default B=256 suits
≥10⁵-feature corpora, and at 100 TB raise digits to 3–4 (4 096 /
65 536 buckets) — the λ table stays broadcast-tiny either way.

Selection: ``selected = avg_logw > 0`` — a document is kept when its
features are on-average more probable under the target than the raw
distribution. A fixed threshold keeps the decision a pure per-row
projection; DSIR's sampled-without-replacement top-k would need a
global rank (one single-partition window over the corpus — the exact
shape this package avoids; use ``sampling.stratified_sample`` on
``avg_logw`` bands if a quota is required).

Plan shape: features explode ONCE into (doc_id, is_target, bucket);
bucket-count aggregates for target and raw are two filters over that
one exploded relation (map-side partials, ≤B groups each); λ(f) is a
≤B-row broadcast table; the per-doc score is one hash aggregate.
Nothing quadratic, no global window, the only corpus-sized shuffle is
the per-doc aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.portable_round import (
    dsum_tf as _dsum_tf,
    fx6 as _fx6,
)

from minisql_engine_spark.operators.text import _norm_text, _ws_tokens

#: md5 hex prefix length for the feature bucket: B = 16^DIGITS = 256
DIGITS = 2

def _features(toks: Column) -> Column:
    """Unigrams + bigrams over an ALREADY-MATERIALIZED token array.

    ``toks`` must be a named column holding the token array, NOT the
    raw tokenize expression: ``element_at`` inside a higher-order
    lambda is evaluated once per element, and Catalyst does not CSE
    across lambda boundaries — an inlined ``split(regexp_replace(…))``
    there re-tokenizes the whole document per bigram, turning the
    build O(n²·len) per doc (measured 15 s for 5 000 docs at sf0.1
    before the hoist, ~0.5 s after)."""
    nt = F.size(toks)
    bigrams = F.when(
        nt >= 2,
        F.transform(
            F.sequence(F.lit(1), nt - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def dsir_weights(
    docs: DataFrame,
    target_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = DIGITS,
) -> DataFrame:
    """(doc_id, is_target, n_feats, logw, avg_logw, selected) for
    every document with ≥1 token. ``target_filter`` is a boolean
    Column defining the target corpus (e.g. ``F.col("lang") ==
    "en"``); all documents are scored, target ones included (their
    weights are the sanity check — they should skew positive)."""
    if not 1 <= digits <= 4:
        # >4 hex digits = >65 536 buckets: the λ table stops being
        # broadcast-tiny and the plan's shape changes out from under
        # the caller; the paper's 10⁴ buckets sit inside this range
        raise ValueError(f"digits must be in [1, 4], got {digits}")
    n_buckets = 16 ** digits
    from minisql_engine_spark.fanout import fan_out

    feats = fan_out(
        # evaluate the (cheap) target predicate before the fan-out so
        # the shuffle carries (id, flag, text) only — the expensive
        # tokenize + feature explode + md5 then runs on every core
        # instead of the single-row-group scan's one task (guide
        # §2.5; no-op at scale, see fanout.py)
        docs.select(
            F.col(id_col),
            target_filter.alias("is_target"),
            F.col(text_col),
        )
    ).select(
        # tokens into a NAMED column first — _features requires a
        # materialized array (see its docstring: inlining the
        # tokenize re-tokenizes per bigram)
        F.col(id_col),
        F.col("is_target"),
        _ws_tokens(_norm_text(F.col(text_col))).alias("_toks"),
    ).select(
        F.col(id_col),
        "is_target",
        F.explode(_features(F.col("_toks"))).alias("g"),
    ).withColumn(
        "bucket",
        F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("g"))), 1, digits),
    )

    # (doc, bucket) pre-aggregation FIRST: every other relation (per-
    # bucket counts, totals, the scoring join) is a sum over it, so
    # the expensive feature explode runs ONCE and the persisted table
    # is doc×distinct-bucket-sized, not gram-instance-sized. The
    # former shape computed tgt/raw/totals straight off `feats`,
    # re-executing the explode per consumer (4 passes measured —
    # guide §5). Counts are identical: count(instances) ≡ sum(tf).
    # (checkpointing `dtf` instead was measured and rejected; numbers
    # beside span_dedup's gram persist)
    dtf = hold(
        feats.groupBy(id_col, "is_target", "bucket").agg(
            F.count("*").cast("bigint").alias("tf")
        ).persist(),
        "dsir",
    )

    tgt = dtf.filter("is_target").groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("ct")
    )
    raw = dtf.groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("cr")
    )
    # λ per bucket over the union of observed buckets; totals ride a
    # single-row cross join (unseen buckets never contribute to any
    # document's sum, so the ≤B observed rows are sufficient)
    lam = (
        raw.join(tgt, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
            "cr",
        )
        .crossJoin(
            F.broadcast(
                dtf.agg(
                    F.sum(F.when(F.col("is_target"), F.col("tf")).otherwise(0))
                    .cast("bigint")
                    .alias("tt"),
                    F.sum("tf").cast("bigint").alias("tr"),
                )
            )
        )
        .select(
            "bucket",
            (
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / (F.col("tt") + n_buckets).cast("double")
                )
                - F.log(
                    (F.col("cr") + 1).cast("double")
                    / (F.col("tr") + n_buckets).cast("double")
                )
            ).alias("lam"),
        )
    )

    # λ is constant per bucket, so the tf-weighted decimal sum
    # (dsum_tf — bitwise identical to the per-instance sum) runs the
    # λ join on each doc's DISTINCT buckets, not its gram instances
    return (
        dtf.join(F.broadcast(lam), "bucket")
        .groupBy(id_col, "is_target")
        .agg(
            F.sum("tf").cast("bigint").alias("n_feats"),
            _dsum_tf(F.col("lam"), F.col("tf")).alias("_lw"),
        )
        .withColumn(
            "avg_logw",
            _fx6(F.col("_lw") / F.col("n_feats").cast("double")),
        )
        .select(
            id_col,
            "is_target",
            "n_feats",
            _fx6(F.col("_lw")).alias("logw"),
            "avg_logw",
            (F.col("avg_logw") > 0.0).alias("selected"),
        )
    )


def dsir_weights_sql(
    target_predicate: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = DIGITS,
) -> str:
    """DuckDB oracle twin of :func:`dsir_weights`.
    ``target_predicate`` is the SQL form of the target filter (e.g.
    ``"lang = 'en'"``)."""
    n_buckets = 16 ** digits
    return (
        f"WITH tk AS (SELECT {id_col}, ({target_predicate}) AS is_target,"
        f" string_split(regexp_replace(lower(trim({text_col})),"
        f" '\\s+', ' ', 'g'), ' ') AS t"
        f" FROM {table} WHERE trim({text_col}) <> ''),"
        " feats0 AS (SELECT *, list_concat(t,"
        "   [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gs"
        "  FROM tk),"
        f" feats AS (SELECT {id_col}, is_target,"
        f"  substr(md5('dsir:' || g), 1, {digits}) AS bucket"
        "  FROM (SELECT *, unnest(gs) AS g FROM feats0)),"
        " tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct"
        "  FROM feats WHERE is_target GROUP BY bucket),"
        " raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr"
        "  FROM feats GROUP BY bucket),"
        " tot AS (SELECT CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS tr FROM feats),"
        " lam AS (SELECT raw.bucket,"
        f"  ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (tt + {n_buckets}))"
        f"  - ln(CAST(cr + 1 AS DOUBLE) / (tr + {n_buckets})) AS lam"
        "  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket"
        "  CROSS JOIN tot),"
        f" per AS (SELECT {id_col}, is_target,"
        "  CAST(count(*) AS BIGINT) AS n_feats,"
        "  CAST(sum(CAST(lam AS DECIMAL(38,12))) AS DOUBLE) AS lw"
        "  FROM feats JOIN lam USING (bucket)"
        f"  GROUP BY {id_col}, is_target)"
        f" SELECT {id_col}, is_target, n_feats,"
        "  floor(lw * 1e6 + 0.5) / 1e6 AS logw,"
        "  floor(lw / CAST(n_feats AS DOUBLE) * 1e6 + 0.5) / 1e6"
        "   AS avg_logw,"
        "  floor(lw / CAST(n_feats AS DOUBLE) * 1e6 + 0.5) / 1e6 > 0.0"
        "   AS selected"
        " FROM per"
    )
