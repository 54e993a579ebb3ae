"""Duplicate-span detection — corpus-level repeated-substring report.

Implements the span-granular dedup stage of Lee et al. 2022 (public
preprint: "Deduplicating Training Data Makes Language Models Better"):
find every maximal token span that occurs more than once across the
corpus, so a curation pipeline can cut the spans (boilerplate,
licenses, quoted headers) instead of dropping whole documents. The
paper builds a suffix array; the order-preserving relational
equivalent at fixed granularity is a positional k-gram join:

  1. posexplode the normalized tokens of every document;
  2. hash each k-token window (md5 of the joined window — the same
     portable fingerprint family as the MinHash path);
  3. count occurrences per gram hash corpus-wide (one Zipf-collapsing
     aggregate); a window starting at position i is DUPLICATED when
     its gram occurs ≥ min_count times in the corpus;
  4. merge overlapping/adjacent duplicated windows per document into
     maximal spans (gaps-and-islands over a per-doc window — the
     running ``max(end) OVER (... 1 PRECEDING)`` break test).

Detection is exact for spans ≥ k tokens (every length-k window of a
repeated span is itself repeated); spans shorter than k are below the
granularity, the same floor the suffix-array method applies via its
minimum-match length (50 tokens in the paper; default 10 here to fit
the test corpus's document lengths).

Scale notes: the only corpus-sized shuffles are the gram-count
aggregate (map-side partials; hot grams collapse in the combine) and
the gram join back (keyed on gram hash — the duplicated-gram side is
the SMALL side and could broadcast, but its size is data-dependent so
it is left to AQE). Island-merging windows partition by doc_id —
bounded by document length, never by corpus. Nothing is quadratic:
a gram occurring in m docs emits m marked positions, not m² pairs —
this is the structural advantage over pairwise span comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.text import _norm_text, _ws_tokens

K_TOKENS = 10     # span granularity (minimum detectable span length)
MIN_COUNT = 2     # corpus occurrences for a window to count as duplicated

def duplicate_spans(
    docs: DataFrame,
    k: int = K_TOKENS,
    min_count: int = MIN_COUNT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens) — maximal duplicated
    token spans per document; ``span_start`` is the 0-based token
    index, ``span_end`` exclusive. Every row marks tokens that also
    appear (as the same k-gram run) elsewhere in the corpus."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # tokenize into a NAMED column first: element_at inside the
    # window lambda must index a materialized array — an inlined
    # split(regexp_replace(…)) would re-tokenize the document once
    # per (position × k), the O(n²·len) trap measured on the DSIR
    # bigram build (see operators/dsir._features)
    toks = F.col("_toks")
    nt = F.size(toks)
    # positional k-gram hashes: gram i covers tokens [i, i+k)
    grams = F.when(
        nt >= k,
        F.transform(
            F.sequence(F.lit(0), nt - k),
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark.storagelevel import StorageLevel

    from minisql_engine_spark.fanout import fan_out

    pos_grams = hold(
        # tokenize + one md5 per token position is the dominant map
        # cost — fan the (id, text) projection out so it runs on
        # every core instead of the single-row-group scan's one task
        # (guide §2.5; no-op at scale, see fanout.py)
        fan_out(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            _ws_tokens(_norm_text(F.col(text_col))).alias("_toks"),
        )
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "g"))
        # two consumers (count aggregate + mark-back join) — persist
        # so the tokenize+md5 projection runs once (guide §5;
        # MEMORY_AND_DISK spills rather than recomputing at scale).
        # Rejected: localCheckpoint(eager=False) here and on dsir's
        # `dtf`, on top of the LLM funnel's three stage checkpoints.
        # 400-doc seed-701 corpus, local[4], two alternating process
        # pairs: 42 jobs instead of 47 and no InMemoryRelation left,
        # but funnel build+collect (variant vs kept) cold 11.4/15.3 s
        # vs 14.1/16.4 s and warm 4.2-5.9 s vs 4.4-6.0 s: inside the
        # run-to-run spread, an 11% job cut (the accept bar is 25%),
        # and this standalone operator would run its shuffles when
        # called.
        .persist(StorageLevel.MEMORY_AND_DISK),
        "span_dedup",
    )
    counts = pos_grams.groupBy("g").agg(F.count("*").alias("_n"))
    dup_grams = counts.filter(F.col("_n") >= min_count).select("g")
    marked = pos_grams.join(dup_grams, "g").select(
        id_col, "pos", (F.col("pos") + k).alias("e")
    )
    # gaps-and-islands: break when this window starts past every
    # previous window's end (strictly after ⇒ adjacent runs merge)
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_max_e = F.max("e").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.withColumn(
        "_brk",
        F.when(F.col("pos") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    ).withColumn("_island", F.sum("_brk").over(w_doc))
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            F.max("e").cast("int").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).cast("int").alias(
                "span_tokens"
            ),
        )
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, text, n_cut_tokens) — documents with every token
    covered by a span removed (remaining tokens re-joined with single
    spaces over the NORMALIZED token stream; docs without spans pass
    through with their normalized text and n_cut_tokens 0; empty/NULL
    text drops, the package-wide text-operator rule).

    This is the "cut the boilerplate" consumer of
    :func:`duplicate_spans` — the aggressive variant that removes
    every occurrence (Lee et al. discuss both; keeping exactly one
    canonical occurrence needs an order over occurrences of each
    repeated substring, which the merged-island report no longer
    carries).

    Plan: spans collapse to one array per doc (collect_list — bounded
    by spans-per-doc, not corpus), left-join to the corpus on doc_id,
    then a pure map-side filter lambda drops covered positions. One
    small shuffle (span collect), one join, no explode of the corpus
    tokens."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toked = (
        docs.select(
            F.col(id_col),
            _ws_tokens(_norm_text(F.col(text_col))).alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
        .join(per_doc, id_col, "left")
    )
    # token at 0-based position p survives when no span covers p
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda tok, i: F.struct(tok.alias("t"), i.alias("p")),
        ),
        lambda s: ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast(
                    "array<struct<span_start:int,span_end:int>>"
                ),
            ),
            lambda sp: (s["p"] >= sp["span_start"])
            & (s["p"] < sp["span_end"]),
        ),
    )
    return toked.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(kept, lambda s: s["t"])
        ).alias(text_col),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias(
            "n_cut_tokens"
        ),
    )


def cut_spans_sql(
    k: int = K_TOKENS,
    min_count: int = MIN_COUNT,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`cut_spans` applied to
    :func:`duplicate_spans` of the same table — token positions
    anti-joined against span ranges, re-joined in position order."""
    # join-based formulation (an earlier correlated NOT EXISTS +
    # per-row string_agg subquery version was nested-loop in DuckDB:
    # ~70 s at sf0.01 vs <1 s for this shape)
    spans = duplicate_spans_sql(k, min_count, table, id_col, text_col)
    return (
        f"WITH sp AS ({spans}),"
        f" tk AS (SELECT {id_col}, string_split(regexp_replace("
        f"  lower(trim({text_col})), '\\s+', ' ', 'g'), ' ') AS t"
        f"  FROM {table} WHERE trim({text_col}) <> ''),"
        f" pos AS (SELECT {id_col}, t,"
        "  unnest(range(1, len(t) + 1)) AS i FROM tk),"
        f" keep AS (SELECT p.{id_col}, p.i, p.t[p.i] AS tok"
        f"  FROM pos p LEFT JOIN sp ON sp.{id_col} = p.{id_col}"
        "   AND p.i - 1 >= sp.span_start AND p.i - 1 < sp.span_end"
        f"  WHERE sp.{id_col} IS NULL),"
        f" agg AS (SELECT {id_col},"
        "  string_agg(tok, ' ' ORDER BY i) AS kept_text,"
        "  CAST(count(*) AS BIGINT) AS n_kept"
        f"  FROM keep GROUP BY {id_col})"
        f" SELECT tk.{id_col},"
        f"  COALESCE(agg.kept_text, '') AS {text_col},"
        "  CAST(len(tk.t) - COALESCE(agg.n_kept, 0) AS BIGINT)"
        "  AS n_cut_tokens"
        f" FROM tk LEFT JOIN agg USING ({id_col})"
    )


def duplicate_spans_sql(
    k: int = K_TOKENS,
    min_count: int = MIN_COUNT,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`duplicate_spans` — identical
    positional grams, counts, and island arithmetic. Positions are
    0-based in both engines (DuckDB's list comprehension is 1-based,
    shifted here)."""
    joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return (
        f"WITH tk AS (SELECT {id_col}, string_split(regexp_replace("
        f"  lower(trim({text_col})), '\\s+', ' ', 'g'), ' ') AS t"
        f"  FROM {table} WHERE trim({text_col}) <> ''),"
        # select-list unnest of a per-row range (DuckDB has no WITH
        # ORDINALITY); i is the 1-based window start
        f" p AS (SELECT {id_col}, t,"
        f"  unnest(range(1, len(t) - {k} + 2)) AS i"
        f"  FROM tk WHERE len(t) >= {k}),"
        f" pg AS (SELECT {id_col}, i - 1 AS pos, md5({joined}) AS g"
        "  FROM p),"
        " dup AS (SELECT g FROM pg GROUP BY g"
        f"  HAVING count(*) >= {min_count}),"
        f" marked AS (SELECT {id_col}, pos, pos + {k} AS e"
        "  FROM pg JOIN dup USING (g)),"
        f" brk AS (SELECT {id_col}, pos, e,"
        "  CASE WHEN pos > COALESCE(max(e) OVER ("
        f"   PARTITION BY {id_col} ORDER BY pos"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)"
        "   THEN 1 ELSE 0 END AS b FROM marked),"
        f" isl AS (SELECT {id_col}, pos, e, sum(b) OVER ("
        f"  PARTITION BY {id_col} ORDER BY pos) AS island FROM brk)"
        f" SELECT {id_col},"
        "  CAST(min(pos) AS INT) AS span_start,"
        "  CAST(max(e) AS INT) AS span_end,"
        "  CAST(max(e) - min(pos) AS INT) AS span_tokens"
        f" FROM isl GROUP BY {id_col}, island"
    )
