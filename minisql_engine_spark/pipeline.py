"""curate_corpus — the engine's end-to-end product surface.

One call takes a raw document table to a training-ready corpus:

    quality gate → language filter → PII redaction → exact dedup
    → near-dup clustering (MinHash+LSH → connected components,
      keep one canonical doc per cluster)
    → deterministic train/val/test split

Every stage is one of this package's tested operators; this module
only composes them and owns the cross-stage decisions a pipeline has
to get right:

* **Redact BEFORE hashing.** Two documents differing only in the PII
  span (same text, different email) should dedup together — hashing
  the redacted text makes dedup PII-invariant for free.
* **Exact dedup before near-dup.** Exact dups are the overwhelming
  majority of duplicates in web corpora and cost one 32-hex-key
  shuffle; the (quadratic-ish) near-dup machinery then runs on the
  surviving distinct texts only.
* **Cluster, don't pair-drop.** Dropping `id_b` of every near-dup
  pair over-deletes (a∼b, b∼c drops b AND c even if a≁c transitively
  chosen differently) or under-deletes depending on pair order;
  connected components + min-id canonicalization is deterministic
  and order-free.
* **Split LAST, on the canonical id.** Splitting before dedup leaks
  near-identical documents across train/test — the classic
  contamination bug this pipeline exists to prevent.

Laziness contract: stages 1-3 compose into one lazy plan; the
near-dup clustering stage runs Spark jobs when called (the
connected-components fixpoint needs actions). At 100 TB you would
materialize the post-exact-dedup corpus to parquet first anyway —
pass ``near_dups=False`` to keep the fully-lazy subset.
``llm_curation_funnel`` and ``curate_llm_corpus`` also run Spark jobs
when called: their stage tables are lazy ``localCheckpoint``s, and
under AQE a lazy checkpoint runs its shuffle stages at the call; only
the work after the last stage boundary waits for the action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    langs: tuple[str, ...] | None = None,
    lang_col: str = "lang",
    redact: bool = True,
    near_dups: bool = True,
    near_dup_threshold: float = 0.5,
    split_fractions: dict[str, float] | None = None,
    seed: str = "curate",
) -> DataFrame:
    """Returns the curated corpus: one row per kept document with
    (id, text [redacted], n_ws_tokens, quality_score, content_hash,
    n_copies, split). Deterministic end-to-end: same input + same
    parameters → byte-identical corpus, regardless of partitioning.
    """
    from minisql_engine_spark.operators.redaction import redact_pii
    from minisql_engine_spark.operators.sampling import hash_split
    from minisql_engine_spark.operators.text import (
        with_quality_score,
        with_token_counts,
    )

    split_fractions = split_fractions or {
        "train": 0.8, "val": 0.1, "test": 0.1,
    }

    # 1-2. quality + language gate (map-side; filters reach the scan)
    scored = with_quality_score(with_token_counts(docs, text_col), text_col)
    kept = scored.filter(F.col("n_ws_tokens") >= min_tokens)
    if langs is not None:
        kept = kept.filter(F.col(lang_col).isin(*langs))

    # 3. redaction — before hashing, so dedup is PII-invariant
    if redact:
        kept = redact_pii(kept, text_col).drop(text_col).withColumnRenamed(
            "redacted", text_col
        )

    # 4. exact dedup: keep the min-id row per normalized content hash
    content_hash = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )
    hashed = kept.withColumn("content_hash", content_hash)
    canon = (
        hashed.groupBy("content_hash")
        .agg(
            F.min(id_col).alias("_keep_id"),
            F.count("*").alias("n_copies"),
        )
    )
    uniq = hashed.join(
        canon,
        (hashed["content_hash"] == canon["content_hash"])
        & (hashed[id_col] == canon["_keep_id"]),
    ).select(hashed["*"], canon["n_copies"])

    # 5. near-dup clustering on the exact-distinct survivors
    if near_dups:
        from minisql_engine_spark.operators.clustering import (
            connected_components,
        )
        from minisql_engine_spark.operators.dedup import minhash_lsh_dedup

        pairs = minhash_lsh_dedup(
            uniq, id_col=id_col, text_col=text_col,
            threshold=near_dup_threshold,
        )
        comp = connected_components(pairs, "id_a", "id_b")
        drop = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        uniq = uniq.join(drop, id_col, "left_anti")

    # 6. deterministic split on the surviving canonical ids
    return hash_split(uniq, id_col, split_fractions, seed=seed).select(
        id_col,
        text_col,
        "n_ws_tokens",
        "quality_score",
        "content_hash",
        "n_copies",
        "split",
    )


def compose_training_set(
    docs: DataFrame,
    mixture_weights: dict[str, float],
    token_budget: int,
    capacity: int = 2048,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    langs: tuple[str, ...] | None = None,
    redact: bool = True,
    near_dups: bool = True,
    seed: str = "curate",
) -> DataFrame:
    """The full path from raw documents to a pretraining batch
    layout:

        curate_corpus (quality → redaction → dedup → split)
        → mixture_sample on the TRAIN split (per-source token
          allowances in md5-priority order)
        → pack_sequences (concat-and-chunk into ``capacity``-token
          sequences)

    Returns the packed (shard, seq_id, doc_id, tok_begin, tok_end,
    piece_tokens) assignment over the selected train documents —
    what a training loader consumes. Mixture/packing run on the
    curated (redacted, deduped) text, and only the ``train`` split
    is packed: val/test never leak into the token budget.
    Deterministic end-to-end like every stage it composes."""
    from .operators.mixture import mixture_sample
    from .operators.packing import pack_sequences

    curated = curate_corpus(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_tokens=min_tokens,
        langs=langs,
        redact=redact,
        near_dups=near_dups,
        seed=seed,
    )
    # curate_corpus canonicalizes to one row per content hash; keep
    # the curated text + the original source for mixture accounting
    src = docs.select(
        F.col(id_col).alias("_src_id"), F.col(source_col).alias("source")
    )
    # persisted: `train` feeds BOTH the mixture selection and the
    # picked-docs join below — without the persist the whole curation
    # lineage (quality/redaction/dedup shuffles) evaluates twice per
    # action. Caller-visible laziness is preserved (the cache fills
    # on first use); at 100 TB you would checkpoint the curated
    # corpus to parquet here instead.
    train = (
        curated.filter(F.col("split") == "train")
        .join(src, F.col(id_col) == F.col("_src_id"))
        .drop("_src_id")
        .persist()
    )
    selected = mixture_sample(
        train,
        mixture_weights,
        token_budget,
        source_col="source",
        id_col=id_col,
        text_col=text_col,
        seed=f"{seed}:mix",
    )
    picked = train.join(
        selected.select(F.col("doc_id").alias("_sel_id")),
        F.col(id_col) == F.col("_sel_id"),
    ).drop("_sel_id")
    return pack_sequences(
        picked,
        capacity,
        id_col=id_col,
        text_col=text_col,
        seed=f"{seed}:pack",
    )


def _llm_stages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    target_lang: str,
    span_k: int,
) -> dict[str, DataFrame]:
    """Build every stage of the LLM funnel ONCE (shared by the roster
    and the audit). ``kept``, ``cleaned`` and ``survivors`` each have
    several consumers and each is a lazy ``localCheckpoint``, not a
    ``persist``: persist cuts execution but not the logical plan, and
    every stage reads its parent twice, so persisted stages nested
    their parents' plans — 173k extended-explain lines and 56 jobs at
    sf0.01, against ~650 lines and 47 jobs checkpointed. Spark's
    ContextCleaner releases the blocks after the stage frames are
    unreferenced and the JVM has collected them, as in
    ``operators/clustering.py``; ``clearCache`` does not."""
    from .operators.dsir import dsir_weights
    from .operators.lm_score import lm_perplexity
    from .operators.quality_rules import quality_rule_report
    from .operators.span_dedup import cut_spans, duplicate_spans

    # kept feeds duplicate_spans' gram build, cut_spans' corpus side,
    # and the audit count — checkpointed so the quality gate runs once
    kept = docs.join(
        quality_rule_report(docs, id_col, text_col)
        .filter("passes_all")
        .select(id_col),
        id_col,
    ).localCheckpoint(eager=False)
    cleaned = (
        cut_spans(kept, duplicate_spans(kept, k=span_k), id_col, text_col)
        .join(docs.select(id_col, lang_col), id_col)
        .localCheckpoint(eager=False)
    )
    ppl = lm_perplexity(cleaned, id_col, text_col)
    # survivors also multi-consumer (DSIR explode, the final join,
    # the audit count) — without a materialization the whole
    # LM-scoring subtree re-executes per consumer (measured ~3× on
    # the funnel bench)
    survivors = cleaned.join(
        ppl.filter(F.col("bucket") != "tail").select(
            id_col, "n_tokens_lm", "ppl", "bucket"
        ),
        id_col,
    ).localCheckpoint(eager=False)
    weights = dsir_weights(
        survivors, F.col(lang_col) == target_lang, id_col, text_col
    )
    final = survivors.join(
        weights.filter("selected").select(id_col, "avg_logw"), id_col
    ).select(
        id_col, text_col, lang_col, "n_tokens_lm", "ppl", "bucket",
        "avg_logw",
    )
    return {
        "kept": kept,
        "cleaned": cleaned,
        "survivors": survivors,
        "final": final,
    }


def curate_llm_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    target_lang: str = "en",
    span_k: int = 10,
) -> DataFrame:
    """The modern LLM-pretraining funnel, composed from the r5
    session-3 operators — per-document roster of every survivor:

        quality_rules gate (named Gopher rules, attributable drops)
        → duplicate_spans + cut_spans (repeated boilerplate removed;
          fully-duplicated documents become empty and fall out)
        → lm_perplexity (CCNet buckets; the 'tail' tercile drops)
        → dsir_weights (hashed-n-gram importance vs the target
          domain; only positively-weighted documents survive)

    Returns (doc_id, text [cleaned], lang, n_tokens_lm, ppl, bucket,
    avg_logw) for selected documents. Deterministic end-to-end and
    fully DuckDB-replayable (``llm_curation_funnel_sql`` chains the
    five operators' oracle twins as CTEs).

    Cross-stage decisions this composition owns:
    * Span-cut AFTER the quality gate — rule verdicts describe the
      document as ingested, and cutting first would re-score text the
      gate never saw.
    * Perplexity on the CLEANED text — boilerplate is low-perplexity
      filler that drags the head/tail thresholds if left in.
    * DSIR last: importance weighting assumes its pool already looks
      like training data; scoring junk wastes the budget.

    The multi-consumer stage tables (quality-passed, cleaned,
    perplexity survivors) are lazy local checkpoints, so the call
    runs their shuffle stages and the returned plan starts at the
    last of them; Spark releases the blocks after the frames are
    unreferenced and garbage-collected. At 100 TB write each stage to parquet instead
    (local checkpoints do not survive executor loss).
    """
    return _llm_stages(
        docs, id_col, text_col, lang_col, target_lang, span_k
    )["final"]


def llm_curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    target_lang: str = "en",
    span_k: int = 10,
) -> DataFrame:
    """One-row per-stage funnel audit of :func:`curate_llm_corpus`:
    (n_input, n_quality_pass, n_span_cut_tokens, n_ppl_kept,
    n_selected, final_tokens) — the monitoring row a curation run
    records per batch. Every count derives from the SAME stage plans
    as the roster (the stage tables are local checkpoints, so the
    audit adds cheap aggregates, not recomputation)."""
    s = _llm_stages(docs, id_col, text_col, lang_col, target_lang, span_k)
    n_input = docs.agg(F.count("*").cast("bigint").alias("n_input"))
    n_quality = s["kept"].agg(
        F.count("*").cast("bigint").alias("n_quality_pass")
    )
    cut_stats = s["cleaned"].agg(
        F.coalesce(F.sum("n_cut_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_span_cut_tokens")
    )
    n_ppl = s["survivors"].agg(
        F.count("*").cast("bigint").alias("n_ppl_kept")
    )
    fin = s["final"].agg(
        F.count("*").cast("bigint").alias("n_selected"),
        F.coalesce(F.sum("n_tokens_lm"), F.lit(0))
        .cast("bigint")
        .alias("final_tokens"),
    )
    return (
        n_input.crossJoin(n_quality)
        .crossJoin(cut_stats)
        .crossJoin(n_ppl)
        .crossJoin(fin)
    )


def llm_curation_funnel_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    target_lang: str = "en",
    span_k: int = 10,
) -> str:
    """DuckDB oracle twin of :func:`llm_curation_funnel` — the five
    operators' SQL twins chained as CTEs (DuckDB supports nested WITH
    inside CTE bodies), replaying the identical funnel."""
    from .operators.dsir import dsir_weights_sql
    from .operators.lm_score import lm_perplexity_sql
    from .operators.quality_rules import quality_rule_report_sql
    from .operators.span_dedup import cut_spans_sql

    qr = quality_rule_report_sql(table, id_col, text_col)
    cs = cut_spans_sql(k=span_k, table="kept", id_col=id_col,
                       text_col=text_col)
    lm = lm_perplexity_sql("cleaned", id_col, text_col)
    ds = dsir_weights_sql(
        f"{lang_col} = '{target_lang}'", "survivors", id_col, text_col
    )
    # every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, so the multi-consumer stages (kept, cleaned,
    # survivors) would re-run their whole upstream once per mention
    # (measured 32 s -> ~2 s at sf0.01) — the oracle-side analog of
    # the Spark side's stage checkpoints
    return (
        f"WITH kept AS MATERIALIZED (SELECT d.* FROM {table} d JOIN ({qr}) q"
        f"  ON d.{id_col} = q.{id_col} AND q.passes_all),"
        f" cleaned0 AS MATERIALIZED ({cs}),"
        f" cleaned AS MATERIALIZED (SELECT c.{id_col}, c.{text_col},"
        f"  c.n_cut_tokens, k.{lang_col}"
        f"  FROM cleaned0 c JOIN kept k USING ({id_col})),"
        f" ppl AS MATERIALIZED ({lm}),"
        f" survivors AS MATERIALIZED (SELECT cleaned.{id_col}, cleaned.{text_col},"
        f"  cleaned.{lang_col}, ppl.n_tokens_lm"
        f"  FROM cleaned JOIN ppl USING ({id_col})"
        "  WHERE ppl.bucket <> 'tail'),"
        f" ds AS MATERIALIZED ({ds}),"
        f" final AS MATERIALIZED (SELECT s.* FROM survivors s JOIN ds"
        f"  USING ({id_col}) WHERE ds.selected)"
        " SELECT"
        f"  (SELECT CAST(count(*) AS BIGINT) FROM {table}) AS n_input,"
        "  (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_quality_pass,"
        "  (SELECT CAST(COALESCE(sum(n_cut_tokens), 0) AS BIGINT)"
        "   FROM cleaned0) AS n_span_cut_tokens,"
        "  (SELECT CAST(count(*) AS BIGINT) FROM survivors) AS n_ppl_kept,"
        "  (SELECT CAST(count(*) AS BIGINT) FROM final) AS n_selected,"
        "  (SELECT CAST(COALESCE(sum(n_tokens_lm), 0) AS BIGINT)"
        "   FROM final) AS final_tokens"
    )
