"""Physical-plan quality gates: the optimizations the 100 TB design
depends on must actually appear in the executed plans — predicate
pushdown to parquet, column pruning, broadcast joins for dims,
TakeOrderedAndProject for top-k, partial aggregation, whole-stage
codegen. A regression here is a scale bug even when results stay
correct."""

from __future__ import annotations

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from minisql_engine_spark.sources import load_table  # noqa: E402

entrymod = importlib.import_module("__spark_entry__")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") == 7
    ).select("o_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)]" in plan


def test_column_pruning_in_read_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    # the scan must read exactly the projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    # dim ⋈ fact with fixed-cardinality dims: the fact side must not
    # shuffle (same contract join_three_tables asserted before it was
    # replaced by contamination_report in the registry)
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    q = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    # the fact table (customer) must not be exchanged before the join
    assert "SortMergeJoin" not in plan


def test_order_limit_is_take_ordered(spark, sf_dir):
    # archived from the driver window in r5 — plan gate stays
    q = entrymod.archived_queries()["distinct_order_limit"]
    plan = plan_of(q(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort


def test_group_by_has_partial_aggregation(spark, sf_dir):
    q = entrymod.archived_queries()["group_by_agg"]
    plan = plan_of(q(spark, sf_dir))
    # two HashAggregate phases (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning(l_returnflag" in plan


def test_whole_stage_codegen_covers_scan_filter(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select("l_orderkey")
    plan = plan_of(df)
    assert "[codegen id :" in plan  # WholeStageCodegen span markers


def test_semi_join_for_in_subquery(spark, sf_dir):
    q = entrymod.archived_queries()["subquery_suite"]
    plan = plan_of(q(spark, sf_dir))
    assert "LeftSemi" in plan


def test_exact_dedup_shuffles_hashes_not_bodies(spark, sf_dir):
    from minisql_engine_spark.operators.dedup import exact_dedup

    plan = plan_of(exact_dedup(load_table(spark, sf_dir, "documents")))
    # the exchange key is the md5 hash; text must be pruned before it
    assert "hashpartitioning(content_hash" in plan


def test_flagship_plan_shape(spark, sf_dir):
    """The flagship 3-table star join must broadcast both dims (fact
    side never shuffles before aggregation) and prune the fact scan."""
    df = entrymod.flagship(spark, sf_dir)
    plan = plan_of(df)
    # formatted mode prints each join twice (tree + detail header)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # lineitem scan pruned to exactly the 4 referenced columns
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,"
        "l_extendedprice:double,l_discount:double>" in plan
    )


def test_ivf_corpus_assignment_is_sort_free_hash_agg(spark, sf_dir):
    """The n_probe=1 corpus assignment must be a pure HashAggregate
    (packed-long argmax): a Sort or Window here means the corpus-wide
    sort-shuffle is back in every Lloyd iteration and reindex."""
    from minisql_engine_spark.operators.similarity import (
        ivf_assignments,
        ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(
        ivf_assignments(emb, ivf_centroids(emb), n_probe=1)
    )
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    # the only Sort allowed is the 16-row centroid seed (below the
    # BroadcastExchange); the corpus side above the join must not sort
    tree = plan.split("\n\n")[0]
    corpus_section = tree[: tree.index("BroadcastExchange")]
    assert "Sort" not in corpus_section


def test_simhash_dedups_verified_output_not_candidates(spark, sf_dir):
    """The pair distinct must sit ABOVE the Hamming filter (dedup of
    the small verified output), not below it (shuffle of the full
    candidate set — measured ~50× more rows at sf0.1)."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.dedup import simhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    out = simhash_near_dups(docs, max_hamming=3, n_chunks=8, combine=2)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    release("dedup")
    first_agg = opt.index("Aggregate")
    # the topmost Aggregate (the distinct) must carry the hamming
    # column, i.e. it deduplicates verified (id_a, id_b, hamming)
    # rows, and no aggregate over bare candidate pairs exists below
    head = opt[first_agg : opt.index("\n", first_agg)]
    assert "hamming" in head


def test_minhash_persists_shingles_and_signatures(spark, sf_dir):
    """Both dedup indexes (shingle table, signature table) must read
    from the cache in the final pipeline plan — each feeds multiple
    join branches whose different keys defeat exchange reuse."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.dedup import minhash_lsh_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_dedup(docs)
    plan = plan_of(out)
    release("dedup")
    assert plan.count("InMemoryTableScan") >= 3  # sigs ×2 sides + shingles


def test_load_table_memoizes_per_session(spark, sf_dir):
    df1 = load_table(spark, sf_dir, "orders")
    df2 = load_table(spark, sf_dir, "orders")
    assert df1 is df2
    from minisql_engine_spark.sources.parquet_catalog import (
        clear_table_cache,
    )

    clear_table_cache()
    assert load_table(spark, sf_dir, "orders") is not df1


def test_brute_force_topk_norms_below_join(spark, sf_dir):
    """Vector norms must be computed once per row below the join
    boundary — the per-pair projection above the broadcast join must
    not re-run the sqrt fold (2 of 3 64-element folds hoisted)."""
    from minisql_engine_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(brute_force_topk(emb, query_ids=[0, 1], k=5))
    # SQRT appears only in the two below-join projections (qn, cn),
    # never in the scored-pair projection
    assert plan.count("SQRT") == 2


def test_tpch_q1_two_phase_agg_over_pruned_scan(spark, sf_dir):
    """Q1 must be the canonical scan-heavy shape: pruned 7-column
    scan with the shipdate predicate pushed, ONE partial+final
    aggregate pair (map-side combine collapses to ≤6 rows/partition
    before the single exchange)."""
    import re

    from minisql_engine_spark.queries import tpch

    plan = plan_of(tpch.q1(spark, sf_dir))
    # detail sections name each node once as "(N) HashAggregate"
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read  # unused columns pruned
    assert "l_partkey" not in read


def test_tpch_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown benchmark: every filterable predicate must
    reach the parquet scan, and the scan must read only the 3 needed
    columns + filter columns."""
    from minisql_engine_spark.queries import tpch

    plan = plan_of(tpch.q6(spark, sf_dir))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read
    assert "l_returnflag" not in read


def test_curation_is_single_scan_filters_before_agg(spark, sf_dir):
    """pipeline_curation: one scan of documents; quality/lang filters
    run below the content-hash aggregate so rejected docs are never
    hashed."""
    import re

    # archived from the driver window in r6 — plan gate stays
    q = entrymod.archived_queries()["pipeline_curation"]
    plan = plan_of(q(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    # the quality/lang filter must sit between scan and the first
    # aggregate: in the indented tree the Filter line is DEEPER
    # (larger indent) than the HashAggregate line above it
    tree = plan.split("\n\n")[0].splitlines()
    f_depth = next(len(l) - len(l.lstrip(" +-*")) for l in tree if "Filter" in l)
    a_depth = max(
        len(l) - len(l.lstrip(" +-*")) for l in tree if "HashAggregate" in l
    )
    assert f_depth > a_depth, plan
    assert re.search(r"^\(\d+\) Filter", plan, re.M)


def test_sampling_split_is_codegen_projection(spark, sf_dir):
    """hash_split must compile to a whole-stage-codegen Project over
    the scan — no shuffle, no Python."""
    from minisql_engine_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(hash_split(docs, "doc_id", {"a": 0.5, "b": 0.5}))
    assert "Exchange" not in plan
    # '*' prefix marks whole-stage-codegen nodes in formatted plans
    assert "* Project" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocabulary_stats_partial_aggregation(spark, sf_dir):
    """The token shuffle must carry map-side partial aggregates."""
    from minisql_engine_spark.operators.text import vocabulary_stats

    import re

    plan = plan_of(vocabulary_stats(load_table(spark, sf_dir, "documents")))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2
    assert "hashpartitioning(token" in plan


def test_pack_sequences_single_shuffle_on_shard(spark, sf_dir):
    """Sequence packing must shuffle exactly once (shard hash for the
    per-shard window); the empty-doc filter sits below the exchange
    so no zero-token row rides the shuffle."""
    import re

    from minisql_engine_spark.operators.packing import pack_sequences

    plan = plan_of(pack_sequences(load_table(spark, sf_dir, "documents"), 512))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(shard" in plan
    # empty-doc filter below the shuffle: in the numbered operator
    # list the Filter is applied before (smaller id than) the Exchange
    import re as _re

    f_id = int(_re.search(r"^\((\d+)\) Filter", plan, _re.M).group(1))
    e_id = int(_re.search(r"^\((\d+)\) Exchange", plan, _re.M).group(1))
    assert f_id < e_id, plan
    # scan reads only the two needed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_mixture_single_shuffle_on_source(spark, sf_dir):
    """Mixture sampling: one shuffle (source hash), unweighted
    sources filtered below it."""
    import re

    from minisql_engine_spark.operators.mixture import mixture_sample

    plan = plan_of(
        mixture_sample(
            load_table(spark, sf_dir, "documents"),
            {"src0": 1.0, "src1": 1.0},
            5000,
        )
    )
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(source" in plan


def test_pq_encode_is_broadcast_join_hash_agg(spark, sf_dir):
    """PQ corpus encoding must be a broadcast join of the (tiny)
    codebooks plus a hash min_by aggregate — no SortAggregate, no
    Window, no shuffle of the scored corpus×codebook rows beyond the
    final (vec, m) agg."""
    from minisql_engine_spark.operators.pq import pq_codebooks, pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(pq_codes(emb, pq_codebooks(emb)))
    assert "BroadcastExchange" in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_frequent_tokens_bounded_shuffle(spark, sf_dir):
    """Heavy hitters: the candidate pass is map-side Python (Arrow),
    the recount joins candidates BROADCAST + LeftSemi (the shuffle
    carries only candidate tokens), and aggregation keeps map-side
    partials. No sort-based aggregate anywhere."""
    from minisql_engine_spark.operators.heavy_hitters import frequent_tokens

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(frequent_tokens(docs, 200))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "SortAggregate" not in plan
    assert "partial_count" in plan


def test_jl_projection_is_map_side_projection(spark, sf_dir):
    """A projection is per-row arithmetic: the signs are plan
    constants, so the plan must be Project + posexplode with ZERO
    joins, ZERO aggregates, and no shuffle beyond the presentation
    orderBy's range exchange (absent with sort=False)."""
    from minisql_engine_spark.operators.projection import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(jl_project(emb, 16, sort=False))
    assert "Generate" in plan  # the posexplode to long format
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert "Exchange" not in plan


def test_winsorize_grouped_single_percentile_pass(spark, sf_dir):
    """Grouped winsorize: ONE percentile aggregate (sort-buffer
    ObjectHashAggregate is the documented percentile shape) joined
    back on the group key; the clip is a map-side projection."""
    from minisql_engine_spark.operators.stats import winsorize

    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(winsorize(ev, "value", 0.05, 0.95, group_by="event_type"))
    assert plan.count("percentile") >= 2  # lo + hi in one agg pass
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bpe_word_counts_partial_agg_no_sort(spark, sf_dir):
    """BPE's ONE corpus-sized job — the (word, freq) aggregation —
    must hash-aggregate with map-side partials and no sort-based agg;
    everything after it is driver-local on the Zipf-bounded
    vocabulary (see test_bpe.test_train_thousands_of_merges_is_fast)."""
    from minisql_engine_spark.operators.bpe import bpe_word_counts

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(bpe_word_counts(docs))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "SortAggregate" not in plan


def test_admission_never_shuffles_the_index(spark, sf_dir, tmp_path):
    """Incremental admission: the corpus-sized index side must be
    scan-only — batch keys broadcast INTO it as a semi-filter and the
    survivors broadcast back, so the plan has broadcast joins only
    (no SortMergeJoin, no hashpartitioning of index rows)."""
    from minisql_engine_spark.operators.dedup_index import (
        dedup_against_index,
        init_dedup_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    init_dedup_index(docs.filter(F.col("doc_id") < 200), path)
    batch = docs.filter(F.col("doc_id") >= 400)
    plan = plan_of(dedup_against_index(batch, path))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # semi-filter + anti
    # the only exchange allowed is the batch's own min-id window
    import re

    scans = plan.count("Scan parquet")
    assert scans >= 2  # batch + index both scanned, neither repartitioned


def test_neardup_admission_never_shuffles_the_index(spark, sf_dir, tmp_path):
    from minisql_engine_spark.operators.neardup_index import (
        init_neardup_index,
        neardup_against_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "nidx")
    init_neardup_index(docs.filter(F.col("doc_id") < 150), path)
    batch = docs.filter(F.col("doc_id") >= 400)
    lazy = neardup_against_index(
        batch, path, threshold=0.7, materialize=False
    )
    plan = plan_of(lazy)
    assert "SortMergeJoin" not in plan
    # band semi-filter + candidate join + isig semi-filter + isig
    # join + final anti — all broadcast-hash
    assert plan.count("BroadcastHashJoin") >= 4


def test_hashvec_explode_paid_once(spark, sf_dir):
    """The tf table serves both the doc-frequency aggregate and the
    idf join from the persisted store — Spark's ReuseExchange does
    NOT dedupe the shared subtree (measured), so without the persist
    the token explode would execute twice."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.hashvec import hashed_tfidf

    try:
        df = hashed_tfidf(load_table(spark, sf_dir, "documents"))
        df.write.format("noop").mode("overwrite").save()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert executed.count("InMemoryTableScan") >= 2
    finally:
        release("hashvec")


def test_corpus_drift_no_cartesian(spark, sf_dir):
    """The 1-row totals ride broadcast nested-loop joins, never an
    unbounded CartesianProduct."""
    from minisql_engine_spark.operators.drift import corpus_drift

    docs = load_table(spark, sf_dir, "documents")
    df = corpus_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_editsim_variant_table_reused_from_cache(spark, sf_dir):
    """Both self-join sides read the persisted SymSpell dictionary —
    the explode subtree is paid once, then served from storage."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.editsim import edit_distance_pairs

    try:
        df = edit_distance_pairs(
            load_table(spark, sf_dir, "customer").limit(500),
            "c_name",
            1,
            id_col="c_custkey",
        )
        plan = plan_of(df)
        assert plan.count("InMemoryTableScan") >= 2
    finally:
        release("editsim")


def test_pergroup_hll_partial_agg_no_sort(spark, sf_dir):
    """Per-group HLL sketch: hash aggregate with map-side partial max
    per (group, register), no sort-based agg — the state relation is
    O(groups · m), built in one shuffle."""
    from minisql_engine_spark.operators.sketch import hll_group_sketch

    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(
        hll_group_sketch(ev, "event_type", F.col("user_id").cast("string"))
    )
    assert "partial_max" in plan
    assert "SortAggregate" not in plan


def test_weighted_sample_takeordered_no_global_sort(spark, sf_dir):
    """Weighted sampling: sequence-explode is map-side, the per-id
    min-hash aggregate carries partials, and the final top-k is
    TakeOrderedAndProject — never a full sort materialization of the
    corpus."""
    from minisql_engine_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", (F.col("n_chars") % 5 + 1).cast("bigint")
    )
    plan = plan_of(weighted_sample(docs, 40, "w"))
    assert "TakeOrderedAndProject" in plan
    # the min-hash aggregate is SORT-based (min over a variable-length
    # string cannot live in a hash-agg buffer — engine constraint, not
    # a regression) but its PARTIAL runs map-side, so the shuffle
    # carries one (id, min-hash) row per doc, never the Σw exploded
    # rows — that reduction is the gate
    assert "partial_min" in plan


def test_psi_drift_tiny_aggregates_broadcast_totals(spark, sf_dir):
    """PSI: each cohort reduces to a ≤ n_buckets+2-row bucket table
    (map-side partial counts), and the totals join is a broadcast —
    no corpus-sized shuffle anywhere."""
    from minisql_engine_spark.operators.drift import psi_drift

    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(
        psi_drift(
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
            "value",
            0.0,
            640.0,
        )
    )
    assert "partial_count" in plan
    # totals ride a broadcast; the bucket full-outer join is the one
    # SMJ Spark requires for FullOuter — fine, because every exchange
    # in the plan moves BUCKET rows (≤ n_buckets+2 per side), which
    # the partitioning keys prove: only 'bucket' is ever shuffled
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    import re

    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    # '_groupingexpression' is Catalyst's alias for the inline bucket
    # CASE expression — same key, pre-projection
    assert keys <= {"bucket", "_groupingexpression"}, keys


def test_scd2_asof_enrich_broadcasts_dimension(spark, sf_dir, tmp_path):
    """SCD2 as-of fact enrichment: at 100 TB the FACTS are big and the
    dimension history is small — the versioned-interval join must
    broadcast the dimension and never move a fact row (no Exchange on
    the fact side, no SortMergeJoin anywhere)."""
    from minisql_engine_spark.sources.scd2 import (
        scd2_apply,
        scd2_enrich_asof,
        scd2_init,
    )
    from minisql_engine_spark.sources.snapshots import read_snapshot

    dim = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
    )
    path = str(tmp_path / "scd2")
    scd2_init(dim, path, "k", ts=10)
    upd = spark.sql(
        "SELECT CAST(k AS BIGINT) AS k, name FROM VALUES"
        " (0, 'RENAMED') AS t(k, name)"
    )
    scd2_apply(spark, path, upd, "k", ts=100)
    facts = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("fact_id"),
        (F.col("o_orderkey") % 25).alias("k"),
        (F.lit(10) + F.col("o_orderkey") % 200).alias("ts"),
    )
    plan = plan_of(
        scd2_enrich_asof(facts, read_snapshot(spark, path), "k", "ts")
    )
    assert "SortMergeJoin" not in plan
    assert (
        "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    )
    # zero fact movement: no shuffle exchange at all — broadcast
    # exchanges are the dimension side by construction
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_image_near_dups_band_join_never_cartesian(spark, sf_dir):
    """Perceptual image near-dups: candidates must come from the
    4×16-bit band equi-join — a hash join keyed on (band, key) — and
    the plan may never degenerate to CartesianProduct or a
    non-equi BroadcastNestedLoopJoin over the corpus."""
    from minisql_engine_spark.operators.multimodal import (
        image_near_dups,
        perceptual_corpus,
    )

    corpus = perceptual_corpus(
        load_table(spark, sf_dir, "documents")
    )
    plan = plan_of(image_near_dups(corpus))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(band" in plan or "BroadcastHashJoin" in plan


def test_audio_near_dups_candidates_equi_join(spark, sf_dir):
    """Audio near-dups (Haitsma–Kalker): the candidate stage is the
    exact (frame_idx, sub-fingerprint) lookup-table equi-join; the
    BER verify then joins candidates back. Nothing in the plan may
    pairwise-compare the corpus (no CartesianProduct, no non-equi
    nested loop)."""
    from minisql_engine_spark.operators.multimodal import (
        audio_fingerprints,
        byte_tone_decoder,
        perceptual_corpus,
    )

    # gate the plan of the candidate join itself (audio_near_dups
    # localCheckpoints its result, which truncates the lineage the
    # gate needs to read)
    fps = audio_fingerprints(
        perceptual_corpus(
            load_table(spark, sf_dir, "documents"), n=40, n_dups=4,
            n_noisy=4,
        ),
        decoder=byte_tone_decoder,
    )
    a = fps.select(
        F.col("doc_id").alias("id_a"), "frame_idx", F.col("fp").alias("fa")
    )
    b = fps.select(
        F.col("doc_id").alias("id_b"), "frame_idx", F.col("fp").alias("fb")
    )
    cand = (
        a.join(b, ["frame_idx"])
        .filter(
            (F.col("id_a") < F.col("id_b")) & (F.col("fa") == F.col("fb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_spreads_hot_key_across_salts(spark, sf_dir):
    """The skew_salted_join driver row must run the SHUFFLED join path
    (shuffle-merge hint — a broadcast would sidestep skew entirely)
    with _salt in the partitioning keys, so the dominant key's rows
    spread across n_salts tasks instead of melting one."""
    import importlib

    em = importlib.import_module("__spark_entry__")
    plan = plan_of(em.queries()["skew_salted_join"](spark, sf_dir))
    assert "BroadcastHashJoin" not in plan
    assert "_salt" in plan
    import re

    part_keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_salt" in k for k in part_keys), part_keys


def test_lsh_recall_audit_joins_are_bounded(spark, sf_dir):
    """The r13-promoted recall audit's plan: every join is an
    equi-join (shingle cooccurrence, band keys, the truth/detected
    semi joins) — no CartesianProduct and no unbounded
    BroadcastNestedLoopJoin anywhere; the query pick is a bounded
    TakeOrdered, not a global sort."""
    from minisql_engine_spark.operators.dedup import lsh_recall_audit

    df = lsh_recall_audit(
        load_table(spark, sf_dir, "documents"), n_queries=10
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_admission_joins_are_bounded(spark, sf_dir, tmp_path):
    """The semantic admission's corpus-facing join is a cell
    EQUI-join (hash or sort-merge), never an unbounded
    CartesianProduct. BroadcastNestedLoopJoins DO appear — they are
    the deliberate `ivf_assignments` crossJoin against the broadcast
    centroid table, bounded ≤ 4096 rows by the auto_n_cells clamp —
    so the gate pins that every nested-loop site has a
    BroadcastExchange child (never two unbounded sides) and that the
    batch⋈index step is an equi-join."""
    from minisql_engine_spark.operators.semdedup_index import (
        init_semdedup_index,
        semdedup_against_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sdix")
    init_semdedup_index(emb.filter(F.col("vec_id") % 3 == 0), path)
    df = semdedup_against_index(
        spark, path, emb.filter(F.col("vec_id") % 3 == 1).limit(20),
        400_000,
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # the corpus-facing cell join is an equi-join
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # nested-loop sites are exactly the centroid crossJoins the
    # operator constructs (batch argmax assignment + the decision
    # left-join's tiny sides) — a count drift means a NEW unbounded
    # join crept in and must be re-audited
    import re as _re

    sites = len(
        _re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    )
    assert sites <= 3, plan[:1500]
    # the n_probe > 1 path keeps BOTH contracts: partition filters on
    # the index scan (pruned to the probed cells) and no unbounded
    # product — the recall knob must not widen the scan to the corpus
    df2 = semdedup_against_index(
        spark, path, emb.filter(F.col("vec_id") % 3 == 1).limit(20),
        400_000, n_probe=2,
    )
    plan2 = plan_of(df2)
    assert "CartesianProduct" not in plan2
    segs = plan2.split("PartitionFilters: [")[1:]
    assert any(
        "cell" in s[: s.find("]")] and s[: s.find("]")].strip()
        for s in segs
    ), plan2[:2000]
