"""Extension-operator tests beyond the oracle harness: planted
near-duplicates must be found, and the ANN path must achieve useful
recall against the brute-force baseline."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minisql_engine_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from minisql_engine_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    embedding_near_dups,
    lsh_ann_topk,
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """Corpus with planted exact + near duplicates."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some tasty food for the night"
    )
    near = base.replace("tasty food", "fresh food")  # 1-token change
    rows = [
        (1, base, "en", "srcA"),
        (2, base, "en", "srcB"),            # exact dup of 1
        (3, near, "en", "srcA"),            # near dup of 1
        (4, "completely different text about spark query engines", "en", "srcA"),
        (5, "unrelated short doc", "en", "srcB"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_exact_dedup_finds_planted(planted_docs):
    out = exact_dedup(planted_docs).collect()
    by_id = {r["canonical_id"]: r["n_copies"] for r in out}
    assert by_id[1] == 2          # docs 1+2 collapse
    assert len(out) == 4          # 5 docs -> 4 distinct contents


def test_minhash_lsh_finds_planted_near_dup(planted_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_dedup(planted_docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7    # near dup
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_finds_planted_near_dup(planted_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(planted_docs, max_hamming=8).collect()
    }
    assert pairs[(1, 2)] == 0                          # identical -> 0 bits
    assert (1, 3) in pairs and pairs[(1, 3)] <= 8      # near dup close
    assert (1, 4) not in pairs


def test_simhash_scale_banding_finds_planted(planted_docs):
    # the driver configuration (8×8-bit bands + bucket cap: guarantee
    # h <= 7) must still find the planted exact and near dups
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(
            planted_docs, max_hamming=8, n_chunks=8, bucket_cap=100
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 8
    assert (1, 4) not in pairs


def test_simhash_combinatorial_bands_find_exact_dup(planted_docs):
    # wide-key variant (C(4,2) 32-bit keys, guarantee h <= 2): exact
    # dups always collide; the far pair stays absent
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(
            planted_docs, max_hamming=2, combine=2
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 4) not in pairs


def test_simhash_bucket_cap_bounds_candidates(spark):
    """With bucket_cap=c the candidate set is bounded by
    n_bands · n_docs · (c−1)/2 — linear in corpus size — even when
    every document collides into one bucket (identical content)."""
    from minisql_engine_spark.operators.dedup import (
        simhash_band_keys,
        simhash_fingerprints,
    )

    n, cap, n_chunks, combine = 40, 3, 4, 2
    docs = spark.createDataFrame(
        [(i, "identical text that lands every doc in one bucket")
         for i in range(n)],
        ["doc_id", "text"],
    )
    fps = simhash_fingerprints(docs)
    n_bands = 6  # C(4,2)

    def n_cand(bucket_cap):
        from pyspark.sql import Window

        chunks = simhash_band_keys(fps, "doc_id", n_chunks, combine)
        if bucket_cap is not None:
            occ = Window.partitionBy("band", "bk")
            chunks = (
                chunks.withColumn("_n", F.count("*").over(occ))
                .filter(F.col("_n") <= bucket_cap)
                .drop("_n")
            )
        a = chunks.select(F.col("doc_id").alias("id_a"), "band", "bk")
        b = chunks.select(F.col("doc_id").alias("id_b"), "band", "bk")
        return (
            a.join(b, ["band", "bk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )

    uncapped = n_cand(None)
    capped = n_cand(cap)
    assert uncapped == n * (n - 1) // 2        # quadratic: all-pairs
    assert capped <= n_bands * n * (cap - 1) // 2   # linear bound
    assert capped == 0                         # every bucket over cap -> dropped


def test_ngram_jaccard_blocked(planted_docs):
    # blocking by source: (1,3) share srcA; (1,2) are in different
    # blocks so the blocked variant must NOT report them.
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            planted_docs, block_col="source", threshold=0.6
        ).collect()
    }
    assert (1, 3) in pairs
    assert (1, 2) not in pairs


def test_ngram_prefix_filter_matches_naive_all_pairs(spark):
    """The prefix-filtered join must return EXACTLY the naive blocked
    all-pairs result (the DuckDB oracle's shape) — same pairs, same
    jaccard values — on a corpus with near-dups at several lengths."""
    from minisql_engine_spark.operators.dedup import (
        _ngram_exploded,
        ngram_jaccard_pairs,
    )

    rows = []
    for i in range(30):
        rows.append((i, f"shared boilerplate prefix number {i % 7} "
                        f"with tail variant {i}", "blk"))
    # planted exact-ish near dups
    rows.append((100, "shared boilerplate prefix number 1 with tail variant 1",
                 "blk"))
    rows.append((101, "totally disjoint content qqq zzz xxx", "blk"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    t = 0.6
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=t).collect()
    }
    # naive all-pairs replay (the pre-prefix-filter implementation)
    ex = _ngram_exploded(docs, "source", "doc_id", "text", 3)
    ea = ex.select(F.col("doc_id").alias("id_a"), "blk", "g",
                   F.col("n_g").alias("n_a"))
    eb = ex.select(F.col("doc_id").alias("id_b"), "blk", "g",
                   F.col("n_g").alias("n_b"))
    naive = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in (
            ea.join(eb, ["blk", "g"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count("*").alias("n_inter"))
            .withColumn(
                "jaccard",
                F.round(F.col("n_inter").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
            )
            .filter(F.col("jaccard") >= t)
        ).collect()
    }
    assert got == naive and len(got) > 0


def test_ngram_prefix_filter_bounds_skewed_block(spark):
    """One giant block (every doc same source) — the flaw class the
    embedding path fixed in r2: candidates must stay FAR below the
    all-pairs n·(n−1)/2 even though virtually all docs share common
    3-grams like 'the'."""
    from minisql_engine_spark.operators.dedup import (
        _ngram_exploded,
        ngram_prefix_candidates,
    )

    n = 200
    # pairwise-dissimilar bodies (deterministic pseudo-random tokens)
    # glued with universal stopwords: every doc shares 'the'/'and'
    # grams with every other doc, so the NAIVE (blk, gram) join pairs
    # all of them — exactly the skew the prefix filter must bound.
    def word(seed):
        # deterministic 6-letter token — full 26³ trigram space, so
        # body grams are genuinely rare across the corpus
        out, x = [], seed * 2654435761 % 2**32
        for _ in range(6):
            out.append(chr(ord("a") + x % 26))
            x = (x * 1103515245 + 12345) % 2**31
        return "".join(out)

    rows = [
        (i,
         "the " + " ".join(word(i * 37 + j) for j in range(18))
         + " and the end",
         "one_block")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    all_pairs = n * (n - 1) // 2

    # n=3: the 26³ gram space saturates (avg df ≈ 1.5 even on random
    # text), so rare-gram collisions keep a constant fraction — the
    # filter must still beat all-pairs by ~3× here
    ex3 = _ngram_exploded(docs, "source", "doc_id", "text", 3)
    n_cand3 = ngram_prefix_candidates(ex3, "doc_id", 0.7).count()
    assert n_cand3 < all_pairs / 3, (n_cand3, all_pairs)

    # n=4 (the corpus-scale config): grams are discriminative, the
    # candidate set collapses to near-zero spurious pairs
    ex4 = _ngram_exploded(docs, "source", "doc_id", "text", 4)
    n_cand4 = ngram_prefix_candidates(ex4, "doc_id", 0.7).count()
    assert n_cand4 < all_pairs / 50, (n_cand4, all_pairs)


def test_kmeans_parallel_seeding(spark, sf_dir):
    """VERDICT r3 #8: deterministic k-means|| seeding. (a) Bit-stable
    across runs (md5-threshold sampling, decimal-exact cost sums,
    deterministic greedy reduction). (b) On FAIR queries — ids
    disjoint from the first-ids seed set, which otherwise aligns
    cells with query neighborhoods by construction (measured at
    sf0.1: 0.96 seed-coincident vs 0.33 disjoint) — recall must not
    regress vs the default seeding."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_parallel_seeds,
    )
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(tuple(r) for r in kmeans_parallel_seeds(emb).collect())
    b = sorted(tuple(r) for r in kmeans_parallel_seeds(emb).collect())
    assert a == b and len(a) == 16

    qids = list(range(100, 116))  # disjoint from seed ids 0-15
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    recall = {}
    for seed in ("first_ids", "kmeans_parallel"):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                emb, qids, k=10, refine_iters=2, seed=seed
            ).collect()
        }
        release("centroids")
        recall[seed] = len(truth & got) / len(truth)
    # deterministic pipelines → these are exact numbers, not noise;
    # the bar is non-regression with headroom for future data regen
    assert recall["kmeans_parallel"] >= recall["first_ids"] - 0.05, recall


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """LSH ANN must recover a reasonable share of true top-10
    neighbors for bucketed queries (and every hit it reports must be
    a true cosine score)."""
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = lsh_ann_topk(emb, qids, k=10).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # sanity: ANN scores agree with brute force where they overlap
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9
    recall = len(truth & got) / len(truth)
    # 12 hyperplanes on weakly-clustered data: recall is modest by
    # design; assert it's far above random (10/2000 ≈ 0.005).
    assert recall >= 0.1, f"ANN recall too low: {recall}"


def test_multi_probe_lifts_recall(spark, sf_dir):
    """Hamming-1 multi-probe (the driver configuration) must lift
    recall well above the single-probe path at the same table count
    (measured 0.61 → 0.99 at sf0.01)."""
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, qids, k=10).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, qids, k=10, multi_probe=True).collect()
    }
    r_single = len(truth & single) / len(truth)
    r_multi = len(truth & multi) / len(truth)
    assert r_multi >= 0.8, f"multi-probe recall too low: {r_multi}"
    assert r_multi > r_single


def test_embedding_near_dups_symmetric_threshold(spark, sf_dir):
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_near_dups(emb, threshold=0.4).collect()
    assert all(r["id_a"] < r["id_b"] for r in out)
    assert all(r["cos_sim"] >= 0.4 for r in out)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with n_probe=2 should beat LSH recall on this corpus and
    report only true cosine scores."""
    from minisql_engine_spark.sources import load_table
    from minisql_engine_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = ivf_topk(emb, qids, k=10, n_probe=2).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9
    recall = len(truth & got) / len(truth)
    assert recall >= 0.05, f"IVF recall too low: {recall}"


def test_ivf_refined_recall_vs_brute_force(spark, sf_dir):
    """The k-means-refined index (the driver configuration) must keep
    useful recall. On this weakly-clustered synthetic corpus the
    refinement's win shows up in quantization (next test), not top-k
    recall — real embedding corpora are clustered, which is where
    refined cells pay off."""
    from minisql_engine_spark.sources import load_table
    from minisql_engine_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, qids, k=10, n_probe=2, refine_iters=2
        ).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"refined IVF recall too low: {recall}"


def test_ivf_refinement_improves_quantization(spark, sf_dir):
    """Lloyd steps must improve the k-means objective: the mean cosine
    of each vector to its assigned centroid rises monotonically with
    iterations (measured 0.246 seed → 0.309 → 0.323 at sf0.01). This
    is the testable guarantee the refinement provides; top-k recall
    additionally depends on how clustered the corpus is."""
    from minisql_engine_spark.sources import load_table
    from minisql_engine_spark.operators.similarity import (
        _as_double,
        cosine,
        ivf_assignments,
        ivf_centroids,
        ivf_refined_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))

    def quantization(cents):
        asg = ivf_assignments(emb, cents, n_probe=1)
        return (
            asg.join(vecs, "vec_id")
            .join(
                cents.withColumnRenamed("cell", "c2"),
                F.col("cell") == F.col("c2"),
            )
            .select(cosine(F.col("v"), F.col("cv")).alias("cos"))
            .agg(F.avg("cos"))
            .collect()[0][0]
        )

    q_seed = quantization(ivf_centroids(emb))
    q_ref1 = quantization(ivf_refined_centroids(emb, n_iter=1))
    q_ref2 = quantization(ivf_refined_centroids(emb, n_iter=2))
    assert q_ref1 > q_seed
    assert q_ref2 > q_ref1


def test_near_dup_block_guard_bounds_skewed_blocks(spark, sf_dir):
    """A degenerate all-one-label corpus (maximal blocking-key skew)
    must NOT go quadratic: oversized blocks route through the SRP-LSH
    bucket join, whose candidate count is a small fraction of the
    block's n(n-1)/2, and every emitted pair is exactly scored (the
    fallback loses only recall, never precision)."""
    from pyspark.sql import functions as F

    from minisql_engine_spark.operators.similarity import (
        _as_double,
        embedding_near_dups,
        lsh_block_candidates,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one = emb.withColumn("label", F.lit("x"))
    n = one.count()

    prepped = one.select(
        F.col("vec_id"), F.col("label").alias("blk"),
        _as_double(F.col("embedding")).alias("v"),
    )
    cand = lsh_block_candidates(prepped).count()
    all_pairs = n * (n - 1) // 2
    assert cand < 0.25 * all_pairs, (cand, all_pairs)

    # fallback output ⊆ exact output with identical scores
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dups(one, threshold=0.4).collect()
    }
    approx = embedding_near_dups(
        one, threshold=0.4, max_block_size=max(10, n // 10)
    ).collect()
    assert approx, "fallback path must still find high-sim pairs"
    for r in approx:
        assert exact[(r["id_a"], r["id_b"])] == r["cos_sim"]


def test_ivf_assignment_with_sim_decodes_packed_long(spark, sf_dir):
    """with_sim=True must return the EXACT round(cos·10⁶) of the
    assigned cell on both the packed-long n_probe=1 path (decoded
    from the aggregate, no second scoring pass) and the window
    n_probe>1 path — pinned against a direct recomputation through
    the same score_sql expressions (the quantity
    semantic_dedup_keep_farthest's sim_fx6 audit column ships)."""
    from pyspark.sql import functions as F

    from minisql_engine_spark.operators.similarity import (
        as_double_sql,
        ivf_assignments,
        ivf_refined_centroids,
        norm_sql,
        score_sql,
    )
    from minisql_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    cents = ivf_refined_centroids(emb, n_cells=8).localCheckpoint()

    def direct(assign_df):
        return {
            (r["vec_id"], r["cell"]): r["fx"]
            for r in emb.selectExpr(
                "vec_id", as_double_sql("embedding") + " as v"
            )
            .withColumn("nv", F.expr(norm_sql("v")))
            .join(assign_df.select("vec_id", "cell"), "vec_id")
            .join(
                F.broadcast(
                    cents.withColumn("nc", F.expr(norm_sql("cv")))
                ),
                "cell",
            )
            .select(
                "vec_id",
                "cell",
                F.round(F.expr(score_sql("v", "cv", "nv", "nc")) * 1e6)
                .cast("long")
                .alias("fx"),
            )
            .collect()
        }

    for n_probe in (1, 2):
        got = ivf_assignments(
            emb, cents, n_probe=n_probe, with_sim=True
        ).collect()
        want = direct(
            spark.createDataFrame(
                [(r["vec_id"], r["cell"]) for r in got],
                "vec_id long, cell long",
            )
        )
        assert got, "assignment must be non-empty"
        for r in got:
            assert r["sim_fx6"] == want[(r["vec_id"], r["cell"])], (
                n_probe,
                r,
            )
        # the plain call's schema is untouched
        plain = ivf_assignments(emb, cents, n_probe=n_probe).columns
        assert plain == ["vec_id", "cell", "cell_rank"]
