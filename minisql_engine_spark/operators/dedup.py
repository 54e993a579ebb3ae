"""Deduplication operators for training-data pipelines.

Five dedup families over the ``documents`` / ``embeddings`` tables:

* exact          — hash-groupBy on normalized content
* MinHash + LSH  — word-shingles → minhash signature → banded LSH
                   bucket join → exact-Jaccard verification
* SimHash        — 64-bit sign-of-weighted-bits fingerprint + banded
                   candidate generation + Hamming verification
* n-gram Jaccard — character-3-gram exact Jaccard within a blocking
                   key
* embedding cosine near-dup — see ``similarity.py``

Portability design (the whole point): every hash is derived from
``md5`` hex strings, and MinHash takes the **lexicographic MIN of the
md5 hex digests** — a perfectly valid uniform hash family that both
Spark and DuckDB compute identically, so even LSH banding is verified
bit-for-bit by the SQL oracle (no engine-specific hash builtins).

Scale design (100 TB):
* shingling/fingerprinting is map-side only;
* signatures are one groupBy per doc (map-side partial MIN — tiny);
* the LSH bucket join shuffles on band keys which are md5-uniform →
  no skew; candidate pairs ≪ n² by construction;
* verification joins explode only candidate docs' shingles, never
  the full corpus pairwise.

The reference engine has nothing remotely similar (pure SQL subset);
these implement BASELINE.json's north-star extension mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.portable_round import fx6 as _fx6

# MinHash parameters: 8 hashes in 4 bands of 2 rows. Small on purpose:
# the signature is 8 aggregate columns (no explode), and bands of 2
# give a ~sqrt collision profile good for jaccard ≥ 0.5 at this corpus
# size. Parameterizable per call.
NUM_HASHES = 8
BAND_SIZE = 2

# ---------------------------------------------------------------------------
# Shared shingling
# ---------------------------------------------------------------------------


def _norm(text: Column) -> Column:
    """Whitespace-normalized lowercase content."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from a tokens column as array<string>.

    ``toks`` MUST be a reference to a materialized array column (see
    ``shingle_table``), NOT an inline ``split(...)`` expression: a
    lambda over an unnamed expression re-evaluates it per element —
    measured 26× slower at sf0.1. 0 shingles for docs with < k tokens
    (consistent with the SQL oracle's list comprehension).
    """
    n = F.size(toks)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def char_ngrams(norm: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a *materialized* normalized-text
    column (same inlining caveat as ``word_shingles``)."""
    ln = F.length(norm)
    return F.array_distinct(
        F.when(
            ln >= n,
            F.transform(
                F.sequence(F.lit(1), ln - n + 1),
                lambda i: norm.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized content: one row per distinct text,
    canonical id = min(id), with the duplicate count.

    A single hash-aggregate (map-side partial) on the md5 of the
    content — the canonical 100 TB exact-dedup plan: the shuffle
    carries 32-hex keys instead of full document bodies (at 100 TB
    that is the difference between shuffling ~100 TB and ~1 TB).
    Deterministic (min-id canonicalization), unlike ``dropDuplicates``
    which keeps an arbitrary row.
    """
    return (
        df.select(
            F.col(id_col),
            F.md5(_norm(F.col(text_col))).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
        .select("canonical_id", "n_copies", "content_hash")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = MIN(md5(i || ':' || shingle)).

    Lexicographic min over md5 hex digests — engine-portable hash
    family. One explode + one groupBy; each sig_i is a map-side
    partial MIN, so the shuffle carries num_hashes small strings per
    doc, not the shingle sets. Pass a pre-built ``shingle_table`` via
    ``shingles`` to share the subtree with other pipeline stages.
    """
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col)
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"sig_{i}")
            for i in range(num_hashes)
        ],
        # |shingles(doc)| rides the SAME shuffle (shingles are
        # distinct per doc) — downstream Jaccard verification reads
        # set sizes from here instead of a fourth pass over the
        # shingle table
        F.count("*").alias("n_sh"),
    )


def lsh_band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(doc, band, band_key) — band_key = md5 of the band's sig slice.

    One ``posexplode`` over an array of band keys (not a union of N
    selects): the signature aggregation upstream appears exactly once
    in the plan, so its shuffle isn't re-executed per band.
    """
    n_bands = num_hashes // band_size
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"sig_{b * band_size + r}")
                        for r in range(band_size)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.posexplode(keys).alias("band", "band_key")
    )


def lsh_candidate_pairs(
    band_keys: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket.

    Self-join on (band, band_key): shuffles on md5-uniform keys → no
    skew; output is bounded by bucket sizes, never n².
    """
    a = band_keys.select(
        F.col(id_col).alias("id_a"), "band", "band_key"
    )
    b = band_keys.select(
        F.col(id_col).alias("id_b"), "band", "band_key"
    )
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    exploded: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingles for candidate pairs.

    ``exploded`` is the (id, sh) distinct-shingle table — passing it
    in (rather than re-deriving from raw text) keeps the plan to ONE
    shingling subtree shared across the intersect and size branches.
    Pass ``sizes`` (id, n_sh) to reuse set sizes already computed
    elsewhere (e.g. on the minhash-signature shuffle) instead of
    aggregating the shingle table again. The intersect join is
    pair-restricted first, so only candidate docs' shingles flow;
    |A∩B| / (|A|+|B|-|A∩B|) is a single integer division →
    bit-identical in the oracle.
    """
    if sizes is None:
        sizes = exploded.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    ea = exploded.select(F.col(id_col).alias("id_a"), F.col("sh"))
    eb = exploded.select(F.col(id_col).alias("id_b"), F.col("sh"))
    inter = (
        pairs.join(ea, "id_a")
        .join(eb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            _fx6(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, sh) distinct word-shingles — the shared base relation for
    signatures, sizes, and verification.

    Two-step projection: tokens are materialized as a named column
    BEFORE the shingle lambda so the split/regex runs once per row,
    not once per shingle position."""
    toked = df.select(
        F.col(id_col), F.split(_norm(F.col(text_col)), " ").alias("_toks")
    )
    return toked.select(
        F.col(id_col),
        F.explode(word_shingles(F.col("_toks"), k)).alias("sh"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline (near-dup pairs).

    Plan-shape note (the 100 TB concern): every stage derives from a
    single ``shingle_table`` subtree and the signature aggregation
    appears once per join branch, not once per band/hash — at sf0.1
    this cut wall time ~6× versus the naive branching pipeline. The
    shingle table is persisted (it feeds the signature aggregate and
    both sides of the pair-restricted intersect join — three
    branches with different keys, beyond exchange reuse), and set
    sizes ride the signature shuffle instead of a fourth pass.
    """
    from pyspark.storagelevel import StorageLevel

    ex = hold(
        shingle_table(df, id_col, text_col).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        "dedup",
    )
    # The signature index is persisted too: min(<hex string>) is not
    # hash-agg-bufferable, so Spark computes it as a SortAggregate
    # over the full shingle table — and the LSH self-join would run
    # that sort TWICE (once per side; the two consumers need
    # different downstream partitionings). Persisting the n_docs ×
    # num_hashes result runs it once. (A 60-bit integer hash family
    # would make this a pure HashAggregate — kept hex-string so the
    # DuckDB oracle replays signatures byte-for-byte.)
    sigs = hold(
        minhash_signatures(df, id_col, text_col, shingles=ex).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        "dedup",
    )
    pairs = lsh_candidate_pairs(lsh_band_keys(sigs, id_col), id_col)
    sizes = sigs.select(F.col(id_col), "n_sh")
    return jaccard_verify(ex, pairs, id_col, threshold=threshold, sizes=sizes)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash as a '0'/'1' bitstring per document.

    Token tf-weighted: bit_j = sign( Σ_tokens tf · (2·b_j(token)−1) )
    where b_j(token) is bit j of md5(token) (hex-digit arithmetic —
    portable; the oracle computes the identical recipe).

    Plan shape: 64 independent SUM aggregate columns (one per bit)
    over the (doc, token, tf) table — every bit expression has
    LITERAL digit positions so the whole thing stays inside
    whole-stage codegen, with map-side partial aggregation and a
    single shuffle. (Two rejected alternatives, both measured slower
    at sf0.1: a 64× positional explode shuffles ~18M rows (5.8s);
    an array-fold over collect_list runs interpreted lambdas (9.5s).
    This shape: ~0.6s.)
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("token"),
    )
    tf = (
        toks.groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
        .select(F.col(id_col), "tf", F.md5("token").alias("h"))
    )

    def s_j(j: int) -> Column:
        # hex digit d = j div 4 (1-indexed substr), bit k = 3 - j%4 —
        # all positions literal → pure codegen. ONE F.expr per bit:
        # the equivalent Column-API composition makes ~6 py4j
        # round-trips per bit, which at 64 bits cost ~1.5 s of driver
        # time on every plan BUILD (measured r3) before a single row
        # moved. Arithmetic is identical (`/` is double division in
        # both forms), so fingerprints are bit-stable.
        return F.expr(
            f"sum(tf * ((cast(floor((instr('0123456789abcdef',"
            f" substring(h, {j // 4 + 1}, 1)) - 1)"
            f" / {2 ** (3 - j % 4)}) as int) % 2) * 2 - 1)) as s{j}"
        )

    sums = tf.groupBy(id_col).agg(*[s_j(j) for j in range(bits)])
    bitstr = ", ".join(
        f"case when s{j} > 0 then '1' else '0' end" for j in range(bits)
    )
    return sums.select(
        F.col(id_col),
        F.expr(f"concat({bitstr})").alias("simhash"),
    )


def simhash_band_keys(
    fps: DataFrame,
    id_col: str = "doc_id",
    n_chunks: int = 4,
    combine: int = 1,
) -> DataFrame:
    """(id, band, bk) banding table for a simhash fingerprint index.

    Manku-style combinatorial banding (Manku/Jain/Sarma, WWW'07
    "Detecting Near-Duplicates for Web Crawling"): split the 64-bit
    fingerprint into ``n_chunks`` equal chunks, then key each band on
    the CONCATENATION of ``combine`` distinct chunks — one band per
    C(n_chunks, combine) combination.

    Recall guarantee (pigeonhole): a pair at Hamming distance h has at
    most h dirty chunks, so if h ≤ n_chunks − combine at least one
    band's ``combine`` chunks are all clean and the pair collides.
    Above the guarantee recall degrades gracefully (a miss needs the
    dirty bits spread over > n_chunks − combine chunks).

    Bucket-occupancy math (the 100 TB lever): band-key width is
    combine·(64/n_chunks) bits → 2^width buckets per band, so expected
    occupancy is n/2^width. The guarantee and the occupancy pull in
    opposite directions — picking rule:

    * generous hamming budget (h ≈ 8, modest corpus): many NARROW
      bands, n_chunks=8, combine=1 → 8 bands, guarantee h ≤ 7; hot
      8-bit buckets are handled by ``bucket_cap``, and the exact
      Hamming verify is the second-level filter.
    * web-scale corpus (10^9–10^10 docs): the key must out-grow the
      corpus, width ≥ log2(n)+4. Tighten the budget to the classic
      h ≤ 3–4 (Manku's crawl setting) and combine chunks:
      n_chunks=8, combine=4 → C(8,4)=70 bands of 32-bit keys,
      guarantee h ≤ 4, occupancy ≤ 1 at 4·10^9 docs. Bands cost only
      fingerprint-table explosion (n·bands tiny rows), never n².

    One ``posexplode`` over an array of band keys — the fingerprint
    subtree appears exactly once in the plan.
    """
    from itertools import combinations

    chunk_len = 64 // n_chunks
    combos = list(combinations(range(n_chunks), combine))
    keys = F.array(
        *[
            F.concat(
                *[
                    F.substring("simhash", c * chunk_len + 1, chunk_len)
                    for c in combo
                ]
            )
            for combo in combos
        ]
    )
    return fps.select(
        F.col(id_col), F.posexplode(keys).alias("band", "bk")
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_chunks: int = 4,
    combine: int = 1,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: combinatorially-banded candidates
    verified by exact Hamming distance ≤ max_hamming.

    Banding is delegated to ``simhash_band_keys`` (see its docstring
    for the C(n_chunks, combine) recall guarantee and the
    bucket-occupancy math that makes combine ≥ 2 the 100 TB setting).

    ``bucket_cap`` bounds the candidate fan-out: a band bucket holding
    more than ``bucket_cap`` docs is dropped ENTIRELY before the
    self-join (an overfull bucket means that band key is
    non-discriminative for those docs — e.g. near-empty documents
    hashing to all-zeros). With the cap, candidate pairs are bounded
    by n_bands · n_docs · (cap−1)/2 — LINEAR in corpus size — instead
    of Σ bucket² which is quadratic under skew. Dropped docs still
    collide via their other n_bands−1 keys.

    The fingerprint table is persisted before use: it is consumed by
    multiple join branches with DIFFERENT join keys, so exchange reuse
    can't kick in and each branch would otherwise re-run the whole
    fingerprint aggregation (measured 4× recompute). At cluster scale
    the same index would be checkpointed to parquet; (id, 64-bit fp)
    is tiny relative to the corpus either way.

    Cache lifecycle: Spark's CacheManager dedupes persists by
    canonicalized plan (repeated calls over the same input share ONE
    entry, and a later call even reuses a previous call's populated
    cache) and MEMORY_AND_DISK entries are evictable under pressure —
    so entries are tracked but NOT eagerly unpersisted (doing so was
    measured to force a fingerprint recompute on back-to-back runs).
    ``materialize.release("dedup")`` releases them explicitly.

    Recall contract: Hamming distances up to ``n_chunks − combine``
    are GUARANTEED found (pigeonhole over clean chunks, modulo
    ``bucket_cap`` drops); distances above that bound are found only
    probabilistically via a luckier band — a warning says so when the
    requested ``max_hamming`` exceeds the guarantee, because the
    parameter otherwise reads like a hard contract.
    """
    import warnings

    from pyspark.storagelevel import StorageLevel

    guarantee = n_chunks - combine
    if max_hamming > guarantee:
        warnings.warn(
            f"max_hamming={max_hamming} exceeds the banding recall "
            f"guarantee (n_chunks-combine={guarantee}): pairs at "
            f"Hamming {guarantee + 1}..{max_hamming} are found only "
            "probabilistically",
            stacklevel=2,
        )

    fps = hold(
        simhash_fingerprints(df, id_col, text_col).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        "dedup",
    )
    chunks = simhash_band_keys(fps, id_col, n_chunks, combine)
    if bucket_cap is not None:
        from pyspark.sql import Window

        occ = Window.partitionBy("band", "bk")
        chunks = (
            chunks.withColumn("_n", F.count("*").over(occ))
            .filter(F.col("_n") <= bucket_cap)
            .drop("_n")
        )
    a = chunks.select(F.col(id_col).alias("id_a"), "band", "bk")
    b = chunks.select(F.col(id_col).alias("id_b"), "band", "bk")
    # NOTE deliberately no .distinct() here: a pair colliding in k
    # bands appears k times, but dedup on the candidate set would
    # shuffle every candidate (measured 839k rows at sf0.1, ~5% of
    # them dupes) while verification is pure bit arithmetic. Cheaper
    # to XOR-verify every occurrence and dedup the tiny verified
    # output instead (17k rows at sf0.1; bounded by the true-pair
    # count × n_bands in general). Measured 1.76 → 0.97 s.
    cand = (
        a.join(b, ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # Hamming via XOR + popcount on two 32-bit halves — whole-stage
    # codegen (an interpreted per-character zip_with fold was ~10×
    # slower on the ~190k candidate pairs this corpus produces).
    halves = fps.select(
        F.col(id_col),
        F.conv(F.substring("simhash", 1, 32), 2, 10).cast("bigint").alias("hi"),
        F.conv(F.substring("simhash", 33, 32), 2, 10).cast("bigint").alias("lo"),
    )
    fa = halves.select(
        F.col(id_col).alias("id_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
    )
    fb = halves.select(
        F.col(id_col).alias("id_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard within a blocking key
# ---------------------------------------------------------------------------


def _ngram_exploded(
    df: DataFrame, block_col: str, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, blk, g, n_g): one row per distinct character n-gram per
    doc, with the doc's gram-set size attached."""
    normed = df.select(
        F.col(id_col),
        F.col(block_col).alias("blk"),
        # materialized first — an inline expression under the
        # char_ngrams lambda re-evaluates per element (26× slower,
        # see word_shingles)
        _norm(F.col(text_col)).alias("_c"),
    )
    grams = normed.select(
        id_col, "blk", char_ngrams(F.col("_c"), n).alias("_gs")
    ).withColumn("n_g", F.size("_gs"))
    return grams.select(
        id_col, "blk", "n_g", F.explode("_gs").alias("g")
    )


def ngram_prefix_candidates(
    ex: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """PPJoin-style candidate pairs (id_a, id_b, n_a, n_b) from the
    exploded gram table — EXACT (superset of every true pair ≥
    threshold), but never all-pairs-per-block.

    Prefix-filter lemma: order each doc's gram set by a global total
    order; if J(a,b) ≥ t then |a∩b| ≥ t·|a∪b| ≥ ⌈t·|x|⌉ for both
    docs, so two qualifying docs MUST share a gram within their first
    |x| − ⌈t·|x|⌉ + 1 grams. Keying the candidate join on only those
    prefix grams — ordered by ascending global document frequency so
    the join keys are the *rarest* grams — bounds candidates by
    Σ_g df_prefix(g)² over low-frequency grams instead of Σ_g df(g)²
    over all (a skewed block with n docs sharing "the" no longer
    goes O(n²)). A length filter (t·|a| ≤ |b| ≤ |a|/t) prunes the
    rest. Same exactness technique as PPJoin (Xiao et al., WWW'08);
    no recall loss, so the DuckDB all-pairs oracle stays the oracle.

    Scale note: the bound is Σ C(df_prefix(g), 2) over the rarest
    grams, so its strength tracks how discriminative the grams are.
    Character-3-grams live in a ~26³ space that saturates around
    10⁴–10⁵ docs per block — at corpus scale use ``n≥4`` (26⁴ ≈
    457k) or word shingles; the skew test asserts both regimes.
    """
    # Global document frequency per gram: one partial-agg shuffle.
    dfreq = ex.groupBy("g").agg(F.count("*").alias("_df"))
    # Rank each doc's grams by (df asc, gram) — rarest first. The
    # prefix keeps |g| − ⌈t·|g|⌉ + 1 grams; the 1e-9 slack only ever
    # LENGTHENS the prefix when t·n sits a float-ulp above an
    # integer, so pruning stays on the safe (superset) side.
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("g").asc())
    prefix_len = (
        F.col("n_g")
        - F.ceil(F.col("n_g") * F.lit(threshold) - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = (
        ex.join(dfreq, "g")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= prefix_len)
        .select(id_col, "blk", "g", "n_g")
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"), "blk", "g", F.col("n_g").alias("n_a")
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "blk", "g", F.col("n_g").alias("n_b")
    )
    return (
        pa.join(pb, ["blk", "g"])
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J ≥ t forces t ≤ min(|a|,|b|)/max(|a|,|b|)
        .filter(
            (F.col("n_b") >= F.col("n_a") * threshold - 1e-9)
            & (F.col("n_a") >= F.col("n_b") * threshold - 1e-9)
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Character-n-gram Jaccard between doc pairs sharing a blocking
    key (e.g. source) — blocked near-dup join, candidate-bounded.

    Candidates come from :func:`ngram_prefix_candidates` (rarest-gram
    prefix filter — exact, never all-pairs-per-block); the exact
    intersection is then computed ONLY for candidate pairs via a
    pair-restricted join of the two gram sets, the same verify shape
    the MinHash path uses. Output: (id_a, id_b, jaccard) ≥ threshold
    — identical to the naive blocked all-pairs join, which is what
    the DuckDB oracle replays.
    """
    ex = _ngram_exploded(df, block_col, id_col, text_col, n)
    cand = ngram_prefix_candidates(ex, id_col, threshold)
    # pair-restricted exact verify: candidates × grams-of-a, matched
    # against grams-of-b on (id_b, g) — shuffle is |cand|·|grams/doc|,
    # not block².
    ga = ex.select(F.col(id_col).alias("id_a"), "g")
    gb = ex.select(F.col(id_col).alias("id_b"), "g")
    inter = (
        cand.join(ga, "id_a")
        .join(gb, ["id_b", "g"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            _fx6(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def keep_best_of_cluster(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    score_col: str = "s",
) -> DataFrame:
    """(id, cluster, score, is_kept): per duplicate cluster, keep the
    member with the HIGHEST score, ties → min id — the curation
    upgrade over min-id survivorship (FineWeb-style pipelines keep a
    near-dup group's best-quality member, not its smallest id).

    ``labels`` is any (id, cluster) relation — minhash/simhash
    components, ``semantic_dedup`` output, linkage entities;
    ``scores`` any integer per-id quality (``stopword_score``,
    Gopher rule counts, perplexity buckets). The chooser is the
    ``entity_rollup`` struct-max: ONE partial-aggregatable aggregate
    per cluster, skew-immune (a million-member boilerplate cluster
    costs one combiner cell, not a window sort), broadcast back to
    members. Missing scores are treated as the lowest (NULL loses to
    any scored member; an all-NULL cluster falls back to min id)."""
    j = labels.select(
        F.col(id_col), F.col(cluster_col).alias("_cl")
    ).join(
        scores.select(
            F.col(id_col), F.col(score_col).cast("long").alias("_s")
        ),
        id_col,
        "left",
    )
    # NULLS-LAST is encoded structurally (a has-score flag leads the
    # struct) rather than with a numeric sentinel, so a legitimate
    # score at LONG_MIN still beats a NULL — exact parity with the
    # oracle's ``ORDER BY _kb_score DESC NULLS LAST`` for all longs.
    best = j.groupBy("_cl").agg(
        F.max(
            F.struct(
                F.col("_s").isNotNull().alias("has_s"),
                F.coalesce(F.col("_s"), F.lit(0)).alias("s"),
                (-F.col(id_col)).alias("nid"),
            )
        ).alias("_b")
    )
    # No broadcast hint: ``best`` has one row per cluster — roughly
    # label-table cardinality for dedup inputs — so a forced broadcast
    # would blow the driver at corpus scale. The shuffle join on _cl
    # is skew-safe (one row per key on the build side); AQE may still
    # choose to broadcast when the cluster count is genuinely small.
    return (
        j.join(best, "_cl")
        .select(
            F.col(id_col),
            F.col("_cl").alias(cluster_col),
            F.col("_s").alias(score_col),
            (F.col(id_col) == -F.col("_b.nid")).alias("is_kept"),
        )
        # no final orderBy: the roster is corpus-sized and every
        # consumer (driver hash, tests, downstream joins) is
        # order-insensitive — a determinism-only global sort is a
        # full range Exchange at scale (guide §2.4)
    )


def keep_best_of_cluster_sql(
    labels_cte: str,
    scores_cte: str,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    score_col: str = "s",
) -> str:
    """DuckDB twin of :func:`keep_best_of_cluster` — the chooser
    replays as arg-max by (score DESC NULLS LAST, id ASC)."""
    return (
        f"WITH kb_l AS ({labels_cte}),"
        f" kb_s AS ({scores_cte}),"
        " kb_j AS (SELECT kb_l.*, kb_s._kb_score FROM kb_l"
        "  LEFT JOIN (SELECT"
        f"   {id_col}, CAST({score_col} AS BIGINT) AS _kb_score"
        f"   FROM kb_s) kb_s USING ({id_col})),"
        " kb_r AS (SELECT *, row_number() OVER ("
        f"  PARTITION BY {cluster_col}"
        f"  ORDER BY _kb_score DESC NULLS LAST, {id_col} ASC) AS _rn"
        "  FROM kb_j)"
        f" SELECT {id_col}, {cluster_col},"
        f"  _kb_score AS {score_col}, _rn = 1 AS is_kept"
        f" FROM kb_r ORDER BY {id_col}"
    )


def lsh_recall_audit(
    docs: DataFrame,
    threshold_fx6: int = 500_000,
    n_queries: int = 40,
    seed: str = "lshaudit",
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_true, n_detected, recall_fx6) — measured banding
    recall per sampled query doc: of the pairs whose EXACT shingle
    Jaccard ≥ ``threshold_fx6``/10⁶, how many does the production
    MinHash+LSH candidate generation surface? The due-diligence
    audit run before trusting a (num_hashes, band_size) operating
    point — the dedup family's analogue of the matryoshka/IVF
    recall audits (serving stays on the banded path; the audit runs
    on a budgeted sample).

    Ground truth is exact and integer-exact: candidates for a query
    doc are docs sharing ≥ 1 shingle (the inverted-shingle join — a
    pair below that shares nothing and has Jaccard 0), scored
    ``inter·10⁶ DIV (n_a + n_b − inter)``. The query set is the
    ``n_queries`` smallest decision hashes (ties → id), so the audit
    is O(n_queries · shingle-cooccurrence) at any corpus size.
    Detection is judged at CANDIDATE level (≥ 1 shared band) —
    banding is the recall-lossy stage; verification after it is
    exact. Queries with no true pair emit recall NULL (nothing to
    recall), keeping the sampled set visible and hash-stable."""
    from .sampling import sample_hash

    if not 0 < threshold_fx6 <= 10**6:
        raise ValueError(
            f"threshold_fx6 must be in (0, 1e6], got {threshold_fx6}"
        )
    if n_queries < 1:
        raise ValueError(f"n_queries must be >= 1, got {n_queries}")
    from pyspark.storagelevel import StorageLevel

    # the shingle table feeds FOUR consumers here (sizes, the query
    # shingles, the co-occurrence side, and the MinHash signatures) —
    # persist it exactly like minhash_lsh_dedup does, or the
    # tokenize+explode subtree executes once per consumer
    sh = hold(
        shingle_table(docs, id_col, text_col).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        "dedup",
    )
    sizes = sh.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_sh")
    )
    queries = (
        sizes.select(id_col)
        .orderBy(sample_hash(F.col(id_col), seed), F.col(id_col))
        .limit(n_queries)
        .select(F.col(id_col).alias("qid"))
        .localCheckpoint(eager=False)
    )
    qsh = sh.join(
        queries, sh[id_col] == queries["qid"], "left_semi"
    ).select(F.col(id_col).alias("qid"), "sh")
    cooc = (
        qsh.join(sh, "sh")
        .filter(F.col("qid") != F.col(id_col))
        .groupBy("qid", F.col(id_col).alias("other"))
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    truth = (
        cooc.join(
            sizes.select(
                F.col(id_col).alias("qid"),
                F.col("n_sh").alias("na"),
            ),
            "qid",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("other"),
                F.col("n_sh").alias("nb"),
            ),
            "other",
        )
        .filter(
            F.expr(
                f"n_inter * {10**6}L DIV (na + nb - n_inter)"
                f" >= {int(threshold_fx6)}L"
            )
        )
        .select("qid", "other")
        # truth feeds BOTH the hit count and the per-query true count;
        # it is audit-sized (pairs over n_queries docs) while its
        # subtree is the shingle co-occurrence join — materialize once
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingles=sh
    )
    # detection only needs pairs INVOLVING a query doc: restrict one
    # side of the band self-join to the n_queries sampled docs BEFORE
    # the join (guide §3.2 — pre-filter the big side), so candidate
    # generation is O(n_queries · band co-occupancy) like the truth
    # side, not corpus-wide. Same (qid, other) set as filtering the
    # full pair table: a pair is detected iff the two docs share ≥ 1
    # (band, band_key), which this join tests directly.
    bk = lsh_band_keys(sigs, id_col, num_hashes, band_size)
    qbk = bk.join(
        queries, bk[id_col] == queries["qid"], "left_semi"
    ).select(F.col(id_col).alias("qid"), "band", "band_key")
    detected = (
        qbk.join(
            bk.select(
                F.col(id_col).alias("other"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .filter(F.col("qid") != F.col("other"))
        .select("qid", "other")
        .distinct()
    )
    hits = truth.join(
        detected, ["qid", "other"], "left_semi"
    ).groupBy("qid").agg(
        F.count("*").cast("bigint").alias("n_detected")
    )
    trues = truth.groupBy("qid").agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    return (
        queries.join(trues, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias(id_col),
            F.coalesce(F.col("n_true"), F.lit(0))
            .cast("bigint")
            .alias("n_true"),
            F.coalesce(F.col("n_detected"), F.lit(0))
            .cast("bigint")
            .alias("n_detected"),
            F.expr(
                "CASE WHEN COALESCE(n_true, 0) > 0 THEN"
                f" COALESCE(n_detected, 0) * {10**6}L DIV n_true"
                " ELSE NULL END"
            ).alias("recall_fx6"),
        )
        .orderBy(id_col)
    )


def lsh_recall_audit_sql(
    threshold_fx6: int = 500_000,
    n_queries: int = 40,
    seed: str = "lshaudit",
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`lsh_recall_audit` — the shingle base,
    the md5-min signature family, banding, the hash-order query
    pick, the exact integer Jaccard, and the recall edge, term for
    term."""
    from .sampling import sample_hash_sql

    if not 0 < threshold_fx6 <= 10**6:
        raise ValueError(
            f"threshold_fx6 must be in (0, 1e6], got {threshold_fx6}"
        )
    if n_queries < 1:
        raise ValueError(f"n_queries must be >= 1, got {n_queries}")
    n_bands = num_hashes // band_size
    FXL = 10**6
    sig_list = ",".join(
        f" min(md5('{i}:' || s)) AS sig_{i}" for i in range(num_hashes)
    )
    band_union = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, md5("
        + " || '|' || ".join(
            f"sig_{b * band_size + r}" for r in range(band_size)
        )
        + f") AS band_key FROM sigs"
        for b in range(n_bands)
    )
    norm = (
        f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    )
    return (
        f"WITH tk AS (SELECT {id_col},"
        f"  string_split({norm}, ' ') AS t FROM {table}),"
        f" shl AS (SELECT {id_col}, list_distinct("
        "  [t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
        "   for i in range(1, len(t)-1)]) AS shs"
        "  FROM tk WHERE len(t) >= 3),"
        f" ex AS (SELECT {id_col}, unnest(shs) AS s FROM shl),"
        f" sz AS (SELECT {id_col},"
        f"  CAST(len(shs) AS BIGINT) AS n_sh FROM shl),"
        f" q AS (SELECT {id_col} AS qid FROM sz"
        f"  ORDER BY {sample_hash_sql(id_col, seed)}, {id_col}"
        f"  LIMIT {n_queries}),"
        f" cooc AS (SELECT a.qid, b.{id_col} AS other,"
        "  CAST(count(*) AS BIGINT) AS n_inter"
        f"  FROM (SELECT q.qid, ex.s FROM q JOIN ex"
        f"   ON ex.{id_col} = q.qid) a"
        f"  JOIN ex b ON b.s = a.s AND b.{id_col} <> a.qid"
        "  GROUP BY a.qid, other),"
        " truth AS (SELECT c.qid, c.other FROM cooc c"
        f"  JOIN sz sa ON sa.{id_col} = c.qid"
        f"  JOIN sz sb ON sb.{id_col} = c.other"
        f"  WHERE n_inter * {FXL} // (sa.n_sh + sb.n_sh - n_inter)"
        f"   >= {int(threshold_fx6)}),"
        f" sigs AS (SELECT {id_col},{sig_list} FROM ex"
        f"  GROUP BY {id_col}),"
        f" bands AS ({band_union}),"
        " cand AS (SELECT DISTINCT"
        f"  a.{id_col} AS id_a, b.{id_col} AS id_b"
        "  FROM bands a JOIN bands b ON a.band = b.band"
        f"  AND a.band_key = b.band_key AND a.{id_col} < b.{id_col}),"
        " det AS (SELECT qid, other FROM ("
        "   SELECT id_a AS qid, id_b AS other FROM cand"
        "   UNION ALL SELECT id_b, id_a FROM cand) d"
        "  WHERE qid IN (SELECT qid FROM q)),"
        " tr AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_true"
        "  FROM truth GROUP BY qid),"
        " ht AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS n_detected"
        "  FROM truth t JOIN det d ON d.qid = t.qid"
        "   AND d.other = t.other GROUP BY t.qid)"
        f" SELECT q.qid AS {id_col},"
        "  COALESCE(tr.n_true, 0) AS n_true,"
        "  COALESCE(ht.n_detected, 0) AS n_detected,"
        "  CASE WHEN COALESCE(tr.n_true, 0) > 0 THEN"
        f"   CAST(COALESCE(ht.n_detected, 0) * {FXL}"
        "    // tr.n_true AS BIGINT)"
        "  ELSE NULL END AS recall_fx6"
        " FROM q LEFT JOIN tr ON tr.qid = q.qid"
        " LEFT JOIN ht ON ht.qid = q.qid"
        f" ORDER BY q.qid"
    )
