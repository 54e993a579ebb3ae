"""Property-based tests (hypothesis): filter / join / aggregate
against an in-memory Python oracle on small random integer tables —
especially the duplicate-key join shapes the reference got wrong
(SURVEY Q5), where a reimplementation is most likely to inherit bugs."""

from __future__ import annotations

import os
import sys
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from minisql_engine_spark.operators import relational as R  # noqa: E402

# keys drawn from a tiny domain → guaranteed duplicate keys
ROW = st.tuples(
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=-100, max_value=100),
)
TABLE = st.lists(ROW, min_size=0, max_size=12)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols) if rows else spark.createDataFrame(
        [], f"{cols[0]} long, {cols[1]} long"
    )


@given(t1=TABLE, t2=TABLE)
@SLOW
def test_join_multiset_semantics(spark, t1, t2):
    """Inner equi-join must be the exact multiset of matching pairs
    (the reference collapsed many-to-many matches, Q5)."""
    df1 = _df(spark, t1, ["k", "v1"])
    df2 = _df(spark, t2, ["k2", "v2"])
    got = Counter(
        (r["k"], r["v1"], r["v2"])
        for r in R.equi_join(
            df1, df2, on=F.col("k") == F.col("k2")
        ).collect()
    )
    want = Counter(
        (k1, v1, v2) for (k1, v1) in t1 for (k2, v2) in t2 if k1 == k2
    )
    assert got == want


@given(t1=TABLE, lit=st.integers(min_value=-2, max_value=6))
@SLOW
def test_filter_comparators_vs_oracle(spark, t1, lit):
    import operator

    df = _df(spark, t1, ["k", "v"])
    for op_name, op_fn in [
        ("<", operator.lt), (">", operator.gt), ("<=", operator.le),
        (">=", operator.ge), ("!=", operator.ne), ("=", operator.eq),
    ]:
        got = sorted(
            (r["k"], r["v"])
            for r in df.filter(R.comparison("k", op_name, lit)).collect()
        )
        want = sorted((k, v) for (k, v) in t1 if op_fn(k, lit))
        assert got == want, op_name


@given(t1=TABLE)
@SLOW
def test_aggregates_vs_oracle(spark, t1):
    df = _df(spark, t1, ["k", "v"])
    row = R.aggregate(
        df,
        [
            ("max", "v", "mx"),
            ("min", "v", "mn"),
            ("sum", "v", "sm"),
            ("count", "v", "ct"),
        ],
    ).collect()[0]
    vals = [v for (_, v) in t1]
    assert row["mx"] == (max(vals) if vals else None)
    assert row["mn"] == (min(vals) if vals else None)
    assert row["sm"] == (sum(vals) if vals else None)
    assert row["ct"] == len(vals)


@given(t1=TABLE)
@SLOW
def test_distinct_and_group_by_vs_oracle(spark, t1):
    df = _df(spark, t1, ["k", "v"])
    got = sorted(r["k"] for r in R.distinct_values(df, ["k"]).collect())
    assert got == sorted({k for (k, _) in t1})
    grouped = {
        r["k"]: (r["sm"], r["ct"])
        for r in R.aggregate(
            df, [("sum", "v", "sm"), ("count", "v", "ct")], group_by=["k"]
        ).collect()
    }
    want: dict[int, tuple[int, int]] = {}
    for k, v in t1:
        s, c = want.get(k, (0, 0))
        want[k] = (s + v, c + 1)
    assert grouped == want


# --- sequence packing / mixture properties ---------------------------------

DOC = st.tuples(
    st.integers(min_value=0, max_value=200),  # doc_id (dedup below)
    st.integers(min_value=0, max_value=40),  # token count
)
CORPUS = st.lists(DOC, min_size=0, max_size=25)


def _doc_df(spark, corpus):
    # synthesize text with exactly n tokens; dedup ids (last wins)
    rows = list({d: n for d, n in corpus}.items())
    data = [(d, " ".join(["w"] * n)) for d, n in rows]
    if not data:
        return spark.createDataFrame([], "doc_id long, text string"), {}
    return (
        spark.createDataFrame(data, "doc_id long, text string"),
        dict(rows),
    )


@given(corpus=CORPUS, cap=st.integers(min_value=1, max_value=64))
@SLOW
def test_packing_partitions_every_token_exactly_once(spark, corpus, cap):
    """For ANY corpus and capacity: pieces per doc are a disjoint
    cover of [0, n_tokens); every sequence except each shard's last
    holds exactly `cap` tokens; empty docs vanish."""
    from minisql_engine_spark.operators.packing import pack_sequences

    df, tokens = _doc_df(spark, corpus)
    out = pack_sequences(df, cap).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    expected_docs = {d for d, n in tokens.items() if n > 0}
    assert set(by_doc) == expected_docs
    for d, pieces in by_doc.items():
        pieces.sort(key=lambda r: r.tok_begin)
        assert pieces[0].tok_begin == 0
        assert pieces[-1].tok_end == tokens[d]
        for a, b in zip(pieces, pieces[1:]):
            assert a.tok_end == b.tok_begin  # contiguous, disjoint
    per_seq: dict[tuple, int] = {}
    last_seq: dict[str, int] = {}
    for r in out:
        per_seq[(r.shard, r.seq_id)] = (
            per_seq.get((r.shard, r.seq_id), 0) + r.piece_tokens
        )
        last_seq[r.shard] = max(last_seq.get(r.shard, -1), r.seq_id)
    for (shard, seq), tok in per_seq.items():
        if seq < last_seq[shard]:
            assert tok == cap, (shard, seq, tok)


@given(
    corpus=CORPUS,
    budget=st.integers(min_value=1, max_value=500),
    w0=st.floats(min_value=0.1, max_value=5.0),
)
@SLOW
def test_mixture_budget_invariants(spark, corpus, budget, w0):
    """For ANY corpus/budget/weights: every admitted doc started
    under its source allowance, and tokens_kept per source is either
    every doc of the source or overshoots by < one doc."""
    from minisql_engine_spark.operators.mixture import mixture_sample

    df, tokens = _doc_df(spark, corpus)
    df = df.withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, "even").otherwise("odd"),
    )
    out = mixture_sample(df, {"even": w0, "odd": 1.0}, budget).collect()
    for r in out:
        assert r.cum_tokens - r.n_tokens < r.allowance_tokens
    kept = {r.doc_id for r in out}
    # maximality: any non-selected, non-empty doc of a source must
    # imply that source's allowance is already at/over capacity
    by_src: dict[str, int] = {}
    for r in out:
        by_src[r.source] = max(by_src.get(r.source, 0), r.cum_tokens)
    for d, n in tokens.items():
        if n <= 0 or d in kept:
            continue
        src = "even" if d % 2 == 0 else "odd"
        allow = next(
            (r.allowance_tokens for r in out if r.source == src), None
        )
        if allow is not None:
            assert by_src.get(src, 0) >= allow


# --- Z-order interleave property -------------------------------------------


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
@SLOW
def test_zvalue_matches_reference_morton(spark, vals):
    """with_zvalue must equal an independent pure-Python Morton
    interleave of the min-max-scaled ranks, for ANY 2-column input."""
    from minisql_engine_spark.sources.zorder import with_zvalue

    bits = 8
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(vals)],
        "id long, a long, b long",
    )
    got = {
        r.id: r._z
        for r in with_zvalue(df, ["a", "b"], bits=bits).collect()
    }

    top = (1 << bits) - 1
    los = [min(v[d] for v in vals) for d in range(2)]
    his = [max(v[d] for v in vals) for d in range(2)]

    def rank(x, d):
        lo, hi = los[d], his[d]
        if hi <= lo:
            return 0
        import math

        return min(top, math.floor((x - lo) / (hi - lo) * top))

    def morton(a, b):
        z = 0
        for bit in range(bits):
            z += ((rank(a, 0) >> bit) & 1) << (bit * 2)
            z += ((rank(b, 1) >> bit) & 1) << (bit * 2 + 1)
        return z

    expected = {
        i: morton(a, b) for i, (a, b) in enumerate(vals)
    }
    assert got == expected


# --- duplicate_spans vs a brute-force Python reference ----------------------
# Docs drawn from a 3-letter alphabet force heavy gram repetition, so
# every path (marking, island merge, maximality) is exercised.

DOC = st.lists(
    st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=14
)
CORPUS_SPANS = st.lists(DOC, min_size=1, max_size=5)


def _brute_spans(texts: list[list[str]], k: int, min_count: int):
    """Independent reimplementation of the duplicate-span definition:
    count k-gram occurrences corpus-wide, mark window starts whose
    gram repeats, union-merge overlapping/adjacent [i, i+k) windows."""
    grams = Counter()
    for toks in texts:
        for i in range(len(toks) - k + 1):
            grams[tuple(toks[i : i + k])] += 1
    out = set()
    for d, toks in enumerate(texts):
        marked = [
            i
            for i in range(len(toks) - k + 1)
            if grams[tuple(toks[i : i + k])] >= min_count
        ]
        spans = []
        for i in marked:
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + k)
            else:
                spans.append([i, i + k])
        for s, e in spans:
            out.add((d, s, e, e - s))
    return out


@SLOW
@given(
    corpus=CORPUS_SPANS,
    k=st.integers(min_value=1, max_value=4),
    min_count=st.integers(min_value=2, max_value=3),
)
def test_duplicate_spans_match_bruteforce(spark, corpus, k, min_count):
    from minisql_engine_spark.operators.span_dedup import duplicate_spans

    rows = [(d, " ".join(toks)) for d, toks in enumerate(corpus)]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_spans(
            sdf, k=k, min_count=min_count
        ).collect()
    }
    assert got == _brute_spans(corpus, k, min_count)


# --- r7 surfaces: banded hash near-pairs, SCD2 history, BPE trie -----------

# clusters of near hashes: a base plus variants with 0-6 bits flipped,
# so examples exercise both sides of the Hamming-3 boundary
_HASH_CLUSTER = st.tuples(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=63),
            min_size=0,
            max_size=6,
            unique=True,
        ),
        min_size=0,
        max_size=3,
    ),
)


@SLOW
@given(clusters=st.lists(_HASH_CLUSTER, min_size=1, max_size=4))
def test_hash_near_pairs_matches_bruteforce(spark, clusters):
    """The 4×16-bit band join is EXHAUSTIVE at Hamming ≤ 3
    (pigeonhole: 4 bands, ≤3 differing bits → some band untouched)
    and the verify filters everything else — so on any hash relation
    the operator must equal the brute-force O(n²) answer."""
    from minisql_engine_spark.operators.multimodal import (
        _signed64,
        hash_near_pairs,
    )

    hashes: list[int] = []
    for base, variants in clusters:
        hashes.append(base)
        for flips in variants:
            h = base
            for b in flips:
                h ^= 1 << b
            hashes.append(h)
    rows = [(i, _signed64(h)) for i, h in enumerate(hashes)]
    sdf = spark.createDataFrame(rows, "doc_id bigint, dhash bigint")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hash_near_pairs(sdf, max_hamming=3).collect()
    }
    want = set()
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin(hashes[i] ^ hashes[j]).count("1")
            if d <= 3:
                want.add((i, j, d))
    assert got == want


_SCD2_BATCH = st.dictionaries(
    st.integers(min_value=0, max_value=3),          # key
    st.integers(min_value=0, max_value=2),          # attribute value
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_SCD2_BATCH, min_size=1, max_size=3))
def test_scd2_intervals_partition_time(spark, batches):
    """After ANY apply sequence, each key's version intervals
    partition time: sorted by valid_from they are contiguous
    (next.valid_from == prev.valid_to), non-overlapping, and exactly
    the last one is open (valid_to NULL, is_current) — the invariant
    that makes as-of enrichment return exactly one match."""
    import shutil
    import tempfile

    from minisql_engine_spark.sources.scd2 import scd2_apply, scd2_init
    from minisql_engine_spark.sources.snapshots import read_snapshot

    path = tempfile.mkdtemp(prefix="scd2prop_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        init = spark.createDataFrame(
            [(k, -1) for k in range(2)], "k bigint, v bigint"
        )
        scd2_init(init, path, "k", ts=0)
        for i, batch in enumerate(batches):
            upd = spark.createDataFrame(
                [(k, v) for k, v in batch.items()], "k bigint, v bigint"
            )
            scd2_apply(spark, path, upd, "k", ts=10 * (i + 1))
        hist = read_snapshot(spark, path).collect()
        by_key: dict[int, list] = {}
        for r in hist:
            by_key.setdefault(r["k"], []).append(r)
        for k, rows in by_key.items():
            rows.sort(key=lambda r: r["valid_from"])
            for prev, nxt in zip(rows, rows[1:]):
                assert prev["valid_to"] == nxt["valid_from"], (k, rows)
            assert all(not r["is_current"] for r in rows[:-1])
            assert rows[-1]["is_current"] and rows[-1]["valid_to"] is None
    finally:
        shutil.rmtree(path, ignore_errors=True)


_BPE_TEXT = st.text(
    alphabet=st.sampled_from("ab c 　\t\n x"),
    min_size=0,
    max_size=24,
)
_BPE_PIECE = st.text(
    alphabet=st.sampled_from("abcx"), min_size=1, max_size=3
)


@SLOW
@given(
    texts=st.lists(_BPE_TEXT, min_size=1, max_size=4),
    merges=st.lists(
        st.tuples(_BPE_PIECE, _BPE_PIECE), min_size=0, max_size=4
    ),
)
def test_bpe_trie_equals_chained_random(spark, texts, merges):
    """bpe_apply_trie must equal bpe_apply token-for-token on
    arbitrary text — including the Unicode whitespace (NBSP,
    ideographic space, em space) whose normalization divergence the
    r6 advisor caught — and arbitrary merge tables (including
    chain-sensitive and never-firing entries)."""
    from minisql_engine_spark.operators.bpe import bpe_apply, bpe_apply_trie

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_apply(sdf, merges).select("doc_id", "bpe_tokens").collect()
    }
    b = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_apply_trie(sdf, merges)
        .select("doc_id", "bpe_tokens")
        .collect()
    }
    assert a == b


@SLOW
@given(
    big=TABLE,
    small=TABLE,
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_join_multiset_equals_plain_join(
    spark, big, small, n_salts
):
    """salted_join must preserve EXACT row multiplicity vs the plain
    join for any duplicate-key tables and any salt count — the
    transparency contract the skew_salted_join driver row
    hash-certifies at scale, here locked across the input space
    (including empty sides and all-one-key skew)."""
    from minisql_engine_spark.operators.skew import salted_join

    b = _df(spark, big, ["k", "v"])
    s = _df(spark, small, ["k", "w"])
    got = Counter(
        (r.k, r.v, r.w)
        for r in salted_join(b, s, "k", n_salts=n_salts).collect()
    )
    want = Counter(
        (r.k, r.v, r.w) for r in b.join(s, "k").collect()
    )
    assert got == want


# --- integer PageRank ≡ driver-side replay on random graphs ----------------

EDGE = st.tuples(
    st.integers(min_value=0, max_value=6),
    st.integers(min_value=0, max_value=6),
)


@given(
    pairs=st.lists(EDGE, min_size=1, max_size=14),
    iters=st.integers(min_value=0, max_value=4),
)
@SLOW
def test_pagerank_matches_python_on_random_graphs(spark, pairs, iters):
    """The distributed integer PageRank equals a driver-side Python
    replay of the same floor arithmetic on arbitrary directed
    multigraphs (self-loops, parallel edges, dangling sinks) — the
    shuffle order can never change a single unit."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        SCALE,
        pagerank,
    )

    edges = [(f"n{a}", f"n{b}") for a, b in pairs]
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    teleport = (SCALE * (DAMP_DEN - DAMP_NUM)) // (100 * n)
    rank = {v: SCALE // n for v in nodes}
    for _ in range(iters):
        nxt = {v: teleport for v in nodes}
        for s, t in edges:
            nxt[t] += (rank[s] * DAMP_NUM) // (DAMP_DEN * deg[s])
        rank = nxt

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["pr_units"]
        for r in pagerank(df, n_iter=iters).collect()
    }
    release("graph")
    assert got == rank


# --- star-contraction CC ≡ min-label propagation on random graphs ----------


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=25,
    )
)
@SLOW
def test_star_contraction_equals_propagation_random(spark, pairs):
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    # self-pairs stay IN: both variants must label a self-pair-only
    # node with itself (same-surface contract, r8 advisor finding)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    got_df, _ = connected_components_star(df)
    got = {(r["id"], r["component"]) for r in got_df.collect()}
    release("clustering")
    assert got == want


# --- RRF fusion ≡ driver-side replay on random ranked lists ----------------

RANKED_LIST = st.lists(
    st.integers(min_value=0, max_value=9), min_size=1, max_size=8, unique=True
)


@given(lists=st.lists(RANKED_LIST, min_size=1, max_size=3))
@SLOW
def test_rrf_fuse_matches_python_on_random_lists(spark, lists):
    """Integer RRF fusion over arbitrary ranked lists equals the
    Python fold: per-doc unit sums, consensus counts, and the
    (units desc, doc asc) ranking — list order never matters."""
    from minisql_engine_spark.operators.retrieval import (
        RRF_K,
        RRF_UNIT,
        rrf_fuse,
    )

    dfs = []
    want: dict = {}
    for docs in lists:
        rows = [("q", d, i + 1) for i, d in enumerate(docs)]
        dfs.append(
            spark.createDataFrame(
                rows, "query_id string, doc_id long, rank int"
            )
        )
        for _, d, rk in rows:
            u, n = want.get(d, (0, 0))
            want[d] = (u + RRF_UNIT // (RRF_K + rk), n + 1)
    out = rrf_fuse(dfs, k=100).collect()
    got = {r["doc_id"]: (r["rrf_units"], r["n_lists"]) for r in out}
    assert got == want
    order = [
        r["doc_id"]
        for r in sorted(out, key=lambda r: r["fused_rank"])
    ]
    assert order == sorted(want, key=lambda d: (-want[d][0], d))


# --- CDC diff ≡ full-read anti-diff under arbitrary commit sequences --------

OPS = st.lists(
    st.sampled_from(["append", "merge", "delete", "compact"]),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS, seed=st.integers(min_value=0, max_value=99))
def test_snapshot_diff_equals_full_read_diff(spark, tmp_path_factory, ops, seed):
    """diff_snapshots must equal the anti-diff of FULL version reads
    for every consecutive version pair, whatever mix of append /
    pruned-merge / pruned-delete / compaction produced them — the
    file-granularity pruning can never change the answer, only the
    bytes read (the r8 manifest-granularity bug class, pinned)."""
    from minisql_engine_spark.sources.snapshots import (
        append_snapshot,
        compact_snapshot,
        delete_range_pruned,
        diff_snapshots,
        list_versions,
        merge_snapshot_pruned,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path_factory.mktemp("cdc") / "tbl")
    rows = [(i, f"t{i}", i % 3) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, text string, grp long")
    write_snapshot(
        df.repartitionByRange(3, "id").sortWithinPartitions("id"), path
    )
    for i, op in enumerate(ops):
        k = (seed + i * 7) % 30
        if op == "append":
            append_snapshot(
                spark.createDataFrame(
                    [(1000 + seed * 10 + i, "new", 9)],
                    "id long, text string, grp long",
                ),
                path,
            )
        elif op == "merge":
            upd = spark.createDataFrame(
                [(k, f"patched{i}", 5)], "id long, text string, grp long"
            )
            merge_snapshot_pruned(spark, path, upd, "id")
        elif op == "delete":
            delete_range_pruned(
                spark, path, "id", lo=k, hi=k + 3
            )
        else:
            compact_snapshot(spark, path)
    versions = list_versions(path)
    for vf, vt in zip(versions, versions[1:]):
        full_f = read_snapshot(spark, path, vf)
        full_t = read_snapshot(spark, path, vt)
        want_added = sorted(
            map(tuple, full_t.exceptAll(full_f).collect())
        )
        want_removed = sorted(
            map(tuple, full_f.exceptAll(full_t).collect())
        )
        got = diff_snapshots(spark, path, vf, vt).collect()
        got_added = sorted(
            tuple(r)[1:] for r in got if r["op"] == "added"
        )
        got_removed = sorted(
            tuple(r)[1:] for r in got if r["op"] == "removed"
        )
        assert got_added == want_added, (vf, vt, ops)
        assert got_removed == want_removed, (vf, vt, ops)


# --- leakage-safe split ≡ union-find + md5 replay on random graphs ---------


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=12,
    ),
    n_docs=st.integers(min_value=16, max_value=40),
)
@SLOW
def test_leakage_split_matches_union_find(spark, pairs, n_docs):
    """Representatives equal a driver-side union-find's min roots and
    the bucket equals the md5 fold — for arbitrary pair graphs, so no
    pair can ever straddle splits."""
    import hashlib

    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.splits import leakage_safe_split

    real = [(a, b) for a, b in pairs if a != b]
    if not real:
        return
    parent = list(range(16))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    docs = spark.createDataFrame(
        [(i,) for i in range(n_docs)], "doc_id long"
    )
    prs = spark.createDataFrame(real, "id_a long, id_b long")
    out = {r["doc_id"]: r for r in leakage_safe_split(docs, prs).collect()}
    release("clustering")
    assert len(out) == n_docs
    for i in range(n_docs):
        want_rep = find(i) if i < 16 else i
        assert out[i]["rep"] == want_rep, (i, real)
        want_bucket = (
            int(
                hashlib.md5(str(want_rep).encode()).hexdigest()[:8], 16
            )
            % 10
        )
        assert out[i]["bucket"] == want_bucket
    for a, b in real:
        assert out[a]["split"] == out[b]["split"]


# --- Naive Bayes ≡ python replay on random corpora --------------------------


def _py_nb(rows):
    """Driver-side NB with the same smoothing and Spark's decimal
    HALF_UP round-6 (F.round == BigDecimal(double) HALF_UP ==
    Decimal(float).quantize(HALF_UP))."""
    import math
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(
            Decimal(x).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    toks = {d: t.split() for d, k, t in rows if t.split()}
    lab = {d: k for d, k, _ in rows}
    classes = sorted({lab[d] for d in toks})
    nd = Counter(lab[d] for d in toks)
    ck = defaultdict(Counter)
    for d in toks:
        ck[lab[d]].update(toks[d])
    nk = {k: sum(ck[k].values()) for k in classes}
    vocab = len({w for d in toks for w in toks[d]})
    total = sum(nd.values())
    out = {}
    for d in toks:
        best = None
        for k in classes:
            ll = sum(
                tf
                * math.log2((ck[k].get(w, 0) + 1.0) / (nk[k] + vocab))
                for w, tf in Counter(toks[d]).items()
            )
            score = r6(ll + math.log2(nd[k] / total))
            cand = (-score, k)
            if best is None or cand < best:
                best = cand
        out[d] = (best[1], -best[0])
    return out


TOKENS = st.sampled_from(["aa", "bb", "cc", "dd"])


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.lists(TOKENS, min_size=0, max_size=5),
        ),
        min_size=2,
        max_size=10,
    )
)
@SLOW
def test_nb_matches_python_on_random_corpora(spark, docs):
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.classify import nb_classify_self

    rows = [
        (i, lang, " ".join(ws)) for i, (lang, ws) in enumerate(docs)
    ]
    if not any(t.strip() for _, _, t in rows):
        return
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    got = {
        r["doc_id"]: (r["predicted"], r["score"])
        for r in nb_classify_self(df).collect()
    }
    release("classify")
    assert got == _py_nb(rows)


# --- IR metrics ≡ pure-Python replay on random runs/qrels ------------------


def _py_fx6(x: float) -> float:
    """The portable_round.fx6 construction in plain Python — same
    IEEE ops (floor(x·1e6 + 0.5)/1e6), so bit-equal by definition."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # query
            st.integers(min_value=0, max_value=11),  # doc
            st.integers(min_value=0, max_value=2),   # rel
        ),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_ir_metrics_match_python_replay(spark, data):
    """nDCG/MRR/P/R from the Spark plan equal a direct Python fold
    over the same run/qrels — pins the METRIC SEMANTICS (the oracle
    parity test only pins cross-engine agreement)."""
    import math

    from minisql_engine_spark.operators.retrieval_eval import (
        MACRO,
        ir_metrics,
    )

    k = 4
    qrels = {}
    ranked: dict = {}
    for q, d, rel in data:
        qn = f"q{q}"
        if rel > 0:
            qrels.setdefault(qn, {})[d] = max(
                rel, qrels.get(qn, {}).get(d, 0)
            )
        ranked.setdefault(qn, [])
        if d not in ranked[qn]:
            ranked[qn].append(d)
    run_rows = [
        (qn, d, i + 1)
        for qn, docs in ranked.items()
        for i, d in enumerate(docs)
    ]
    qrel_rows = [
        (qn, d, rel)
        for qn, rels in qrels.items()
        for d, rel in rels.items()
    ]
    run = spark.createDataFrame(
        run_rows, "query_id string, doc_id long, rank long"
    )
    qdf = spark.createDataFrame(
        qrel_rows or [("_none_", -1, 1)],
        "query_id string, doc_id long, rel long",
    )
    got = {
        r["query_id"]: r
        for r in ir_metrics(run, qdf, k=k).collect()
    }

    want = {}
    for qn, docs in ranked.items():
        rels = qrels.get(qn, {})
        top = docs[:k]
        dcg = sum(
            (2 ** rels.get(d, 0) - 1) / math.log2(i + 2)
            for i, d in enumerate(top)
        )
        ideal = sorted(rels.values(), reverse=True)[:k]
        idcg = sum(
            (2 ** r - 1) / math.log2(i + 2)
            for i, r in enumerate(ideal)
        )
        hits = sum(1 for d in top if rels.get(d, 0) > 0)
        first = next(
            (i + 1 for i, d in enumerate(top) if rels.get(d, 0) > 0),
            None,
        )
        want[qn] = dict(
            n_rel=len(rels),
            ndcg=_py_fx6(dcg / idcg) if idcg > 0 else None,
            mrr=(
                (_py_fx6(1.0 / first) if first else 0.0)
                if rels
                else None
            ),
            prec=_py_fx6(hits / k) if rels else None,
            rec=_py_fx6(hits / len(rels)) if rels else None,
        )
    for qn, w in want.items():
        g = got[qn]
        assert g["n_rel"] == w["n_rel"], qn
        assert g["ndcg_at_k"] == w["ndcg"], qn
        assert g["mrr_at_k"] == w["mrr"], qn
        assert g["precision_at_k"] == w["prec"], qn
        assert g["recall_at_k"] == w["rec"], qn
    assert MACRO in got


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-3, max_value=3),
            min_size=4,
            max_size=4,
        ),
        min_size=6,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=3),
)
@SLOW
def test_knn_graph_blocking_matches_python_fold(spark, vecs, k):
    """knn_graph's candidate join + top-k equal a direct Python fold
    over the SAME cell assignments — pins the blocking semantics
    (candidates = members of the source's probe cells, exact rounded
    cosine, (sim DESC, nbr) tie-break) independent of Spark's join
    and window machinery. Assignments are taken from the engine's own
    ivf_assignments so the Lloyd replay (already oracle-pinned) is
    out of scope here."""
    import math

    from minisql_engine_spark.operators.knn_graph import knn_graph
    from minisql_engine_spark.operators.similarity import (
        ivf_assignments,
        ivf_refined_centroids,
    )

    # drop zero vectors (cosine undefined) and dedupe ids
    rows = [
        (i, [float(x) for x in v], 0)
        for i, v in enumerate(vecs)
        if any(x != 0 for x in v)
    ]
    if len(rows) < 3:
        return
    n_cells, n_probe, n_iter = 2, min(2, k), 1
    sdf = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = knn_graph(
        sdf, k=k, n_cells=n_cells, n_iter=n_iter, n_probe=n_probe,
        dims=4,
    ).collect()

    cents = ivf_refined_centroids(
        sdf, n_cells=n_cells, n_iter=n_iter, dims=4
    )
    home = {
        r["vec_id"]: r["cell"]
        for r in ivf_assignments(sdf, cents, n_probe=1).collect()
    }
    probes: dict = {}
    for r in ivf_assignments(sdf, cents, n_probe=n_probe).collect():
        probes.setdefault(r["vec_id"], set()).add(r["cell"])

    by_id = {i: v for i, v, _ in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    want: dict = {}
    for src in by_id:
        cand = [
            n
            for n in by_id
            if n != src and home[n] in probes[src]
        ]
        ranked = sorted(cand, key=lambda n: (-cos(by_id[src], by_id[n]), n))
        want[src] = [
            (n, cos(by_id[src], by_id[n]), i + 1)
            for i, n in enumerate(ranked[:k])
        ]

    got_by_src: dict = {}
    for r in got:
        got_by_src.setdefault(r["src_id"], []).append(
            (r["nbr_id"], r["sim"], r["rank"])
        )
    for src in got_by_src:
        got_by_src[src].sort(key=lambda t: t[2])
    assert got_by_src == {s: w for s, w in want.items() if w}
