"""Leakage-safe splits — structural guarantee, determinism, balance."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from minisql_engine_spark.materialize import release
from minisql_engine_spark.operators.splits import leakage_safe_split


def _docs(spark, n=60):
    return spark.createDataFrame(
        [(i,) for i in range(n)], "doc_id long"
    )


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _py_bucket(rep: int, n_buckets: int = 10) -> int:
    return int(hashlib.md5(str(rep).encode()).hexdigest()[:8], 16) % n_buckets


def test_pairs_never_straddle_and_singletons_self(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (40, 41), (41, 42), (42, 43)]
    out = leakage_safe_split(_docs(spark), _pairs(spark, pairs)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 60
    for a, b in pairs:
        assert by_id[a]["split"] == by_id[b]["split"]
        assert by_id[a]["rep"] == by_id[b]["rep"]
    # transitivity: 1-2-3 one cluster, 40..43 one cluster
    assert by_id[1]["rep"] == by_id[3]["rep"] == 1
    assert by_id[40]["rep"] == by_id[43]["rep"] == 40
    # singleton: own id is the representative
    assert by_id[25]["rep"] == 25
    release("clustering")


def test_bucket_matches_hashlib_and_mapping(spark):
    out = leakage_safe_split(
        _docs(spark), _pairs(spark, [(1, 2)])
    ).collect()
    for r in out:
        b = _py_bucket(r["rep"])
        assert r["bucket"] == b
        want = "train" if b < 8 else ("val" if b == 8 else "test")
        assert r["split"] == want
    release("clustering")


def test_assignment_stable_under_corpus_growth(spark):
    """Hash assignment is per-representative: adding documents never
    moves an existing doc's split (the re-sharding stability the
    operator promises)."""
    pairs = _pairs(spark, [(3, 4)])
    small = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(_docs(spark, 20), pairs).collect()
    }
    big = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(_docs(spark, 60), pairs).collect()
    }
    assert all(big[i] == small[i] for i in small)
    release("clustering")


def test_split_fractions_roughly_respected(spark):
    out = leakage_safe_split(_docs(spark, 500), _pairs(spark, [(0, 1)]))
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)
    # md5 buckets of 0..499: expect ~80/10/10 with slack
    assert 0.7 <= counts["train"] / 500 <= 0.9
    release("clustering")


def test_custom_bucket_weights(spark):
    out = leakage_safe_split(
        _docs(spark, 100),
        _pairs(spark, [(0, 1)]),
        n_buckets=4,
        train_buckets=2,
        val_buckets=1,
    ).collect()
    for r in out:
        b = int(
            hashlib.md5(str(r["rep"]).encode()).hexdigest()[:8], 16
        ) % 4
        want = "train" if b < 2 else ("val" if b == 2 else "test")
        assert r["split"] == want
    release("clustering")


def test_split_plan_broadcasts_component_map(spark):
    """The corpus-side left join must broadcast the pair-graph-sized
    component map — the corpus itself never shuffles (the 100 TB
    contract in the module docstring)."""
    out = leakage_safe_split(
        _docs(spark, 200), _pairs(spark, [(1, 2), (2, 3)])
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    release("clustering")
