"""Connected-components / dedup-cluster resolution tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

pytestmark = pytest.mark.driver_gate

from minisql_engine_spark.materialize import release
from minisql_engine_spark.operators.clustering import (
    connected_components,
    dedup_clusters,
)


@pytest.fixture(autouse=True)
def _release_cache():
    yield
    release("clustering")


def _components(spark, pairs):
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    rows = connected_components(df).collect()
    return {r["id"]: r["component"] for r in rows}


def test_clique_chain_and_isolated_pair(spark):
    # clique {1,2,3}, chain 10-11-12-13 (diameter 3), pair {20,21}
    comp = _components(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
    )
    assert comp == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_long_chain_converges(spark):
    # a 17-node path — needs several propagation rounds, well under
    # max_iter; every node must reach the global min label
    pairs = [(i, i + 1) for i in range(100, 116)]
    comp = _components(spark, pairs)
    assert set(comp.values()) == {100}
    assert len(comp) == 17


def test_reversed_and_duplicate_edges(spark):
    # direction and multiplicity must not matter
    comp = _components(spark, [(5, 4), (4, 5), (4, 3), (5, 3), (3, 4)])
    assert comp == {3: 3, 4: 3, 5: 3}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_max_iter_warns_but_bounds(spark):
    pairs = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    with pytest.warns(UserWarning, match="not converged"):
        out = connected_components(df, max_iter=1).collect()
    # still a valid (partial) labelling: labels ≤ own id
    assert all(r["component"] <= r["id"] for r in out)


def test_dedup_clusters_roster(spark):
    df = spark.createDataFrame([(7, 9), (9, 8), (30, 31)], ["id_a", "id_b"])
    rows = dedup_clusters(df).collect()
    roster = {(r["component"], r["member_id"]): r["is_canonical"] for r in rows}
    assert roster == {
        (7, 7): True, (7, 8): False, (7, 9): False,
        (30, 30): True, (30, 31): False,
    }


def test_lineage_stays_flat(spark):
    """The iteration must checkpoint-and-swap, not stack lineage: the
    label table feeds each round twice, so lazy composition doubles
    the logical plan per round (2^k subtrees — a 17-round chain OOMed
    the JVM printing the plan before localCheckpoint was used). The
    final plan must be a flat read of a materialized RDD, constant
    size regardless of iteration count."""
    pairs = [(i, i + 1) for i in range(1, 9)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = connected_components(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "ExistingRDD" in plan
    assert len(plan) < 2000, f"plan not truncated ({len(plan)} chars)"


# ---------------------------------------------------------------------------
# Property: distributed CC ≡ union-find on random graphs
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id labels
    return {x: find(x) for x in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=30,
    )
)
def test_cc_equals_union_find(spark, pairs):
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    release("clustering")
    assert got == _union_find_components(pairs)


# --- alternating star contraction (Kiveris SoCC'14) -------------------------


def test_star_contraction_equals_propagation_basic(spark):
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    pairs = [(1, 2), (2, 3), (10, 11), (40, 41), (41, 42), (5, 5)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    got_df, rounds = connected_components_star(df)
    got = {(r["id"], r["component"]) for r in got_df.collect()}
    # node 5 appears ONLY in a self-pair: both variants must label it
    # with itself (the same-surface contract)
    assert (5, 5) in got
    assert got == want
    assert rounds <= 5
    release("clustering")


def test_star_contraction_chain_is_logarithmic(spark):
    """A 60-node path needs ~60 label-propagation rounds but only
    O(log n) contraction rounds — the adversarial-diameter scale
    claim, measured."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.clustering import (
        connected_components_star,
    )

    n = 60
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    labels, rounds = connected_components_star(df)
    rows = labels.collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n + 1
    assert rounds <= 14, rounds
    release("clustering")


def test_star_contraction_empty_and_single_edge(spark):
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.clustering import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    labels, _ = connected_components_star(empty)
    assert labels.count() == 0
    one = spark.createDataFrame([(7, 3)], "id_a long, id_b long")
    labels, rounds = connected_components_star(one)
    assert {
        (r["id"], r["component"]) for r in labels.collect()
    } == {(7, 3), (3, 3)}
    release("clustering")
