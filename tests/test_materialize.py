"""The materialization registry: hold / release / held."""

from __future__ import annotations

import pytest

from minisql_engine_spark.materialize import held, hold, release


def _stored_rdds(spark) -> set[int]:
    """Ids of the RDDs that hold cached or checkpointed blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos}


def _table(spark, n: int):
    return spark.range(n).selectExpr("id", "id * 7 % 13 AS v")


def _owned(owner: str) -> list[tuple[str, str]]:
    return [e for e in held() if e[0] == owner]


def test_release_frees_persist_and_lazy_checkpoint(spark):
    before = _stored_rdds(spark)
    p = hold(_table(spark, 100).persist(), "t_free")
    c = hold(_table(spark, 200).localCheckpoint(eager=False), "t_free")
    assert p.count() == 100 and c.count() == 200
    assert _owned("t_free") == [
        ("t_free", "persist"),
        ("t_free", "checkpoint"),
    ]
    assert len(_stored_rdds(spark) - before) == 2
    release()
    assert not _stored_rdds(spark) - before
    assert not held()


def test_release_by_owner_leaves_other_owners_held(spark):
    before = _stored_rdds(spark)
    a = hold(_table(spark, 10).persist(), "t_a")
    b = hold(_table(spark, 20).persist(), "t_b")
    assert a.count() == 10 and b.count() == 20
    release("t_a")
    assert not _owned("t_a")
    assert _owned("t_b") == [("t_b", "persist")]
    assert len(_stored_rdds(spark) - before) == 1
    release("t_b")
    assert not _owned("t_b")
    assert not _stored_rdds(spark) - before


def test_keep_last_bounds_distinct_plans_and_dedupes_same_plan(spark):
    before = _stored_rdds(spark)
    dfs = []
    for n in (30, 40, 50):
        df = hold(_table(spark, n).persist(), "t_keep", keep_last=2)
        df.count()
        dfs.append(df)
    assert len(_owned("t_keep")) == 2
    # the oldest distinct plan was evicted: two stored tables remain
    assert len(_stored_rdds(spark) - before) == 2
    # a same-plan re-hold shares the held entry's cache: no-op
    again = hold(_table(spark, 50).persist(), "t_keep", keep_last=2)
    assert again.count() == 50
    assert len(_owned("t_keep")) == 2
    assert len(_stored_rdds(spark) - before) == 2
    release("t_keep")
    assert not _stored_rdds(spark) - before


def test_hold_rejects_an_unmaterialized_frame(spark):
    with pytest.raises(ValueError):
        hold(_table(spark, 5), "t_bad")
    assert not _owned("t_bad")
