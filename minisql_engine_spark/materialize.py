"""One registry for materialized intermediates.

Operators that persist or local-checkpoint a DataFrame they reuse
register it here with :func:`hold`; callers free what is held with
:func:`release`. Nothing else in the package knows how intermediates
are held or released.

Release only between runs: a released local checkpoint cannot be
recomputed (its lineage was cut), so any DataFrame still derived from
it fails on its next action. ``spark.catalog.clearCache()`` does not
free local-checkpoint blocks; :func:`release` unpersists their RDD.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HELD: list[tuple[str, str, DataFrame]] = []


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    """Spark's ``sameResult`` on the analyzed plans — the predicate
    its CacheManager uses for cache hits."""
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return False


def _kind(df: DataFrame) -> str:
    if df.is_cached:
        return "persist"
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return "checkpoint"
    raise ValueError("hold() takes a persisted or checkpointed DataFrame")


def hold(df: DataFrame, owner: str, keep_last: int | None = None) -> DataFrame:
    """Register a persisted or local-checkpointed ``df`` under
    ``owner`` and return it.

    With ``keep_last``, ``owner`` keeps at most that many entries:
    the oldest beyond it is released. Spark's cache is keyed by plan,
    not by DataFrame object, so two same-plan persists share ONE
    cache entry and unpersisting either drops it for both; a
    same-plan re-hold is therefore a no-op, and eviction only ever
    frees genuinely distinct plans (without the dedupe, a warm→timed
    call pair evicted the entry the live call was reusing: measured
    as knn_graph_refine's run-over-run 4.2 s → 6.5 s decay).
    """
    entry = (owner, _kind(df), df)
    if keep_last is not None:
        mine = [e for e in _HELD if e[0] == owner]
        if any(_same_plan(df, e[2]) for e in mine):
            return df
        for old in mine[: max(0, len(mine) + 1 - keep_last)]:
            _HELD.remove(old)
            _free(old)
    _HELD.append(entry)
    return df


def _free(entry: tuple[str, str, DataFrame]) -> None:
    _, kind, df = entry
    try:
        if kind == "persist":
            df.unpersist()
        else:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # session already stopped: nothing left to free


def release(owner: str | None = None) -> None:
    """Free every intermediate held by ``owner`` (all owners when
    None): persisted entries are unpersisted, local checkpoints have
    their RDD unpersisted."""
    keep = []
    for entry in _HELD:
        if owner is None or entry[0] == owner:
            _free(entry)
        else:
            keep.append(entry)
    _HELD[:] = keep


def held() -> list[tuple[str, str]]:
    """``(owner, kind)`` for every held entry, oldest first; kind is
    ``"persist"`` or ``"checkpoint"``."""
    return [(owner, kind) for owner, kind, _ in _HELD]
