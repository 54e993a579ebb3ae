"""Deterministic curriculum ordering of a training corpus.

After curation, mixture, and packing, a training run consumes data in
SOME order — and that order is a lever (curriculum learning: easy →
hard) and a reproducibility requirement (the same corpus must yield
the same batch sequence on every rebuild, or loss curves are not
comparable). Spark offers neither by default: ``DataFrame`` order is
partition-layout-dependent and a naive ``orderBy(rand())`` is
non-reproducible.

``curriculum_order`` assigns every row a total position from two
deterministic keys:

* ``bucket`` — the row's difficulty quantile bucket from a
  caller-supplied score column, thresholds via the package's exact
  interpolated quantiles (``stats.exact_quantiles`` — the
  Spark ``percentile`` / DuckDB ``quantile_cont`` pairing proven
  bit-identical since r5), broadcast as ONE row, bucket = how many
  thresholds the score exceeds;
* ``priority`` — ``md5(seed || id)``, a content-stable shuffle
  WITHIN each bucket that interleaves sources statistically (the
  same md5-priority device as mixture/sampling, so a SQL oracle
  replays the exact permutation).

``position`` = global rank under the total order (bucket, priority,
id). The plan is a genuine range-partitioned sort (r9, after the r8
advisor flagged the old unpartitioned-window shape): rows shuffle
once by the sort key into range shards, sort within each shard, and
position = cumulative preceding-shard count + in-shard record
number — no single-task bottleneck; the only collected table is the
per-shard count vector (partition-count-sized). Positions are
boundary-invariant (the key is unique, so the order is total no
matter where range boundaries land), and the determinism means
re-running the sort yields byte-identical shards, exactly how
``write_training_shards`` consumes it.

Reference contrast: ``sqlengine.py`` has no ordering surface beyond
result formatting; extension (SURVEY §2.4 training-composition
family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 3,
    seed: str = "curriculum",
    ascending: bool = True,
) -> DataFrame:
    """(id_col, bucket, priority, position) — a reproducible global
    training order: difficulty buckets ascend (or descend, for
    anti-curriculum) in ``score_col``, rows shuffle deterministically
    within a bucket.

    EAGER: the call materializes the range-sorted table (persist +
    a partition-count-sized collect of per-shard counts) at call
    time. The persisted table stays cached for reuse; at most two
    distinct ones are held (each call evicts the oldest beyond that:
    an evicted result recomputes to identical positions because the
    sort key is total, so the cap bounds storage without a
    correctness risk)."""
    from minisql_engine_spark.operators.stats import (
        _pname,
        exact_quantiles,
    )

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    qs = tuple(i / n_buckets for i in range(1, n_buckets))
    thr = exact_quantiles(df, score_col, qs)  # ONE row of thresholds
    scored = df.select(
        id_col, F.col(score_col).cast("double").alias("_s")
    ).crossJoin(F.broadcast(thr))
    bucket = sum(
        (F.col("_s") > F.col(_pname(q))).cast("int") for q in qs
    )
    out = scored.select(
        id_col,
        bucket.alias("bucket"),
        F.md5(
            F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
        ).alias("priority"),
    )
    # Global position WITHOUT a single-partition window: range-
    # partition by the total sort key (bucket, priority, id — unique,
    # so the order is total and positions are boundary-invariant),
    # sort within each range shard, then position = cumulative count
    # of the preceding shards + the in-shard record number (decoded
    # from monotonically_increasing_id's documented pid<<33 | local
    # layout). The only collect is the per-shard count table —
    # partition-count-sized, never corpus-sized.
    order_bucket = F.col("bucket") if ascending else F.col("bucket").desc()
    sorted_df = hold(
        out.repartitionByRange(order_bucket, F.col("priority"), F.col(id_col))
        .sortWithinPartitions(order_bucket, F.col("priority"), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id().cast("bigint"))
        .withColumn(
            "_local", F.monotonically_increasing_id() % F.lit(1 << 33)
        )
        .persist(),
        "curriculum",
        keep_last=2,
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in sorted_df.groupBy("_pid")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(
            offsets or [(0, 0)], "_pid bigint, _off bigint"
        )
    )
    return (
        sorted_df.join(off, "_pid")
        .select(
            id_col,
            "bucket",
            "priority",
            (F.col("_off") + F.col("_local") + 1)
            .cast("int")
            .alias("position"),
        )
    )


def curriculum_order_sql(
    score_expr: str,
    table: str = "documents",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    seed: str = "curriculum",
    ascending: bool = True,
) -> str:
    """DuckDB twin of :func:`curriculum_order`: ``quantile_cont``
    thresholds (the proven ``percentile`` pairing), the same
    threshold-exceedance bucket, md5 priority, row_number position."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    tcols = ", ".join(
        f"quantile_cont(s, {q!r}) AS t{i}" for i, q in enumerate(qs)
    )
    bexpr = " + ".join(
        f"CASE WHEN s > t{i} THEN 1 ELSE 0 END" for i in range(len(qs))
    )
    direction = "" if ascending else " DESC"
    return (
        f"WITH cs AS (SELECT {id_col},"
        f"  CAST({score_expr} AS DOUBLE) AS s FROM {table}),"
        f" thr AS (SELECT {tcols} FROM cs),"
        f" pr AS (SELECT {id_col}, CAST({bexpr} AS INT) AS bucket,"
        f"  md5('{seed}:' || CAST({id_col} AS VARCHAR)) AS priority"
        "  FROM cs CROSS JOIN thr)"
        f" SELECT {id_col}, bucket, priority,"
        " CAST(row_number() OVER (ORDER BY bucket"
        f"{direction}, priority, {id_col}) AS INT) AS position FROM pr"
    )
