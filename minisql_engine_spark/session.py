"""SparkSession factory.

The reference engine is one Python process holding the whole database
in memory (``sqlengine.py:720-751, 99-154``). Our equivalent of "the
engine is up" is a tuned ``SparkSession``: AQE enabled so joins/skew
re-plan at runtime, Arrow enabled for the Pandas-UDF extension
operators, and a shuffle-partition default sized to the local core
count while remaining overridable for cluster deployment.

Scale notes (100 TB design):
* ``spark.sql.adaptive.enabled``: runtime coalescing of shuffle
  partitions + skew-join splitting — required at cluster scale, free
  locally.
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on
  a real cluster set it ≈ 2-3× total executor cores (or rely on AQE
  initial partition num). We default to the local core count.
* We deliberately do NOT set ``spark.sql.ansi.enabled`` off/on here:
  Spark 4 defaults ANSI on, which matches the DuckDB oracle for
  casts/overflow.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def get_spark(
    app_name: str = "minisql_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Parameters mirror what a cluster deployment would override; defaults
    target local[$SPARK_GRAFT_CPUS], or one thread per CPU this process
    may run on when that is unset.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_CPUS),
        )
        # Dimension tables (region/nation/supplier/part at test SF) stay
        # broadcast-able; 64 MB is a sane cluster default too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def scale_shuffle_partitions(
    spark: SparkSession,
    input_bytes: int | None = None,
    df=None,
    target_partition_bytes: int = 128 * 1024 * 1024,
    min_partitions: int | None = None,
    max_partitions: int = 100_000,
) -> int:
    """Size ``spark.sql.shuffle.partitions`` to the workload.

    The 100 TB sizing rule: partitions ≈ shuffled-bytes / 128 MB so
    each task's state fits executor memory without spilling, bounded
    below by the cluster's parallelism and above by scheduler sanity.
    Pass either ``input_bytes`` or a DataFrame (its optimizer size
    estimate is used). AQE still coalesces downward at runtime — this
    sets the pre-AQE upper bound high enough that no single partition
    explodes.

    Returns the partition count that was set.
    """
    if input_bytes is None:
        if df is None:
            raise ValueError("pass input_bytes or df")
        input_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    floor_parts = min_partitions or spark.sparkContext.defaultParallelism
    n = max(floor_parts, min(max_partitions, -(-input_bytes // target_partition_bytes)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n
