"""A/B a session-config override over a query subset.

Same warm->timed->clear protocol as tools/ab_quiet.py, but the
session is built with ``--conf k=v`` overrides, so a config candidate
can be measured against the stock session (run the script twice) on
the same quiet box. Prints per-query min plus job counts.

Usage::

    python tools/conf_ab.py q1 q2 --samples 2 \
        --conf spark.sql.adaptive.coalescePartitions.parallelismFirst=false
"""

from __future__ import annotations

import argparse
import importlib
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from minisql_engine_spark import get_spark
    from minisql_engine_spark.sources import load_tables

    bad = [c for c in args.conf if "=" not in c]
    if bad:  # an opaque ValueError named nothing (ADVICE r14)
        raise SystemExit(f"--conf must be key=value, got: {bad}")
    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark("conf-ab", shuffle_partitions=CPUS, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    em = importlib.import_module("__spark_entry__")
    qs = {**em.queries(), **em.archived_queries()}
    qs["flagship"] = em.flagship

    import bench as _b

    force = _b._force
    for df in load_tables(spark, SF_DIR).values():
        df.count()
    force(em.flagship(spark, SF_DIR))

    # same cache clears as bench.py
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.lm_score import clear_lm_frozen_cache

    def clear() -> None:
        release()
        clear_lm_frozen_cache()

    names = args.names
    samples: dict[str, list[float]] = {n: [] for n in names}
    rng = random.Random(0xC0)
    for p in range(args.samples):
        sc._jvm.System.gc()
        order = names[:]
        rng.shuffle(order)
        for name in order:
            force(qs[name](spark, SF_DIR))
            group = f"cab_{name}_{p}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            force(qs[name](spark, SF_DIR))
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            clear()
            samples[name].append(dt)
            print(f"  pass {p} {name}: {dt:.2f}s, {jobs} jobs", flush=True)

    print(f"\n== conf A/B @ {SF_DIR} conf={extra} ==")
    for n in names:
        print(f"{n:36s} min {min(samples[n]):6.2f}s")


if __name__ == "__main__":
    main()
