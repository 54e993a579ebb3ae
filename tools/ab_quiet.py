"""Quiet interleaved A/B with per-run job counts — the r12
attribution protocol (BASELINE.md r12 section) as a one-command
tool, so "biggest unattributed mover" verdicts get measured, not
argued.

For each named query (suspects first, trusted rulers after), every
pass runs warm → timed → cache-clear exactly like bench.py; passes
interleave all names in shuffled order so a transient load spike
can't land on one query's whole sample set. The timed run executes
inside a Spark job group, so the scheduler's job count for the run
comes from the status tracker — the separating measurement between
"the host's per-job latency is inflated today" (job-dense rows move,
sec/job is flat across the class) and "the operator regressed"
(sec/job moves).

Usage (quiet machine, no concurrent pytest)::

    python tools/ab_quiet.py drift_from_views \
        --rulers nb_doc_classifier,line_dedup_boilerplate,knn_graph_cells,doremi_mixture_weights \
        --samples 4
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
    ap.add_argument("suspects", nargs="+")
    ap.add_argument("--rulers", default="")
    ap.add_argument("--samples", type=int, default=4)
    args = ap.parse_args()
    rulers = [r for r in args.rulers.split(",") if r]
    names = list(dict.fromkeys(args.suspects + rulers))

    from minisql_engine_spark import get_spark
    from minisql_engine_spark.sources import load_tables

    spark = get_spark("ab-quiet", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    em = importlib.import_module("__spark_entry__")
    qs = {**em.queries(), **em.archived_queries()}
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    import bench as _b

    force = _b._force
    # same warmup as bench.py: parquet footers + codegen
    for df in load_tables(spark, SF_DIR).values():
        df.count()
    force(em.flagship(spark, SF_DIR))

    # bench.py keeps its cache-clear closure inside main(); rebuild
    # the same clears here
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.lm_score import clear_lm_frozen_cache

    def clear() -> None:
        release()
        clear_lm_frozen_cache()

    samples: dict[str, list[tuple[float, int]]] = {n: [] for n in names}
    rng = random.Random(0xAB)
    for p in range(args.samples):
        sc._jvm.System.gc()
        order = names[:]
        rng.shuffle(order)
        for name in order:
            force(qs[name](spark, SF_DIR))  # warm
            group = f"ab_{name}_{p}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            force(qs[name](spark, SF_DIR))  # timed
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            clear()
            samples[name].append((dt, jobs))
            print(
                f"  pass {p} {name}: {dt:.2f}s, {jobs} jobs",
                flush=True,
            )

    print(f"\n== quiet A/B @ {SF_DIR}, min of {args.samples} ==")
    for n in names:
        best = min(t for t, _ in samples[n])
        jobs = max(j for _, j in samples[n])
        tag = "SUSPECT" if n in args.suspects else "ruler"
        print(
            f"{n:34s} {tag:8s} min {best:6.2f}s  jobs/run {jobs:3d}"
            f"  sec/job {best / max(jobs, 1):.3f}"
        )


if __name__ == "__main__":
    main()
