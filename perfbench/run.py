"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_interactive --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. One process starts one ``local[nproc]``
Spark session through the engine's own ``get_spark`` (with
``SPARK_GRAFT_CPUS`` set to the CPUs this process may use), loads the
workload's seeded inputs, runs its warm-up, then measures a fixed
number of whole passes of the workload's ops (one client, closed loop),
sized so that the measured phase lasts about ``--seconds`` on a 4-CPU
host (at least one pass). Times are net of host steal (see
``probes.unstolen``). Outputs are checked after the timed phase. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "op_geomean_ms": "ms",
}

OP_KINDS = (
    "sql_star", "sql_agg", "sql_project", "sql_distinct", "sql_filter",
    "sql_cross", "sql_join",
    "cur_funnel", "cur_minhash", "cur_semdedup",
    "stream_admit", "stream_read_latest", "stream_read_version",
    "stream_read_agg", "stream_replay",
)

# Per-layer metrics of the traced run. A layer the workload does not
# reach reads 0.
LAYERS = {
    "session.get_spark_s": "s",
    "sources.load_ms": "ms",
    "sources.read_snapshot_ms": "ms",
    "sources.files_written": "count",
    "sources.bytes_on_disk_per_input_byte": "ratio",
    "plans.rewrite_query_us": "us",
    "plans.run_sql_ms": "ms",
    "format.qualified_headers_ms": "ms",
    "format.ascii_table_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "cache.persisted_per_op": "count",
    "cache.storage_mb_per_op": "MB",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.trigger_ms": "ms",
    "cpu.s_per_op": "s",
    "memory.peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "host.cpu_pressure_pct": "%",
}
for _k in OP_KINDS:
    LAYERS.update({f"op.{_k}.ms": "ms", f"op.{_k}.jobs": "count",
                   f"op.{_k}.stages": "count", f"op.{_k}.tasks": "count"})


def _args(argv):
    ap = argparse.ArgumentParser(description="minisql_engine_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("sql_interactive", "curation_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment() -> None:
    """Size Spark to this process's CPUs and keep every scratch file
    inside the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    import probes

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while len(probes.process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in probes.process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(1, ROOT)
    if importlib.util.find_spec("minisql_engine_spark") is None:
        print("minisql_engine_spark is not importable from the current "
              "directory; run from the repository root", file=sys.stderr)
        return 2

    t_gen = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"),
         "--workload", args.workload, "--seed", str(args.seed)],
        check=True, capture_output=True, text=True,
    )
    t_gen_end = time.perf_counter()
    data_dir = gen.stdout.strip().splitlines()[-1]
    with open(os.path.join(data_dir, "truth.json")) as fh:
        truth = json.load(fh)

    import probes

    host_setup = probes.host_counters()
    shutil.rmtree(WORK, ignore_errors=True)
    _environment()

    import numpy as np

    import stats
    from workloads import WORKLOADS

    layers: dict | None = {} if args.trace else None
    t = time.perf_counter()
    from minisql_engine_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, data_dir, truth, layers, WORK)
        counts = probes.SparkCounts(spark) if args.trace else None
        wl.load()
        wl.warmup()
        # input generation is not set-up; the rest is, net of steal
        setup_wall = time.perf_counter() - t_gen_end
        setup_s = t_gen - T_START + probes.unstolen(
            setup_wall, host_setup, probes.host_counters())

        samples: dict[str, list[float]] = {}  # unstolen latencies
        raw: dict[str, list[float]] = {}      # wall latencies
        outputs: list[tuple[str, object]] = []
        raised = 0
        per_kind: dict[str, list[tuple[int, int, int]]] = {}
        held: list[tuple[int, float]] = []
        cpu0, host0 = probes.thread_cpu(probes.process_tree()), probes.host_counters()
        t_phase = time.perf_counter()
        n_passes = max(1, round(args.seconds / wl.PASS_S))
        for n_pass in range(n_passes):
            for kind, fn in wl.pass_ops(np.random.default_rng([args.seed, n_pass])):
                if counts:
                    counts.mark()
                c_op = probes.host_counters()
                t = time.perf_counter()
                try:
                    out = fn()
                except Exception as exc:  # an op that fails is counted, not fatal
                    print(f"op {kind} failed: {exc!r}"[:2000], file=sys.stderr)
                    raised += 1
                    out = None
                lat = time.perf_counter() - t
                raw.setdefault(kind, []).append(lat)
                samples.setdefault(kind, []).append(
                    probes.unstolen(lat, c_op, probes.host_counters()))
                if out is not None:
                    outputs.append((kind, out))
                if counts:
                    per_kind.setdefault(kind, []).append(counts.counts())
                    held.append(counts.persisted())
                wl.after_op(kind)
        wall = time.perf_counter() - t_phase
        pids1 = probes.process_tree()
        cpu1, host1 = probes.thread_cpu(pids1), probes.host_counters()
        peak_rss = probes.tree_peak_rss_mb(pids1)
        attempted = sum(len(v) for v in samples.values())

        expected = wl.expected()
        mismatched = 0
        for kind, out in outputs:
            problems = wl.check(kind, out, expected)
            if problems:
                mismatched += 1
                print(f"check {kind}: {problems}"[:2000], file=sys.stderr)
    finally:
        _stop(spark)

    steal_pct = 100.0 * probes.busy_steal_share(host0, host1)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": attempted / probes.unstolen(wall, host0, host1),
        "op_geomean_ms": stats.geomean([stats.median(v) * 1e3 for v in samples.values()]),
    }
    cpu_s_per_op = probes.cpu_seconds_between(cpu0, cpu1) / attempted
    wall_figures = {
        "setup_s": setup_wall + t_gen - T_START,
        "ops_per_s": attempted / wall,
        "op_geomean_ms": stats.geomean([stats.median(v) * 1e3 for v in raw.values()]),
    }
    print("end-to-end: " + json.dumps({k: round(v, 4) for k, v in e2e.items()})
          + " wall: " + json.dumps({k: round(v, 4) for k, v in wall_figures.items()})
          + f" cpu_s_per_op={cpu_s_per_op:.4f} peak_rss_mb={peak_rss:.1f} steal_pct={steal_pct:.2f}"
          + f" passes={n_passes} op_median_ms="
          + json.dumps({k: round(stats.median(v) * 1e3, 1) for k, v in samples.items()}),
          file=sys.stderr)
    if args.trace:
        layer = {k: 0.0 for k in LAYERS}
        layer.update({k: stats.median(v) for k, v in layers.items()})
        jobs = [c for v in per_kind.values() for c in v]
        layer.update({
            "session.get_spark_s": get_spark_s,
            "spark.jobs_per_op": sum(c[0] for c in jobs) / len(jobs),
            "spark.stages_per_op": sum(c[1] for c in jobs) / len(jobs),
            "spark.tasks_per_op": sum(c[2] for c in jobs) / len(jobs),
            "cache.persisted_per_op": sum(h[0] for h in held) / len(held),
            "cache.storage_mb_per_op": sum(h[1] for h in held) / len(held),
            "cpu.s_per_op": cpu_s_per_op,
            "memory.peak_rss_mb": peak_rss,
            "host.steal_pct": steal_pct,
            "host.cpu_pressure_pct": (host1[2] - host0[2]) / (wall * 1e4),
        })
        for kind, v in samples.items():
            layer[f"op.{kind}.ms"] = stats.median(v) * 1e3
            for i, what in enumerate(("jobs", "stages", "tasks")):
                layer[f"op.{kind}.{what}"] = stats.median([c[i] for c in per_kind[kind]])
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": mismatched == 0,
        "attempted": attempted,
        "failed": raised + mismatched,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
