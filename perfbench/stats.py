"""Robust per-run statistics used by the benchmark and its README."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (NaN when the
    median is 0, as for a layer the workload does not reach)."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("nan")


def main(paths: list[str]) -> None:
    """Summarize result lines: ``python3 perfbench/stats.py out1.json
    out2.json ...``, each file holding one run's last stdout line.
    Prints each metric's q1, median, q3 and spread over the runs."""
    import json

    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append(json.loads(fh.read().strip().splitlines()[-1]))
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = quartiles(values)
        print(f"{name}: q1={q1:.6g} median={q2:.6g} q3={q3:.6g} spread={spread(values):.3f}")
    print(f"failed/attempted: {sorted({(r['failed'], r['attempted']) for r in runs})}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
