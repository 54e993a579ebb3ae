"""Session defaults: with ``SPARK_GRAFT_CPUS`` unset, ``get_spark`` sizes
the local master and the shuffle partitions to the CPUs the process may
run on; a set ``SPARK_GRAFT_CPUS`` still wins. Each case runs in a fresh
interpreter, since the default is read at import."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, **env_overrides: str) -> list[str]:
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER")
    }
    env.update(env_overrides)
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=180,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout.split()


@pytest.mark.slow
def test_default_cpus_follow_affinity_when_unset():
    n = len(os.sched_getaffinity(0))
    out = _run(
        "from minisql_engine_spark import get_spark\n"
        "s = get_spark('session-default-probe')\n"
        "print(s.sparkContext.master,"
        " s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    assert out == [f"local[{n}]", str(n)]


def test_explicit_cpus_win():
    out = _run(
        "from minisql_engine_spark.session import DEFAULT_CPUS\n"
        "print(DEFAULT_CPUS)\n",
        SPARK_GRAFT_CPUS="3",
    )
    assert out == ["3"]
