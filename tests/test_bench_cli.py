"""The query bench validates its environment before it starts Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("cpus", ["abc", "0", "-2", "4.5", ""])
def test_bad_cpu_count_exits_fast(cpus):
    env = {**os.environ, "SPARK_GRAFT_CPUS": cpus}
    t0 = time.perf_counter()
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")], env=env,
                          capture_output=True, text=True, timeout=60, cwd=ROOT)
    assert proc.returncode != 0
    assert "SPARK_GRAFT_CPUS must be a positive integer" in proc.stderr
    assert proc.stdout == ""
    assert time.perf_counter() - t0 < 30
