"""The benchmark's own self-test, at toy sizes, on every default
workload: each run is ``correct`` with nothing failed, every declared
metric prints with its unit, traced spans nest, and count metrics repeat
exactly (perfbench/selftest.py)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest():
    proc = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
