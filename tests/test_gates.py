"""The gates (top-level ``gates/``) stay outside the engine: the engine
never imports them, no gate holds an executor-side kernel, and the gates
that run Python on executors work where ``gates`` is not importable — as
on a cluster, where only the orthority_spark zip ships to the Python
workers."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from test_oracle_parity import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KERNEL_WORDS = ("mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
                "pandas_udf", "udf(", "sparkContext.broadcast")
EXECUTOR_GATES = ["remap_pixels", "remap_pixels_cubic", "undistort_pixels",
                  "ray_dem_footprints", "fit_exterior", "image_features",
                  "dem_z_sample"]


def _python(code: str, cwd: str) -> str:
    """Run ``code`` in a fresh interpreter from ``cwd`` (no PYTHONPATH),
    with the repo root on its own sys.path only: Python workers it starts
    cannot import ``gates``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = f"import sys\nsys.path.insert(0, {ROOT!r})\n{code}"
    proc = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    return proc.stdout


def test_engine_never_imports_gates(tmp_path):
    out = _python("""
import importlib, pkgutil
import orthority_spark
mods = [importlib.import_module(m.name) for m in pkgutil.walk_packages(
    orthority_spark.__path__, "orthority_spark.")]
print(len(mods), sorted(n for n in sys.modules if n.split(".")[0] == "gates"))
""", str(tmp_path))
    n, gates = out.split(" ", 1)
    assert int(n) > 40 and gates.strip() == "[]"


def test_gates_hold_no_kernels():
    for path in Path(ROOT, "gates").glob("*.py"):
        src = path.read_text()
        for word in KERNEL_WORDS:
            assert word not in src, (path.name, word)


def test_executor_gates_run_where_gates_is_not_importable(tmp_path):
    out = _python(f"""
import __spark_entry__ as e
from orthority_spark.session import get_spark

def probe(it):
    import importlib.util
    import pyarrow as pa
    for _ in it:
        yield pa.RecordBatch.from_pylist(
            [{{"found": importlib.util.find_spec("gates") is not None}}])

spark = get_spark(master="local[2]", shuffle_partitions=4)
qs = e.queries()
for name in {EXECUTOR_GATES!r}:
    print(name, len(qs[name](spark, {SF_DIR!r}).collect()))
print("worker_sees_gates", spark.range(1).mapInArrow(probe, "found boolean")
      .first().found)
spark.stop()
""", str(tmp_path))
    rows = dict(line.split() for line in out.strip().splitlines()[-8:])
    assert rows.pop("worker_sees_gates") == "False"
    assert set(rows) == set(EXECUTOR_GATES)
    assert all(int(n) > 0 for n in rows.values()), rows
