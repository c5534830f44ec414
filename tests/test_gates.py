"""The gates (top-level ``gates/``) stay outside the engine: the engine
never imports them, no gate holds an executor-side kernel, and the gates
that run Python on executors work where ``gates`` is not importable — as
on a cluster, where only the orthority_spark zip ships to the Python
workers. Every public engine function, class or module-level constant
is reached from a command, gate, benchmark or script, not only from the
tests."""

from __future__ import annotations

import ast
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
#: files whose code counts as a use of the engine: the CLI, the driver
#: contract, the gates, the benchmark and the scripts
ENTRY_POINTS = ("orthority_spark/cli.py", "orthority_spark/__main__.py",
                "__spark_entry__.py", "gates", "perfbench", "scripts")
#: public engine names that only the tests reach. This set may only
#: shrink: route a command or gate through a name, move it into tests/, or
#: delete it. Each one left ports a reference rule that only a new command
#: option could reach:
TEST_ONLY = {
    # camera interior parameters read from EXIF/XMP tags (exif.py:101-363)
    "exif_int_param",
    # camera exterior pose from EXIF GPS/gimbal tags (param_io.py:195-203)
    "exif_ext_param",
    # two-point vertical-datum probe of a job's z transform (ortho.py:144-151)
    "probe_z_transform",
    # the auto-UTM-zone rule from mean lat/lon (common.py:156-161)
    "mean_latlon_zone",
}


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


def _used_names(node: ast.AST) -> set[str]:
    """Identifiers that ``node``'s code uses: names, attribute names and
    imported names. Comments and docstrings do not count."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _unreached_engine_names() -> set[str]:
    """Public top-level functions, classes and constants of
    ``orthority_spark/`` that no entry point reaches. Names resolve by
    identifier alone, so a name reached in one module counts as reached
    in all."""
    entries = [Path(ROOT, e) for e in ENTRY_POINTS]
    files = [f for e in entries for f in ([e] if e.is_file() else e.rglob("*.py"))]
    seeds = set().union(*(_used_names(ast.parse(f.read_text())) for f in files))
    defs: dict[str, list[ast.AST]] = {}
    public = set()
    for path in Path(ROOT, "orthority_spark").rglob("*.py"):
        if path in entries:
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                if not node.name.startswith("_"):
                    public.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append(node)
                            if not n.id.startswith("_"):  # dunders too
                                public.add(n.id)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                seeds |= _used_names(node)  # runs at import time
    reached, todo = set(), list(seeds)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for node in defs.get(name, ()):
                todo.extend(_used_names(node) - reached)
    return public - reached


def test_engine_ships_only_reached_code():
    """An engine name that only tests use is either a test twin (it
    belongs in tests/) or dead code; TEST_ONLY lists the ones left."""
    unreached = _unreached_engine_names()
    assert not unreached - TEST_ONLY, "reached only from tests: " + ", ".join(
        sorted(unreached - TEST_ONLY))
    assert not TEST_ONLY - unreached, "drop from TEST_ONLY: " + ", ".join(
        sorted(TEST_ONLY - unreached))
