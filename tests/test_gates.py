"""The gates (top-level ``gates/``) stay outside the engine: the engine
never imports them, no gate holds an executor-side kernel, and the gates
that run Python on executors work where ``gates`` is not importable — as
on a cluster, where only the orthority_spark zip ships to the Python
workers. Every public engine function, class, method or module-level
constant is reached from a command, gate, benchmark or script, not only
from the tests, and every defaulted parameter of them is set there to
something other than its default."""

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
#: parameters that only the tests set to anything but their default. This
#: set may only shrink, like TEST_ONLY; each one left:
TEST_SET = {
    # a deployment setting: the name a cluster's UI and logs show
    "get_spark(app_name)",
    # the CLI's test seam: commands run in-process on a test's argv
    "main(argv)",
    # IVF probe count: a test widens it to check recall
    "ann_ivf(nprobe)",
    # the reference's partial DEM fixture: its upper triangle is nodata
    "fixture_dem(partial)",
    # user pan-sharpening band weights (the reference's test_weights_user)
    "gs_params(weights)",
    # scan parallelism floor: a test forces the repartition on a tiny table
    "parallel_read(min_partitions)",
    # footprint plane height, set by the vertical-datum tests
    "records_for_models(z)",
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


def _used_names(nodes: list[ast.AST]) -> set[str]:
    """Identifiers that the code of ``nodes`` uses: names, attribute names
    (also as ``.attr``, the only way a method is reached) and imported
    names. Comments and docstrings do not count."""
    out = set()
    for n in (n for node in nodes for n in ast.walk(node)):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out |= {n.attr, "." + n.attr}
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _defaulted(fn: ast.FunctionDef, bound: bool) -> tuple[list[str], dict]:
    """(the names a call's positional arguments bind to, {defaulted
    parameter: default}) of ``fn``; ``bound`` drops ``self``/``cls``."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    dflt.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return pos[1:] if bound else pos, dflt


def _scan_engine() -> tuple[set[str], set[str]]:
    """(public names, unset parameters) of ``orthority_spark/`` that no
    entry point reaches, as ``name``, ``Class.method`` and
    ``callee(parameter)``.

    A top-level function, class or constant is reached when its name is
    used from an entry point or from reached engine code; a public method
    only when its attribute name is (dunders are reached with their
    class). Names resolve by identifier alone, so a name reached in one
    module counts as reached in all.

    A defaulted parameter of a public function, method or constructor
    (``__init__``; dataclass fields are records, not options) is set only
    when a call in that same code passes it a value other than its
    default, compared after resolving module constants. Calls resolve by
    the callee's identifier too. A ``*``/``**`` splat passes every
    parameter, and so does any call of a function the code uses as a
    value (``fn = table[kind]; fn(...)``)."""
    entries = [Path(ROOT, e) for e in ENTRY_POINTS]
    files = [f for e in entries for f in ([e] if e.is_file() else e.rglob("*.py"))]
    code = [ast.parse(f.read_text()) for f in files]
    defs: dict[str, list[list[ast.AST]]] = {}  # name or .method -> code
    public: dict[str, str] = {}  # name or .method -> label
    sigs: dict[str, list] = {}  # callee -> [(label, positional, defaults)]
    consts: dict[str, str] = {}
    for path in Path(ROOT, "orthority_spark").rglob("*.py"):
        body = ast.parse(path.read_text()).body
        for node in body:
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                try:
                    consts[node.targets[0].id] = repr(ast.literal_eval(node.value))
                except (AttributeError, ValueError):
                    pass
            if (isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
                    and node.name not in TEST_ONLY):
                sigs.setdefault(node.name, []).append(
                    (node.name, *_defaulted(node, False)))
        if path in entries:
            continue
        for node in body:
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append([node])
                if not node.name.startswith("_"):
                    public[node.name] = node.name
            elif isinstance(node, ast.ClassDef):
                shell = node.decorator_list + node.bases + node.keywords
                for s in node.body:
                    if not isinstance(s, ast.FunctionDef) or (
                            s.name.startswith("__") and s.name.endswith("__")):
                        shell.append(s)
                        if isinstance(s, ast.FunctionDef) and s.name == "__init__":
                            sigs.setdefault(node.name, []).append(
                                (node.name, *_defaulted(s, True)))
                    else:
                        defs.setdefault("." + s.name, []).append([s])
                        if not (s.name.startswith("_") or node.name.startswith("_")):
                            label = f"{node.name}.{s.name}"
                            public["." + s.name] = label
                            static = any(getattr(d, "id", None) == "staticmethod"
                                         for d in s.decorator_list)
                            sigs.setdefault(s.name, []).append(
                                (label, *_defaulted(s, not static)))
                defs.setdefault(node.name, []).append(shell)
                if not node.name.startswith("_"):
                    public[node.name] = node.name
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append([node])
                            if not n.id.startswith("_"):  # dunders too
                                public[n.id] = n.id
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                code.append(node)  # runs at import time
    reached, todo = set(), list(_used_names(code))
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for nodes in defs.get(name, ()):
                code.extend(nodes)
                todo.extend(_used_names(nodes) - reached)
    unreached = {label for key, label in public.items() if key not in reached}

    def value(n: ast.AST) -> str:
        key = getattr(n, "id", getattr(n, "attr", None))
        if key in consts:
            return consts[key]
        try:
            return repr(ast.literal_eval(n))
        except ValueError:
            return ast.dump(n)

    nodes = [n for c in code for n in ast.walk(c)]
    calls = [n for n in nodes if isinstance(n, ast.Call)]
    callees = {id(c.func) for c in calls}
    set_ = set()
    for n in nodes:  # a function used as a value: every parameter is set
        if (isinstance(n, (ast.Name, ast.Attribute)) and isinstance(n.ctx, ast.Load)
                and id(n) not in callees):
            for label, _, dflt in sigs.get(getattr(n, "id", getattr(n, "attr", "")), ()):
                set_ |= {f"{label}({p})" for p in dflt}
    for call in calls:
        callee = getattr(call.func, "id", getattr(call.func, "attr", None))
        for label, pos, dflt in sigs.get(callee, ()):
            if (any(isinstance(a, ast.Starred) for a in call.args)
                    or any(k.arg is None for k in call.keywords)):
                set_ |= {f"{label}({p})" for p in dflt}
                continue
            passed = [*zip(pos, call.args), *((k.arg, k.value) for k in call.keywords)]
            set_ |= {f"{label}({p})" for p, v in passed
                     if p in dflt and value(v) != value(dflt[p])}
    unset = {f"{label}({p})" for v in sigs.values() for label, _, dflt in v
             for p in dflt if label not in unreached} - set_
    return unreached, unset


def test_engine_ships_only_reached_code():
    """An engine name that only tests use is either a test twin (it
    belongs in tests/) or dead code; TEST_ONLY lists the ones left. An
    option that no entry point sets is a constant; TEST_SET lists the
    ones left."""
    unreached, unset = _scan_engine()
    wrong = {
        "reached only from tests": unreached - TEST_ONLY,
        "drop from TEST_ONLY": TEST_ONLY - unreached,
        "set only from tests": unset - TEST_SET,
        "drop from TEST_SET": TEST_SET - unset,
    }
    assert not any(wrong.values()), "; ".join(
        f"{k}: {', '.join(sorted(v))}" for k, v in wrong.items() if v)
