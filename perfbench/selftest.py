"""Self-test of the benchmark at toy input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all in BENCHMARK.json) it runs the benchmark
once untraced and twice traced on one seed, and checks that

- every run exits 0 with ``correct`` true and nothing failed,
- every metric BENCHMARK.json names is printed with its unit, and every
  name matches ``[A-Za-z0-9_.-]+``,
- the traced runs' spans nest (each child inside its parent, self time
  >= 0),
- the count metrics repeat exactly across the two traced runs.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
EXACT_COUNTS = {
    "vector_join": ["tile_join.candidates", "tile_join.hits", "knn.rows_out",
                    "knn.candidates", "raster_join.points_out",
                    "ledger.partitions_skipped", "ledger.files_written"],
    "raster_ortho": ["remap.tiles"],
    "ledger_resume": ["ledger.partitions_skipped", "ledger.files_written"],
}


def run(workload: str, trace: int) -> dict:
    before = set(glob.glob(os.path.join(ROOT, ".perfbench_work", "spans", "*.json")))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    after = set(glob.glob(os.path.join(ROOT, ".perfbench_work", "spans", "*.json")))
    out["spans_files"] = sorted(after - before)
    return out


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {msg}")
    print(f"ok: {msg}")


def main() -> None:
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    from spans import Tracer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for wl in workloads:
        runs = [run(wl, 0), run(wl, 1), run(wl, 1)]
        for i, r in enumerate(runs):
            check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                  f"{wl} run {i}: correct, nothing failed")
            names = spec["per_layer"] if i else spec["end_to_end"]
            for m in names:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not NAME_RE.fullmatch(m["name"]):
                    check(False, f"{wl} run {i}: metric {m['name']} with unit {m['unit']}")
            check(True, f"{wl} run {i}: all {len(names)} metrics present with units")
        for r in runs[1:]:
            check(len(r["spans_files"]) == 1, f"{wl}: traced run wrote its spans")
            tr = Tracer()
            with open(r["spans_files"][0]) as f:
                tr.spans = json.load(f)
            errs = tr.nesting_errors()
            check(not errs, f"{wl}: spans nest, self times >= 0 {errs[:3]}")
        for name in EXACT_COUNTS[wl]:
            a, b = (r["metrics"][name]["value"] for r in runs[1:])
            check(a == b and a > 0, f"{wl}: {name} repeats exactly ({a} == {b})")


if __name__ == "__main__":
    main()
