"""Repository benchmark for orthority_spark.

    python3 perfbench/run.py --workload vector_join --seed 1 --seconds 10 --trace 0

Run from the repository root. One process runs one workload at
``local[N]``, N = the CPUs this process may use (``SPARK_GRAFT_CPUS`` can
lower it), as a closed loop: one client runs jobs back to back. The
benchmark

1. makes the seeded inputs (untimed, cached per size and seed under
   ``.perfbench_work/``),
2. sets up a fresh session (``get_spark`` + ``ensure_on_executors`` +
   the in-process catalog build),
3. runs the first job in that session, ``WARMUP_JOBS`` untimed jobs (JIT
   and codegen keep warming for several jobs), then jobs back to back for
   ``--seconds`` (at least ``MIN_JOBS``), recording each job's wall time
   and the CPU seconds it cost this process, the JVM and its Python workers,
4. checks every job's output against single-process references,
5. with ``--trace 1``, also runs one traced job, writes its spans to
   ``.perfbench_work/spans/`` and reports per-layer metrics instead of
   the end-to-end ones.

Set-up and job cost are reported in CPU seconds of this process, the JVM
and its Python workers (``setup_s``, ``first_job_cpu_s``, ``job_cpu_s``,
``items_per_cpu_s``; job figures are medians over the steady jobs) because
on a shared host other tenants' load shifts whole runs' wall times by up
to 2x while their CPU cost stays within about a tenth. Wall times are
per-layer metrics: ``first_job_s``, ``job_s``, ``items_per_s`` and the
set-up's parts (``session.get_spark_s`` ...).

This is the repository's benchmark. The older ``bench.py`` at the root is
a scaling harness written for a 32-vCPU host (local[2]/[8]/[32] sweeps
with an md5 host calibration); it is not this benchmark.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; metric names and
units come from ``BENCHMARK.json``. All files the run writes (inputs,
Spark scratch, temp files) stay under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_JOBS = 3
WARMUP_JOBS = 1  # jobs after the first that are checked but not timed


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["vector_join", "raster_ortho", "ledger_resume"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "toy"], default="full",
                   help="input size; 'toy' is for the self-test")
    return p.parse_args(argv)


def cpu_count() -> int:
    n = len(os.sched_getaffinity(0))
    cap = os.environ.get("SPARK_GRAFT_CPUS", "")
    return max(1, min(n, int(cap))) if cap.isdigit() and int(cap) > 0 else n


def confine_writes() -> dict:
    """Point every scratch location at the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # no hsperfdata files in /tmp from the launcher or the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.dont_write_bytecode = True
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    from spans import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the Python worker daemon exits once the JVM is gone
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orthority_spark", "__init__.py")):
        print(f"orthority_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    extra_conf = confine_writes()
    sys.path[:0] = [HERE, ROOT]

    import spans
    from orthority_spark.pyfiles import ensure_on_executors
    from orthority_spark.session import get_spark
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.size)
    t0 = time.perf_counter()
    wl.prepare(WORK, args.seed)
    print(f"inputs ready in {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    cpus = cpu_count()
    tr = spans.Tracer()
    c0 = spans.cpu_seconds()
    with tr.span("setup"):
        with tr.span("session.get_spark") as s_gs:
            spark = get_spark(
                master=f"local[{cpus}]", shuffle_partitions=2 * cpus, extra_conf=extra_conf
            )
        with tr.span("pyfiles.ensure_on_executors") as s_eo:
            ensure_on_executors(spark)
        with tr.span("sources.catalog") as s_cat:
            wl.build(spark)
    setup_cpu_s = spans.cpu_seconds() - c0
    tr.sc = spark.sparkContext
    try:
        result = run(spark, wl, args, tr, setup_cpu_s, (s_gs, s_eo, s_cat))
    finally:
        stop_spark(spark)
    if result is None:
        return 1
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    correct, attempted, failed, values = result
    out = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }
    print(json.dumps(out))
    return 0


def run(spark, wl, args, tr, setup_cpu_s, setup_parts):
    """First job, warm-up jobs, then steady jobs for ``args.seconds`` (at
    least ``MIN_JOBS``); every job's output is checked."""
    from spans import cpu_seconds, peak_rss_mb

    attempted = failed = 0
    outputs, times, cpus = [], [], []
    first_job_s = first_job_cpu_s = None
    deadline = None
    while True:
        attempted += 1
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            res = wl.job(spark)
        except Exception:
            traceback.print_exc()
            failed += 1
            res = None
        dt = time.perf_counter() - t0
        dc = cpu_seconds() - c0
        if res is not None:
            if first_job_s is None:
                first_job_s, first_job_cpu_s = dt, dc
            elif len(outputs) > WARMUP_JOBS:
                times.append(dt)
                cpus.append(dc)
            outputs.append(wl.collect(spark, res))
            if len(outputs) == 1 + WARMUP_JOBS:
                deadline = time.perf_counter() + args.seconds
        if failed >= MIN_JOBS:
            if not times:
                return None
            break
        if deadline and len(times) >= MIN_JOBS and time.perf_counter() >= deadline:
            break
    t_jobs = time.perf_counter()
    rss, parts = peak_rss_mb()
    print("peak RSS by process (count, MiB): " + json.dumps(parts), file=sys.stderr)

    ref = wl.reference(spark)
    t_ref = time.perf_counter()
    for i, out in enumerate(outputs):
        errs = wl.check(out, ref)
        if out != outputs[0] and not errs:
            errs = ["output differs from the first job's"]
        if errs:
            failed += 1
            print(f"job {i}: " + "; ".join(errs), file=sys.stderr)
    job_s = median(times)
    job_cpu_s = median(cpus)
    values = {
        "setup_s": setup_cpu_s,
        "first_job_cpu_s": first_job_cpu_s,
        "job_cpu_s": job_cpu_s,
        "items_per_cpu_s": wl.items / job_cpu_s,
        # wall-clock twins and memory: per-layer only (see BENCHMARK.json)
        "first_job_s": first_job_s,
        "job_s": job_s,
        "items_per_s": wl.items / job_s,
        "peak_rss_mb": rss,
    }
    print(
        f"{wl.name}: {len(times) + 1} jobs, job_s median {job_s:.4f} "
        f"over {len(times)} steady jobs, {wl.items} {wl.unit_items}/job; "
        f"steady job times {[round(t, 3) for t in times]}; "
        f"steady job CPU s {[round(c, 2) for c in cpus]}; first job CPU s {first_job_cpu_s:.2f}; "
        f"phases: set-up {tr.duration(0):.1f} s wall, jobs {t_jobs - tr.spans[0]['end']:.1f} s, "
        f"checks {t_ref - t_jobs:.1f} s",
        file=sys.stderr,
    )
    if args.trace:
        attempted += 1  # the traced job
        untraced = values
        values = traced(spark, wl, tr, setup_parts, job_s)
        for key in ("first_job_s", "job_s", "items_per_s", "peak_rss_mb"):
            values[key] = untraced[key]
        for err in getattr(wl, "trace_errors", []):
            failed += 1
            print(f"traced run: {err}", file=sys.stderr)
        path = os.path.join(WORK, "spans", f"{wl.name}_s{args.seed}_{tr.run_id}.json")
        tr.dump(path)
        print(f"spans written to {path}", file=sys.stderr)
        errs = tr.nesting_errors()
        if errs:
            failed += 1
            print("trace: " + "; ".join(errs), file=sys.stderr)
    return failed == 0, attempted, failed, values


def traced(spark, wl, tr, setup_parts, untraced_job_s) -> dict:
    s_gs, s_eo, s_cat = setup_parts
    m = wl.traced(spark, tr)
    m.update({
        "session.get_spark_s": s_gs["end"] - s_gs["start"],
        "pyfiles.ensure_on_executors_s": s_eo["end"] - s_eo["start"],
        "sources.catalog_s": s_cat["end"] - s_cat["start"],
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": m["trace.job_s"] - untraced_job_s,
        "trace.unattributed_s": m["trace.job_s"] - m["trace.attributed_s"],
    })
    if hasattr(wl, "oracle_s"):
        m["remap.oracle_s"] = wl.oracle_s
    if hasattr(wl, "geom_kernels"):
        m.update(wl.geom_kernels())
    return m


if __name__ == "__main__":
    sys.exit(main())
