"""Spans, Spark-side counters and process memory for the benchmark.

Spans are recorded around the benchmark's calls into each layer's public
function (the package itself is not instrumented). Counts come from
Spark's own surfaces: the executed plan's SQL metrics and the status
store's per-stage totals, read per job group (one group per span that
asks for one).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": f"{self.run_id}-{idx}" if group and self.sc else None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if rec["group"]:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["group"]:
                outer = [self.spans[i]["group"] for i in self._stack if self.spans[i]["group"]]
                if outer:
                    self.sc.setJobGroup(outer[-1], self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def children(self, idx: int | None) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return self.duration(idx) - sum(self.duration(c) for c in self.children(idx))

    def nesting_errors(self) -> list[str]:
        errs = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                errs.append(f"{s['name']}: not closed")
                continue
            p = s["parent"]
            if p is not None:
                ps = self.spans[p]
                if s["start"] < ps["start"] or s["end"] > ps["end"]:
                    errs.append(f"{s['name']}: outside parent {ps['name']}")
            if self.self_time(i) < -1e-9:
                errs.append(f"{s['name']}: negative self time")
        return errs


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------

def _plan_nodes(plan):
    """Walk a physical plan through AQE wrappers and query stages."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def plan_metrics(df) -> list[tuple[str, dict]]:
    """(node class, {metric: value}) for every node of ``df``'s executed
    plan — call after an action on ``df`` itself has completed."""
    out = []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        m = node.metrics()
        it = m.keys().iterator()
        vals = {}
        while it.hasNext():
            key = it.next()
            vals[key] = int(m.apply(key).value())
        out.append((node.getClass().getSimpleName(), vals))
    return out


def metric_sum(nodes, cls_suffix: str, key: str) -> int:
    return sum(v.get(key, 0) for c, v in nodes if c.endswith(cls_suffix))


def python_bytes(nodes) -> int:
    """Bytes sent to plus received from Python workers (Arrow batches)."""
    return sum(
        v.get("pythonDataSent", 0) + v.get("pythonDataReceived", 0) for _c, v in nodes
    )


def group_stats(sc, groups: list[str]) -> dict:
    """Completed-stage totals for the jobs of the given job groups."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    gw = sc._gateway
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            tot["jobs"] += 1
            for sid in info.stageIds:
                attempts = store.stageData(
                    sid, False, gw.jvm.java.util.ArrayList(), False,
                    gw.new_array(gw.jvm.double, 0),
                )
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.status().toString() != "COMPLETE":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += s.numTasks()
                    tot["shuffle_bytes"] += s.shuffleWriteBytes()
                    tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def cpu_seconds() -> float:
    """User + system CPU seconds used so far by this process and its
    descendants (the JVM and its Python workers), reaped children included."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of VmHWM over this process's descendants — the JVM and its
    Python workers — in MiB, and the per-command breakdown. This process
    itself is left out: it also holds the benchmark's input
    generation and reference data."""
    total_kb, parts = 0, {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")[0].decode(errors="replace")
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        total_kb += kb
                        key = os.path.basename(cmd)
                        n, mb = parts.get(key, (0, 0.0))
                        parts[key] = (n + 1, mb + kb / 1024.0)
                        break
        except OSError:
            continue
    return total_kb / 1024.0, parts
