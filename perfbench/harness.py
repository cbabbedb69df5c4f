"""Measurement plumbing shared by the workloads: spans, statistics,
Spark event-log forensics, process-tree memory and machine context.

Spans are kept in memory as (name, start, end, parent) records and
written out once, when the run ends. They are recorded only around the
benchmark's own calls into the engine's layers; the engine itself is
not instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import math
import os
import statistics
import subprocess
import time

# --------------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "epoch_ms": time.time() * 1000.0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["epoch_end_ms"] = time.time() * 1000.0
            self._stack.pop()

    def invalid_spans(self) -> list[int]:
        """Ids of spans that are unclosed, end before they start, or do
        not lie inside their parent."""
        bad = []
        for s in self.spans:
            p = s["parent"]
            if s["end"] is None or s["end"] < s["start"]:
                bad.append(s["id"])
            elif p is not None and not (
                    0 <= p < len(self.spans)
                    and self.spans[p]["end"] is not None
                    and self.spans[p]["start"] <= s["start"]
                    and s["end"] <= self.spans[p]["end"]):
                bad.append(s["id"])
        return bad

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]])
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def high_percentile(xs) -> tuple[float, float]:
    """(p, value) for the highest percentile in steps of 5 that still
    has at least ten samples above it (nearest-rank)."""
    xs = sorted(xs)
    n = len(xs)
    best = (50.0, xs[(n - 1) // 2])
    for p in range(50, 100, 5):
        rank = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - rank >= 10:
            best = (float(p), xs[rank - 1])
    return best


# ---------------------------------------------------------- process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of peak resident memory (VmHWM) over this process and all of
    its descendants: the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


# ------------------------------------------------------------ machine context


def cpu_times() -> list[int]:
    """Machine-wide CPU jiffies from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def busy_and_steal(t0: list[int], t1: list[int]) -> tuple[float, float]:
    """Shares of machine CPU time that were busy and that the hypervisor
    stole, between two cpu_times() readings."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8]) or 1
    return (total - d[3] - d[4]) / total, d[7] / total


def source_digest(root: str) -> str:
    """sha256 over the engine package sources (the checkout the
    benchmark runs from need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "n8n_tools_api_spark")
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def machine_context(root: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_1min_before": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
    }


# ------------------------------------------------------- Spark event logs


def _plan_exchanges(node: dict) -> int:
    n = 1 if node.get("nodeName") in ("Exchange", "BroadcastExchange") else 0
    return n + sum(_plan_exchanges(c) for c in node.get("children", []))


class EventLog:
    """Jobs, stages, tasks and SQL plans parsed from one application's
    event log directory, queryable by wall-clock window."""

    def __init__(self, log_dir: str, app_id: str):
        files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
        if not files:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"],
                                      "end": None, "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], _new_stage())
            st["scan"] = any(r.get("Name") == "FileScanRDD"
                             for r in info.get("RDD Info", []))
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], _new_stage())
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["task_ms"].append(ti["Finish Time"] - ti["Launch Time"])
            st["busy_ms"] += tm.get("Executor Run Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) \
                + tm.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "start": e["time"],
                "exchanges": _plan_exchanges(e["sparkPlanInfo"])}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["exchanges"] = \
                    _plan_exchanges(e["sparkPlanInfo"])

    def window(self, t0_ms: float, t1_ms: float) -> dict:
        """Totals over the jobs submitted inside [t0_ms, t1_ms]."""
        jobs = [j for j in self.jobs.values()
                if t0_ms <= j["start"] <= t1_ms and j["end"] is not None]
        stage_ids = {s for j in jobs for s in j["stages"]}
        stages = [self.stages[s] for s in stage_ids
                  if s in self.stages and self.stages[s]["tasks"]]
        sql = [q for q in self.sql.values() if t0_ms <= q["start"] <= t1_ms]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((j["start"], j["end"]) for j in jobs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        task_ms = [t for st in stages for t in st["task_ms"]]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "scan_tasks": sum(st["tasks"] for st in stages if st["scan"]),
            "exchanges": sum(q["exchanges"] for q in sql),
            "shuffle_write_mb": sum(st["shuffle_write"] for st in stages)
            / 2 ** 20,
            "spill_mb": sum(st["spill"] for st in stages) / 2 ** 20,
            "executor_busy_s": sum(st["busy_ms"] for st in stages) / 1000,
            "gc_s": sum(st["gc_ms"] for st in stages) / 1000,
            "driver_gap_s": max(0.0, (t1_ms - t0_ms) - covered) / 1000,
            "task_skew": (max(task_ms) / max(statistics.median(task_ms), 1)
                          if task_ms else 0.0),
        }


def _new_stage() -> dict:
    return {"tasks": 0, "task_ms": [], "busy_ms": 0, "gc_ms": 0,
            "shuffle_write": 0, "spill": 0, "scan": False}
