"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the program from outside its code:

- ``ProcTree`` reads CPU and resident memory of the driver process, the
  JVM it launched and the JVM's Python workers from ``/proc``. CPU is
  cumulative and includes reaped children, so Python workers that exit
  between two readings are still counted.
- ``SparkRest`` reads Spark's monitoring REST API on localhost.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
- ``Tracer`` records one span per workload pass and per op, with
  ``build`` and ``exec`` child spans, attributes the Spark stages and
  jobs that started inside an op's time window to that op (streaming
  threads do not tag their jobs with the caller's job group), and sums
  the results per package per pass.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import urllib.request
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


class ProcTree:
    """The benchmark process and everything it started."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def descendants(self, pid: int | None = None) -> list[int]:
        parent_of = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parent_of[int(name)] = st[0]
        out, frontier = [], [pid or self.root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent_of.items() if pp == p]
            out.extend(kids)
            frontier.extend(kids)
        return out

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    def jvm(self) -> int | None:
        return next((p for p in self.descendants() if self._comm(p) == "java"), None)

    @staticmethod
    def _cpu(pid: int) -> float:
        """Own plus reaped-children CPU seconds of one process."""
        st = _stat(pid)
        if st is None:
            return 0.0
        f = st[1]  # f[11..14] = utime stime cutime cstime
        return (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK

    def cpu_s(self) -> dict[str, float]:
        """Cumulative CPU seconds of the driver, the JVM (with the short
        helper processes it forks and reaps) and the JVM's Python workers.
        Workers are forked and reaped by the long-lived PySpark daemon, so
        the live Python processes' counters include exited workers."""
        st = _stat(self.root)
        out = {"pydriver": (int(st[1][11]) + int(st[1][12])) / _TICK, "jvm": 0.0, "pyworker": 0.0}
        jvm = self.jvm()
        if jvm is not None:
            out["jvm"] = self._cpu(jvm)
            out["pyworker"] = sum(
                self._cpu(p) for p in self.descendants(jvm) if self._comm(p).startswith("python")
            )
        return out

    def peak_rss_mb(self) -> float:
        """Sum of the peak resident sizes of every live process in the tree."""
        total_kb = 0
        for pid in [self.root, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024.0


def _ts(s: str | None) -> float | None:
    """Spark REST timestamp (``2026-01-01T00:00:00.123GMT``) to epoch s."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def cached_mb(self) -> float:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self.get("storage/rdd")) / _MB


class StreamProgress(StreamingQueryListener):
    """Keeps (trigger start, progress dict) for every micro-batch."""

    def __init__(self):
        self.batches: list[tuple[float, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        self.batches.append((start, p))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


PACKAGES = ("sources", "operators", "functions", "features", "llmops", "streaming")
PACKAGE_METRICS = {
    "calls": "count",
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "driver_s": "s",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_mb": "MB",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "output_mb": "MB",
}
STREAM_METRICS = {
    "batches": "count",
    "input_rows": "count",
    "planning_ms": "ms",
    "add_batch_ms": "ms",
    "wal_commit_ms": "ms",
    "commit_offsets_ms": "ms",
    "state_rows": "count",
    "state_commit_ms": "ms",
    "state_mb": "MB",
    "microbatch_p90_s": "s",
}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def stream_summary(batches: list[dict]) -> dict[str, float]:
    """Per-pass streaming totals from the progress reports of one pass.
    State size is each query's last batch, summed over queries."""
    out = dict.fromkeys(STREAM_METRICS, 0.0)
    last: dict[str, dict] = {}
    for p in batches:
        d = p.get("durationMs", {})
        out["batches"] += 1
        out["input_rows"] += p.get("numInputRows", 0)
        out["planning_ms"] += d.get("queryPlanning", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        out["commit_offsets_ms"] += d.get("commitOffsets", 0)
        out["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
        if p["runId"] not in last or p["batchId"] >= last[p["runId"]]["batchId"]:
            last[p["runId"]] = p
    for p in last.values():
        for s in p.get("stateOperators", []):
            out["state_rows"] += s.get("numRowsTotal", 0)
            out["state_mb"] += s.get("memoryUsedBytes", 0) / _MB
    trigger_s = [p.get("durationMs", {}).get("triggerExecution", 0) / 1e3 for p in batches]
    if len(trigger_s) >= 2:
        out["microbatch_p90_s"] = statistics.quantiles(trigger_s, n=10, method="inclusive")[-1]
    elif trigger_s:
        out["microbatch_p90_s"] = trigger_s[0]
    return out


class Tracer:
    """Spans and per-op Spark attribution for traced passes."""

    def __init__(self, rest: SparkRest, workload: str):
        self.rest = rest
        self.workload = workload
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.catch_up()

    def span(self, name: str, start: float, end: float | None, parent: int | None,
             pass_id: int, **attrs) -> dict:
        """Record a span; a caller that does not know ``end`` yet sets it
        on the returned dict."""
        s = {"id": next(self._ids), "parent": parent, "name": name, "start": start,
             "end": end, "pass": pass_id, "workload": self.workload, **attrs}
        self.spans.append(s)
        return s

    def catch_up(self) -> None:
        """Mark every stage and job so far as seen (not part of any op)."""
        self._new_stages(float("inf"))
        self._new_jobs(float("inf"))

    def _new_stages(self, hi: float) -> list[dict]:
        out = []
        for s in self.rest.get("stages"):
            key = (s["stageId"], s["attemptId"])
            t = _ts(s.get("submissionTime"))
            if key in self._seen_stages or t is None or t > hi:
                continue
            self._seen_stages.add(key)
            out.append(s)
        return out

    def _new_jobs(self, hi: float) -> list[dict]:
        out = []
        for j in self.rest.get("jobs"):
            t = _ts(j.get("submissionTime"))
            if j["jobId"] in self._seen_jobs or t is None or t > hi:
                continue
            self._seen_jobs.add(j["jobId"])
            out.append(j)
        return out

    def op_metrics(self, t0: float, t1: float) -> dict[str, float]:
        """Spark work of the stages and jobs submitted in [t0, t1]."""
        stages = self._new_stages(t1 + 0.001)
        jobs = self._new_jobs(t1 + 0.001)
        spans = []
        for s in stages:
            a, b = _ts(s.get("submissionTime")), _ts(s.get("completionTime")) or t1
            spans.append((a, b))
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "driver_s": (t1 - t0) - _covered(spans, t0, t1),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "input_mb": sum(s["inputBytes"] for s in stages) / _MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / _MB,
            "output_mb": sum(s["outputBytes"] for s in stages) / _MB,
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def package_totals(op_records: list[dict]) -> dict[str, float]:
    """``<package>.<metric>`` sums over the op records of one pass."""
    out = {f"{p}.{m}": 0.0 for p in PACKAGES for m in PACKAGE_METRICS}
    for r in op_records:
        p = r["package"]
        out[f"{p}.calls"] += 1
        for m in PACKAGE_METRICS:
            if m != "calls":
                out[f"{p}.{m}"] += r.get(m, 0.0)
    return out


def median_of_passes(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = set().union(*per_pass) if per_pass else set()
    return {k: statistics.median(d.get(k, 0.0) for d in per_pass) for k in keys}


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def jvm_heap_after_gc_mb(sc) -> float:
    sc._jvm.java.lang.System.gc()
    mx = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / _MB

