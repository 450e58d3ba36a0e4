"""Benchmark-side measurement: spans, process-tree RSS, Spark's own metrics.

Nothing here changes the program under test.  ``Tracer`` keeps spans
(name, start, end, parent) and counts in memory and can wrap a public
function or method for the length of a ``with`` block.  ``RssSampler`` reads
the process tree's memory from ``/proc`` (psutil is not installed).  ``SparkRest`` reads the status REST API
of a session started with the UI on: stages, tasks and the SQL node metrics
of the plans (``MapInPandas``'s "time to run Python workers" and friends).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from collections import Counter
from datetime import datetime, timezone

import reaper


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] += n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    @contextlib.contextmanager
    def wrapped(self, targets):
        """Time every call of each ``(owner, attribute, span name, hook)``
        target while the block runs; ``hook(result)`` (or None) sees each
        return value.  The original attributes are restored on exit."""
        saved = []
        try:
            for owner, attr, name, hook in targets:
                saved.append((owner, attr, inspect.getattr_static(owner, attr)))
                setattr(owner, attr, self._wrap(getattr(owner, attr), name, hook))
            yield self
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)

    def _wrap(self, fn, name, hook):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if hook is not None:
                hook(out)
            return out

        return call


# -- process-tree memory ---------------------------------------------------------


def tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the driver, the
    JVM it launched and the JVM's Python workers), summed as PSS so that
    pages a forked child shares with its parent count once."""
    total = 0
    for pid in reaper.tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):  # the process ended while we walked
            continue
    return total


class RssSampler:
    """Samples ``tree_pss_bytes`` of this process in a thread.  ``lap``
    returns the peak in MB since the previous lap; ``stop`` joins the
    thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            rss = tree_pss_bytes(os.getpid())
            with self._lock:
                self.peak = max(self.peak, rss)
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def lap(self) -> float:
        rss = tree_pss_bytes(os.getpid())
        with self._lock:
            peak, self.peak = max(self.peak, rss), 0
        return peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark status REST API ------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE_RE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric string as one number: seconds for times, bytes for
    sizes.  Aggregated metrics read 'total (min, med, max ...)\\nT (a, b, c)';
    the total is taken."""
    line = text.split("\n")[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read().decode())

    def marks(self) -> dict[str, int]:
        """Highest job, stage and SQL execution ids so far: a window's
        lower edge."""
        jobs = self.get("jobs")
        stages = self.get("stages")
        sql = self.get("sql?details=false&offset=0&length=100000")
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s["stageId"] for s in stages), default=-1),
            "sql": max((e["id"] for e in sql), default=-1),
        }

    def window(self, marks: dict[str, int], t0: float, t1: float) -> dict:
        """Engine metrics of everything that ran after ``marks``, within the
        wall-clock window [t0, t1]."""
        jobs = [j for j in self.get("jobs") if j["jobId"] > marks["job"]]
        stages = [s for s in self.get("stages") if s["stageId"] > marks["stage"]]
        sql = [
            e
            for e in self.get("sql?details=true&planDescription=false&offset=0&length=100000")
            if e["id"] > marks["sql"]
        ]
        return {"jobs": jobs, "stages": stages, "sql": sql, "t0": t0, "t1": t1}

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage attempt."""
        q = self.get(f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med else 1.0


def sql_node_metrics(window: dict, node_prefix: str) -> dict[str, float]:
    """Sum of every metric over the SQL plan nodes whose name starts with
    ``node_prefix`` (e.g. 'MapInPandas', 'Scan parquet', 'ArrowEvalPython')."""
    out: Counter = Counter()
    for execution in window["sql"]:
        for node in execution["nodes"]:
            if node["nodeName"].startswith(node_prefix):
                for m in node["metrics"]:
                    out[m["name"]] += parse_metric(m["value"])
    return dict(out)


def stages_of(window: dict, node_prefix: str) -> list[dict]:
    """Stages of the jobs of SQL executions that hold a ``node_prefix`` node."""
    job_ids = set()
    for execution in window["sql"]:
        if any(n["nodeName"].startswith(node_prefix) for n in execution["nodes"]):
            job_ids.update(execution.get("successJobIds", []))
            job_ids.update(execution.get("failedJobIds", []))
    stage_ids = {sid for j in window["jobs"] if j["jobId"] in job_ids for sid in j["stageIds"]}
    return [s for s in window["stages"] if s["stageId"] in stage_ids]


def engine_metrics(window: dict, cores: int) -> dict[str, float]:
    """Engine-wide totals of a window, and the wall time no stage covered."""
    t0, t1 = window["t0"], window["t1"]
    stages = window["stages"]
    run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
    intervals = []
    for s in stages:
        a, b = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
        if a is not None and b is not None:
            intervals.append((max(a, t0), min(b, t1)))
    covered, edge = 0.0, t0
    for a, b in sorted(intervals):
        if b > edge:
            covered += b - max(a, edge)
            edge = b
    wall = t1 - t0
    return {
        "spark.jobs": len(window["jobs"]),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.get("numTasks", 0) for s in stages),
        "spark.failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
        "spark.executor_run_s": run_s,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "spark.core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_gap_s": max(wall - covered, 0.0),
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages),
    }


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
