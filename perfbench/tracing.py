"""Measurement plumbing: spans, process-tree RSS and Spark's status API.

Spans are recorded from the benchmark's own code around calls into the
library's public functions; nothing under ``rdf_rdfa_spark/`` is
instrumented.  Stage and SQL metrics come from the driver's own status
REST API (``sc.uiWebUrl``, always on localhost in local mode), read once
after the workload has finished and attributed to spans through the
Spark job group each span sets.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (0 <= q <= 1); 0.0 for no values."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, beyond: int = 10):
    """(p, value): the highest whole percentile with at least ``beyond``
    samples above it, or None when there are too few samples."""
    p = int(100 * (1 - beyond / len(values))) if values else 0
    return (p, quantile(values, p / 100)) if p >= 50 else None


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# --- spans ---------------------------------------------------------------

class Spans:
    """In-memory span log: (name, start, end, parent, run id).  With
    ``enabled`` each span also sets the Spark job group, so the status
    API's jobs/stages/SQL executions can be attributed to it."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc, self.run_id, self.enabled = sc, run_id, enabled
        self.records: list = []
        self._local = threading.local()
        self._n = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        with self._lock:
            self._n += 1
            sid = "%s-%d" % (name, self._n)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(sid)
        if self.enabled:
            self.sc.setJobGroup(sid, name, interruptOnCancel=False)
        rec = {"id": sid, "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.enabled:
                if stack:
                    self.sc.setJobGroup(stack[-1], stack[-1].rsplit("-", 1)[0],
                                        interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.records.append(rec)

    def durations(self, name: str) -> list:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def ids(self, name: str) -> list:
        return [r["id"] for r in self.records if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in sorted(self.records, key=lambda r: r["start"]):
                fh.write(json.dumps(r) + "\n")


# --- resident memory -----------------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes that map it."""
    try:
        with open("/proc/%d/smaps_rollup" % pid) as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of every descendant of ``root_pid`` (the JVM and
    the Python workers it forks), excluding ``root_pid`` itself, which
    holds the benchmark's generated inputs.  Summing PSS counts a page
    shared by forked workers, or by a JVM and the child it is spawning,
    once rather than once per process."""
    kids = _children()
    todo, total = list(kids.get(root_pid, ())), 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds in a
    background thread; ``peak_mb`` is the highest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# --- Spark status API ----------------------------------------------------

class SparkStatus:
    """Reads the driver's status REST API (jobs, stages, SQL executions,
    executors).  The listener bus is asynchronous, so ``settle`` waits
    until no job is running and the job count stops changing."""

    def __init__(self, sc):
        self.base = "%s/api/v1/applications/%s" % (
            sc.uiWebUrl.rstrip("/"), sc.applicationId)

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, timeout: float = 10.0):
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            jobs = self.get("/jobs")
            running = any(j["status"] == "RUNNING" for j in jobs)
            if not running and len(jobs) == last:
                return
            last = len(jobs)
            time.sleep(0.3)

    def executor_totals(self) -> dict:
        ex = self.get("/executors")
        return {"gc_s": sum(e.get("totalGCTime", 0) for e in ex) / 1000.0,
                "shuffle_write_mb": sum(e.get("totalShuffleWrite", 0)
                                        for e in ex) / 1e6}

    def snapshot(self) -> "StatusSnapshot":
        self.settle()
        jobs = self.get("/jobs")
        stages = self.get("/stages?details=false")
        sql = self.get("/sql?details=true&planDescription=true"
                       "&offset=0&length=100000")
        return StatusSnapshot(self, jobs, stages, sql)


def _metric_number(text: str) -> float:
    """SQL metric value text → number ('1,234', '12.3 MiB', 'total (min,
    med, max ...)\\n12.3 MiB (...)' → the total)."""
    first = str(text).strip().split("\n")[-1] if "\n" in str(text) else str(text)
    token = first.replace(",", "").split()
    if not token:
        return 0.0
    try:
        val = float(token[0])
    except ValueError:
        return 0.0
    unit = token[1] if len(token) > 1 else ""
    scale = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
             "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit, 1)
    return val * scale


class StatusSnapshot:
    def __init__(self, status, jobs, stages, sql):
        self.status = status
        self.jobs = jobs
        self.stages = {(s["stageId"], s["attemptId"]): s for s in stages}
        self.sql = sql

    def job_ids(self, groups) -> set:
        groups = set(groups)
        return {j["jobId"] for j in self.jobs if j.get("jobGroup") in groups}

    def jobs_for(self, groups) -> list:
        groups = set(groups)
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def stages_for(self, groups) -> list:
        ids = set()
        for j in self.jobs_for(groups):
            ids.update(j.get("stageIds", ()))
        return [s for (sid, _a), s in self.stages.items() if sid in ids]

    def sql_for(self, groups) -> list:
        jids = self.job_ids(groups)
        out = []
        for ex in self.sql:
            ran = (set(ex.get("successJobIds", ())) | set(ex.get("failedJobIds", ()))
                   | set(ex.get("runningJobIds", ())))
            if ran & jids:
                out.append(ex)
        return out

    def stage_sum(self, groups, key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.stages_for(groups)))

    def tasks(self, groups) -> int:
        return int(sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                       for s in self.stages_for(groups)))

    def node_metric(self, groups, node_pred, metric: str) -> float:
        """Sum of one SQL metric over the plan nodes ``node_pred``
        accepts, across every SQL execution run by ``groups``."""
        total = 0.0
        for ex in self.sql_for(groups):
            for node in ex.get("nodes", ()):
                if not node_pred(node, ex):
                    continue
                for m in node.get("metrics", ()):
                    if m.get("name") == metric:
                        total += _metric_number(m.get("value", "0"))
        return total

    def task_skew(self, groups, name_has: str) -> float:
        """max / median task run time over the stages whose name or
        details mention ``name_has`` (largest stage wins)."""
        best = 0.0
        for s in self.stages_for(groups):
            if s.get("numCompleteTasks", 0) < 2:
                continue
            text = s.get("name", "") + s.get("details", "")
            if name_has and name_has not in text:
                continue
            try:
                summ = self.status.get("/stages/%d/%d/taskSummary?quantiles=0.5,1.0"
                                       % (s["stageId"], s["attemptId"]))
            except OSError:
                continue
            med, mx = summ["executorRunTime"]
            if med > 0:
                best = max(best, mx / med)
        return best
