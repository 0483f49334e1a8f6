"""Measurement plumbing that looks at the program from outside: process
memory from ``/proc``, spans with Spark job groups, and Spark's own
monitoring REST API (jobs, stages, task quantiles, SQL node metrics).

Nothing here changes how the program runs; a span only sets the job group
of the calling thread (inherited by the program's driver threads) so its
jobs can be found again afterwards.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock start of this process (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / _TICK


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory summed over ``root`` and all its descendants: the
    driver, its JVM and the JVM's Python workers."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background sampler of ``tree_rss_bytes``; ``peak`` covers the time
    between the first ``start()`` and ``stop()``."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self):
        if self._thread.ident is None:
            self._thread.start()
        return self

    def stop(self) -> int:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


# ------------------------------------------------------------ spans --

class Spans:
    """In-memory span log: (name, start, end, parent, op).  Spans are
    written once, at the end of a run (``dump``)."""

    def __init__(self, sc):
        self.sc = sc
        self.items: list[dict] = []
        self._stack: list[str] = []
        self._n = 0

    def run(self, name: str, fn, op: str):
        """Time ``fn()`` under a fresh Spark job group; returns
        (result, span).  ``op`` names the operation the span belongs to."""
        self._n += 1
        group = f"pb{self._n}-{name}"
        parent = self._stack[-1] if self._stack else None
        span = {"name": name, "group": group, "parent": parent, "op": op}
        self._stack.append(group)
        self.sc.setJobGroup(group, name)
        span["start"] = time.time()
        try:
            return fn(), span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     self._stack[-1] if self._stack
                                     else None)
            self.items.append(span)

    def dump(self, path: str) -> None:
        for s in self.items:
            kids = sum(c["end"] - c["start"] for c in self.items
                       if c["parent"] == s["group"])
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - kids
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f, indent=1)


# ------------------------------------------------------------- REST --

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_NUM_UNIT = re.compile(r"(-?[\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


def metric_total(value: str) -> float:
    """Total of a SQL metric string as the REST API renders it, e.g.
    ``"total (min, med, max (stageId: taskId))\\n1.2 MiB (...)"`` or
    ``"1,234"``; sizes in bytes, times in ms."""
    lines = value.strip().split("\n")
    text = lines[1] if lines[0].startswith("total") and len(lines) > 1 \
        else lines[0]
    m = _NUM_UNIT.search(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    return num * {"s": 1e3, "m": 6e4, "h": 3.6e6}.get(unit, 1.0)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class Rest:
    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, group: str | None, window=None) -> list[dict]:
        """Jobs of a job group, or (group None) jobs submitted within the
        (start, end) window -- for jobs a streaming query submits from
        its own thread."""
        if group is not None:
            return [j for j in self.get("/jobs")
                    if j.get("jobGroup") == group]
        t0, t1 = window
        return [j for j in self.get("/jobs")
                if t0 <= (_ts(j.get("submissionTime")) or 0) <= t1]

    def group_report(self, group: str | None, out_dir: str | None = None,
                     skew: bool = False, window=None) -> dict:
        """Stage totals, SQL node metrics and job timing for one span."""
        jobs = self.jobs(group, window)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        rep = {
            "jobs": len(jobs),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in stages) / 1e6,
            "written_mb": sum(s["outputBytes"] for s in stages) / 1e6,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        }
        iv = sorted((_ts(j.get("submissionTime")), _ts(j.get("completionTime")))
                    for j in jobs if j.get("submissionTime"))
        rep["job_intervals"] = [(a, b) for a, b in iv if b]
        if skew:
            ratios = []
            for s in stages:
                if s["numCompleteTasks"] < 4:
                    continue
                q = self.get(f"/stages/{s['stageId']}/{s['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")
                med, mx = q["executorRunTime"]
                if med > 0:
                    ratios.append(mx / med)
            rep["task_skew"] = max(ratios) if ratios else 1.0
        # SQL executions whose jobs belong to the group
        execs = [e for e in self.get("/sql?details=true&planDescription=true"
                                     "&length=100000")
                 if job_ids & set(e.get("successJobIds", [])
                                  + e.get("failedJobIds", [])
                                  + e.get("runningJobIds", []))]
        to_py = from_py = read_back = 0.0
        scans = 0
        for e in execs:
            for node in e.get("nodes", []):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                name = node.get("nodeName", "")
                if "EvalPython" in name:
                    to_py += metric_total(m.get(
                        "data sent to Python workers", "0"))
                    from_py += metric_total(m.get(
                        "data returned from Python workers", "0"))
            if out_dir:
                n_out = _out_scans(e.get("planDescription", ""), out_dir)
                if n_out:
                    scans += n_out
                    read_back += sum(
                        metric_total(x["value"])
                        for node in e.get("nodes", [])
                        if node.get("nodeName", "").startswith("Scan")
                        for x in node.get("metrics", [])
                        if x["name"] == "size of files read")
        rep.update(arrow_mb_to_python=to_py / 1e6,
                   arrow_mb_from_python=from_py / 1e6,
                   output_scans=scans, read_back_mb=read_back / 1e6)
        return rep


def _out_scans(plan: str, out_dir: str) -> int:
    """File scans in a physical plan whose location is under out_dir."""
    n = 0
    for line in plan.split("\n"):
        if "Location: InMemoryFileIndex" in line and out_dir in line:
            n += 1
    return n


def busy_union(intervals: list[tuple[float, float]]) -> tuple[float, int]:
    """(seconds covered by at least one interval, max overlap)."""
    events = sorted([(a, 1) for a, _ in intervals]
                    + [(b, -1) for _, b in intervals])
    covered, depth, peak, last = 0.0, 0, 0, None
    for t, d in events:
        if depth > 0 and last is not None:
            covered += t - last
        depth += d
        peak = max(peak, depth)
        last = t
    return covered, peak


def median(xs):
    return statistics.median(xs) if xs else 0.0
