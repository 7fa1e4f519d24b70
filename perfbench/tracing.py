"""Measurement helpers: latency percentiles, layer spans with self time,
the Spark event-log parser and the process-tree RSS sampler.

Spans live in memory and are read when the run ends.  A span's self time
is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def p90(values: list[float]) -> float:
    """90th percentile, linear between order statistics (the 'inclusive'
    method: p90 of n samples never exceeds the largest one)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    total, reach = 0.0, lo
    for a, b in sorted(parts):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Span:
    __slots__ = ("sid", "parent", "name", "t0", "t1")

    def __init__(self, sid: int, parent: int | None, name: str, t0: float):
        self.sid, self.parent, self.name = sid, parent, name
        self.t0, self.t1 = t0, t0


class Tracer:
    """Records nested spans.  Disabled, ``span`` yields ``None`` and
    records nothing, so untraced runs pay no per-span cost.

    Workers run strictly one op at a time; the stack is shared across
    threads because a streaming ``foreachBatch`` callback runs on another
    thread while the thread that started the query waits, and the
    callback's spans belong under the waiting span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(len(self.spans), parent.sid if parent else None, name, time.time())
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s.t1 = time.time()
                self._stack.remove(s)

    def self_times(self) -> dict[int, float]:
        """Self time of every span, by span id."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.t0, s.t1))
        return {
            s.sid: (s.t1 - s.t0) - covered((s.t0, s.t1), kids.get(s.sid, []))
            for s in self.spans
        }

    def innermost(self, t: float) -> Span | None:
        """The deepest span open at wall time ``t`` (spans nest strictly)."""
        best = None
        for s in self.spans:
            if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
                best = s
        return best


def parse_event_log(path: str) -> dict:
    """Jobs, their tasks' metrics and SQL executions from an uncompressed,
    non-rolling Spark event log (one JSON object per line).

    Returns ``{"jobs": {id: {...}}, "sql": {id: {...}}}``.  Each job holds
    its submit/end times in seconds since the epoch, SQL execution id, and
    the sums over its tasks of run, CPU, deserialisation, GC, scheduler
    delay (wall not spent running, deserialising, serialising the result
    or fetching it), shuffle bytes read and written, and spilled bytes.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "sql": int(exec_id) if exec_id is not None else None,
                    "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "deser_s": 0.0,
                    "gc_s": 0.0, "wait_s": 0.0, "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                info = ev["Task Info"]
                run = m["Executor Run Time"]
                deser = m["Executor Deserialize Time"]
                other = m["Result Serialization Time"] + info.get("Getting Result Time", 0)
                wall = info["Finish Time"] - info["Launch Time"]
                sr = m.get("Shuffle Read Metrics", {})
                job["tasks"] += 1
                job["run_s"] += run / 1e3
                job["cpu_s"] += m["Executor CPU Time"] / 1e9
                job["deser_s"] += deser / 1e3
                job["gc_s"] += m["JVM GC Time"] / 1e3
                job["wait_s"] += max(0, wall - run - deser - other) / 1e3
                job["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {"start": ev["time"] / 1000.0, "end": None}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end"] = ev["time"] / 1000.0
    return {"jobs": jobs, "sql": sql}


def sql_driver_seconds(log: dict) -> float:
    """Driver-side time inside SQL executions while no job runs: planning
    before the first job, AQE re-planning between stages and the work
    after the last job (the write commit).  Executions nest (a streaming
    micro-batch encloses its foreachBatch writes), so their union counts."""
    jobs = [(j["submit"], j["end"]) for j in log["jobs"].values() if j["end"] is not None]
    merged: list[list[float]] = []
    for a, b in sorted((e["start"], e["end"]) for e in log["sql"].values() if e["end"] is not None):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return sum((b - a) - covered((a, b), jobs) for a, b in merged)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid``'s live descendant processes, read from ``/proc``."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak`` is
    the largest sum seen (the JVM and Python workers are children of this
    process in local mode).  Inside ``paused()`` nothing is sampled, so
    the benchmark's own checks do not count."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if not self._paused.is_set():
                rss = tree_rss_bytes(pid)
                if not self._paused.is_set():
                    self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    @contextmanager
    def paused(self):
        self._paused.set()
        try:
            yield
        finally:
            gc.collect()
            self._paused.clear()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
