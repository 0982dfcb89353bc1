"""Tracing for the benchmark: layer spans, Spark job groups, event-log
folding, the Spark warnings budget and a process-tree RSS sampler.

Spans are recorded here, around the benchmark's calls into each engine
layer; the engine itself is not instrumented.  A traced pass tags every
Spark job it starts with the layer's name as the job group, and the
event log (enabled only in traced runs) is folded by that group.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    """Records ``(layer, start, end, parent)`` spans; with a SparkContext
    it also sets the calling thread's Spark job group to the innermost
    open layer.

    ``Tracer(None)`` is the untraced form: spans only (a clock read per
    layer call), no job groups, so traced and untraced passes run the same
    engine calls.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            self.sc.setJobGroup(self._stack[-1], self._stack[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def layer(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self._set_group()
            self.spans.append(dict(layer=name, start=t0, end=t1, parent=parent))


class WalkProxy:
    """Stands in for a distributed-state measure inside
    ``SuperstepDriver.run``: ``run_batch`` runs under the ``walk`` layer
    and keeps every batch's ``walk_metrics``; everything else is the
    wrapped measure's."""

    def __init__(self, measure, tracer: Tracer):
        self._m = measure
        self._tracer = tracer
        self.batches: list[list[dict]] = []

    def __getattr__(self, name):
        return getattr(self._m, name)

    def run_batch(self, df, intervals, readouts=True):
        with self._tracer.layer("walk"):
            out = self._m.run_batch(df, intervals, readouts)
        self.batches.append(list(self._m.walk_metrics))
        return out


# -- event log -----------------------------------------------------------------


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(path: str, spans: list[dict]) -> dict:
    """Fold ``SparkListenerTaskEnd`` metrics by job group.

    Jobs started with no group (the score sink's side thread does not
    inherit the caller's group) are given to the innermost span that
    contains their submission time, and counted as ``sink`` jobs when
    that span belongs to the ``superstep`` layer.  Returns, per group:
    job and task counts, run/CPU/GC seconds, input/shuffle/spill bytes,
    and the wall covered by its sink jobs (``sink_s``) and by its
    ``localCheckpoint`` jobs (``lcp_s``).
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql_details: dict[int, str] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = dict(
                    group=props.get("spark.jobGroup.id"),
                    sql=props.get("spark.sql.execution.id"),
                    start=ev["Submission Time"] / 1000.0,
                    end=None,
                )
                jobs[ev["Job ID"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_details[ev["executionId"]] = ev.get("details", "")
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    def owner(t: float) -> dict | None:
        inner = [s for s in spans if s["start"] <= t <= s["end"]]
        return min(inner, key=lambda s: s["end"] - s["start"]) if inner else None

    for j in jobs.values():
        j["sink"] = False
        j["details"] = sql_details.get(int(j["sql"]), "") if j["sql"] else ""
        if j["group"] is None:
            s = owner(j["start"])
            j["group"] = s["layer"] if s else "untraced"
            j["sink"] = j["group"] == "superstep"

    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[tuple[str, str], list] = defaultdict(list)
    for j in jobs.values():
        g = groups[j["group"]]
        g["jobs"] += 1
        span = (j["start"], j["end"] if j["end"] is not None else j["start"])
        if j["sink"]:
            g["sink_jobs"] += 1
            intervals[(j["group"], "sink_s")].append(span)
        if "localCheckpoint" in j["details"]:
            intervals[(j["group"], "lcp_s")].append(span)
    for ev in tasks:
        j = jobs.get(stage_job.get(ev["Stage ID"]))
        if j is None:
            continue
        g = groups[j["group"]]
        m = ev.get("Task Metrics") or {}
        g["tasks"] += 1
        g["task_failures"] += 1 if ev.get("Task Info", {}).get("Failed") else 0
        g["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        g["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics", {})
        g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    for (grp, key), iv in intervals.items():
        groups[grp][key] = _union_s(iv)
    return {k: dict(v) for k, v in groups.items()}


# -- Spark log -------------------------------------------------------------------

_WARN = re.compile(r"\bWARN\s+(\S+?):?\s+(.*)")


def warn_kinds(log_path: str) -> Counter:
    """WARN lines of a Spark log, counted by kind: the logger plus the
    message with numbers and ids replaced by ``#``."""
    kinds: Counter = Counter()
    with open(log_path, errors="replace") as fh:
        for line in fh:
            m = _WARN.search(line)
            if m:
                msg = re.sub(r"\d+", "#", m.group(2))[:90]
                kinds[f"{m.group(1)}: {msg}"] += 1
    return kinds


# -- memory ----------------------------------------------------------------------


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _python_descendants(root: int) -> list[int]:
    """Python processes below ``root`` (the daemon and its workers)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children[ppid].append(d)
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        if _comm(p).startswith("python"):
            out.append(int(p))
        todo.extend(children.get(int(p), []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the driver JVM and the Python processes
    below it (the daemon and its workers) on a side thread and keeps the
    peak.  Used as a context manager around the timed pass.

    Other children of the JVM are left out: a child forked but not yet
    exec'd (the JVM shells out to run commands) shows the JVM's whole RSS
    for a moment, and counting it added 1.4 GB to the peak in 6 of 27
    replay runs.
    """

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root = root_pid
        self.interval = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = [self.root] + _python_descendants(self.root)
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
