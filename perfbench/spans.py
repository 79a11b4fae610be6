"""Spans around calls into the program, and the fold of Spark's event log
onto them.

A span is opened by the benchmark around one call into a public function
of a layer (``sources``, ``operators``, ``pipeline``, ``plans``). While a
span is open its id is the job group of the calling thread, so every
Spark job the call submits carries it. Jobs submitted from threads the
program starts itself carry no group; those are given to the innermost
span that was open when they were submitted.

After the session stops, its event log (plain JSON lines, written with
``spark.eventLog.compress=false``) is folded: task metrics from
``SparkListenerTaskEnd`` and the Python-crossing SQL metrics from each
stage's accumulables are summed per job, and each job's sums go to its
span and that span's ancestors.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame

GROUP_PREFIX = "perfbench-span-"
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: Stage accumulables of the Arrow/pandas exec nodes (Spark 4.1 names).
#: "time to run Python workers" is in milliseconds.
PY_ACCUMULABLES = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_out",
    "data returned from Python workers": "py_bytes_in",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; ``wrap`` puts a span around a module
    function and caches its DataFrame output so that an enclosing span's
    self time is only its own work."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._patched: list[tuple] = []
        self._persisted: list[DataFrame] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(GROUP_PREFIX + str(s.id), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if self._open:
                top = self._open[-1]
                self.sc.setJobGroup(GROUP_PREFIX + str(top.id), top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` by a traced twin until ``release``.

        ``after(span, args, kwargs)`` runs inside the span once the call
        has returned, to record counts the event log does not carry."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                self.materialize(out)
                if after is not None:
                    after(s, args, kwargs)
            return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def materialize(self, out) -> None:
        frames = out.values() if isinstance(out, dict) else [out]
        for df in frames:
            if isinstance(df, DataFrame):
                df.persist(StorageLevel.MEMORY_AND_DISK)
                df.count()
                self._persisted.append(df)

    def release(self) -> None:
        """Unpersist span outputs and put the original functions back."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


# --------------------------------------------------------------------- fold

@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    completed: float
    group: str | None
    stages: list


#: Per-job sums. Times in seconds, sizes in bytes.
JOB_FIELDS = (
    "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "bytes_written", "py_run_s", "py_bytes_out", "py_bytes_in",
)


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def fold_jobs(events: list[dict]) -> tuple[dict[int, Job], dict[int, dict]]:
    """Jobs with their sums of task metrics and Python accumulables."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(e["Job ID"], e["Submission Time"] / 1000.0, 0.0,
                    props.get("spark.jobGroup.id"), list(e.get("Stage IDs", [])))
            jobs[j.id] = j
            for sid in j.stages:
                stage_job.setdefault(sid, j.id)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].completed = e["Completion Time"] / 1000.0

    sums = {jid: dict.fromkeys(JOB_FIELDS, 0.0) for jid in jobs}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if jid is None or not m:
                continue
            s = sums[jid]
            s["tasks"] += 1
            s["exec_run_s"] += m["Executor Run Time"] / 1e3
            s["exec_cpu_s"] += m["Executor CPU Time"] / 1e9
            s["gc_s"] += m["JVM GC Time"] / 1e3
            s["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            s["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            s["bytes_written"] += m["Output Metrics"]["Bytes Written"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            jid = stage_job.get(info["Stage ID"])
            if jid is None:
                continue
            for acc in info.get("Accumulables", []):
                key = PY_ACCUMULABLES.get(acc.get("Name"))
                if key == "py_run_ms":
                    sums[jid]["py_run_s"] += _num(acc.get("Value")) / 1e3
                elif key is not None:
                    sums[jid][key] += _num(acc.get("Value"))
    return jobs, sums


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[int, int | None]:
    """Job id -> span id: by job group, else by the innermost span open
    at submission time; None when the job ran outside every span."""
    by_group = {GROUP_PREFIX + str(s.id): s.id for s in spans}
    depth = {}
    for s in spans:
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    out = {}
    for j in jobs.values():
        sid = by_group.get(j.group)
        if sid is None:
            open_then = [s for s in spans if s.start <= j.submitted <= s.end]
            sid = max(open_then, key=lambda s: depth[s.id]).id if open_then else None
        out[j.id] = sid
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def span_metrics(events: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Span name -> measures, each summed over the spans of that name.

    ``s`` is the span's duration and ``self_s`` that duration less its
    children's. Job-derived measures include the jobs of child spans.
    ``driver_s`` is the time in the span when no job of the span ran.
    ``unattributed_exec_s`` is executor run time of jobs that fell in
    this span but in none of its children.
    """
    jobs, sums = fold_jobs(events)
    owner = attribute(jobs, spans)
    children: dict[int, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    subtree: dict[int, list[int]] = {}

    def collect(sid: int) -> list[int]:
        if sid not in subtree:
            ids = [j for j, o in owner.items() if o == sid]
            for c in children[sid]:
                ids += collect(c.id)
            subtree[sid] = ids
        return subtree[sid]

    out: dict[str, dict] = {}
    for s in spans:
        ids = collect(s.id)
        dur = s.end - s.start
        m = out.setdefault(s.name, {"s": 0.0, "self_s": 0.0, "jobs": 0.0,
                                    "driver_s": 0.0, "unattributed_exec_s": 0.0,
                                    **dict.fromkeys(JOB_FIELDS, 0.0)})
        m["s"] += dur
        m["self_s"] += dur - _covered(
            [(c.start, c.end) for c in children[s.id]], s.start, s.end)
        m["jobs"] += len(ids)
        m["driver_s"] += dur - _covered(
            [(jobs[j].submitted, jobs[j].completed) for j in ids], s.start, s.end)
        m["unattributed_exec_s"] += sum(
            sums[j]["exec_run_s"] for j, o in owner.items() if o == s.id)
        for j in ids:
            for k in JOB_FIELDS:
                m[k] += sums[j][k]
        for k, v in s.counts.items():
            m[k] = m.get(k, 0.0) + v
    return out
