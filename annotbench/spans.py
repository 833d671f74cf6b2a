"""Spans around the pipeline's public functions, attributed to Spark jobs.

``Tracer.wrap`` replaces a function on its module (or class) with one
that opens a span: name, start, end, parent and run id, kept in memory.
Entering a span sets the Spark job group to the span id, so every job
the call submits carries it; after the session stops, ``attribute``
reads the event log and adds each job's stages, tasks and task metrics
to the span that submitted it. The program itself is not modified.

A span's self time is its duration minus the time its child spans
cover. Spans nest strictly (the pipeline is single-threaded on the
driver), so the children of a span never overlap.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

METRIC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "records_read", "records_written",
    "bytes_written", "files_written",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    children: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=lambda: dict.fromkeys(METRIC_KEYS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run = run_id
        self.spans: dict[str, Span] = {}
        self.stack: list[str] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer itself
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _enter(self, name: str) -> None:
        t0 = time.perf_counter()
        sid = f"{self.run}:{len(self.spans)}"
        parent = self.stack[-1] if self.stack else None
        self.spans[sid] = Span(sid, name, parent, self.run, time.time())
        if parent:
            self.spans[parent].children.append(sid)
        self.stack.append(sid)
        self.sc.setJobGroup(sid, name)
        self.bookkeeping_s += time.perf_counter() - t0

    def _exit(self) -> None:
        t0 = time.perf_counter()
        sid = self.stack.pop()
        self.spans[sid].end = time.time()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1], self.spans[self.stack[-1]].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bookkeeping_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, name: str) -> None:
        """Open span ``name`` around every call of ``owner.attr``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- reading back
    def self_time(self, sid: str) -> float:
        s = self.spans[sid]
        return s.duration - sum(self.spans[c].duration for c in s.children)

    def subtree(self, sid: str) -> list[str]:
        out = [sid]
        for c in self.spans[sid].children:
            out += self.subtree(c)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans.values() if s.name == name]

    def under(self, span: Span, name: str) -> bool:
        """Whether an ancestor of ``span`` is named ``name``."""
        while span.parent is not None:
            span = self.spans[span.parent]
            if span.name == name:
                return True
        return False

    def total(self, spans, key: str, deep: bool = False) -> float:
        """Sum a metric over spans (and their subtrees when ``deep``)."""
        ids = [i for s in spans for i in (self.subtree(s.id) if deep else [s.id])]
        return sum(self.spans[i].metrics[key] for i in ids)

    def records(self) -> list[dict]:
        """Every span as a flat record, self time included."""
        out = []
        for s in self.spans.values():
            rec = {k: getattr(s, k) for k in ("id", "name", "parent", "run", "start", "end")}
            rec["self_s"] = self.self_time(s.id)
            rec.update(s.metrics)
            out.append(rec)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.tracer._enter(self.name)
        return self.tracer.spans[self.tracer.stack[-1]]

    def __exit__(self, *exc):
        self.tracer._exit()
        return False


def attribute(tracer: Tracer, event_dir: str, window: tuple[float, float]) -> dict:
    """Add event-log job, stage and task metrics to the spans whose id is
    the job group; return whole-log totals for jobs submitted inside
    ``window`` (epoch seconds), plus how many of those carried no span."""
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    job_time: dict[int, float] = {}
    stage_done: list[int] = []
    tasks: list[dict] = []
    with open(logs[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_time[jid] = ev["Submission Time"] / 1000
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                stage_done.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append(ev)

    lo, hi = window
    in_window = {j for j, t in job_time.items() if lo <= t <= hi}
    totals = dict.fromkeys(METRIC_KEYS, 0)
    unattributed = 0

    def add(jid: int, key: str, value: float) -> None:
        if jid in in_window:
            totals[key] += value
        span = tracer.spans.get(job_group.get(jid) or "")
        if span is not None:
            span.metrics[key] += value

    for jid in job_group:
        add(jid, "jobs", 1)
        if jid in in_window and job_group[jid] not in tracer.spans:
            unattributed += 1
    for sid in stage_done:
        if sid in stage_job:
            add(stage_job[sid], "stages", 1)
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        m = ev["Task Metrics"]
        shuffle_read = m.get("Shuffle Read Metrics", {})
        out = m.get("Output Metrics", {})
        add(jid, "tasks", 1)
        add(jid, "executor_run_ms", m.get("Executor Run Time", 0))
        add(jid, "gc_ms", m.get("JVM GC Time", 0))
        add(jid, "shuffle_write_bytes", m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
        add(jid, "shuffle_read_bytes",
            shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get("Local Bytes Read", 0))
        add(jid, "spill_bytes", m.get("Disk Bytes Spilled", 0))
        add(jid, "records_read", m.get("Input Metrics", {}).get("Records Read", 0))
        add(jid, "records_written", out.get("Records Written", 0))
        add(jid, "bytes_written", out.get("Bytes Written", 0))
        add(jid, "files_written", 1 if out.get("Records Written", 0) else 0)
    totals["unattributed_jobs"] = unattributed
    return totals


def group_totals(tracer: Tracer, names: list[str], under: str, deep: bool = True) -> dict:
    """Every metric, the seconds and the call count summed over the spans
    named ``names`` below a span named ``under``; seconds are durations
    when ``deep``, self times otherwise."""
    spans = [s for n in names for s in tracer.named(n) if tracer.under(s, under)]
    out = {k: tracer.total(spans, k, deep) for k in METRIC_KEYS}
    out["s"] = sum(s.duration if deep else tracer.self_time(s.id) for s in spans)
    out["calls"] = len(spans)
    return out
