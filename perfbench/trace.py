"""Tracing for the lake benchmark's traced runs.

Spans are recorded from outside the package: the benchmark wraps the
public functions of each module it attributes time to, before the
operator modules import them by name, and keeps every span in memory
(name, start, end, parent, op id) until the run writes them out. Spark's
own event log (tasks, stages, jobs) and the PySpark UDF profiler are
read back after the session stops and attributed to spans by time.
"""

from __future__ import annotations

import functools
import json
import os
import pstats
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: str | None
    start: float  # time.time(), seconds since the epoch
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store. Each thread nests its own spans; the
    streaming phase's foreachBatch callbacks run on another thread and
    so record root spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(
                len(self.spans),
                name,
                parent.sid if parent else None,
                op if op is not None else (parent.op if parent else None),
                time.time(),
                attrs=attrs,
            )
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def event(self, name: str, **attrs) -> None:
        """A zero-length span: a count at a layer boundary."""
        with self.span(name, **attrs):
            pass

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``
        around each call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self, keep=None) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children (children never overlap their siblings here),
        over the spans ``keep`` accepts (all by default)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            if keep is None or keep(s):
                out[s.name] = out.get(s.name, 0.0) + s.dur - child_time.get(s.sid, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "op": s.op,
                            "start": s.start,
                            "end": s.end,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, counting data files only."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue  # checksums and _SUCCESS markers
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def install_scratch_probe(tracer: Tracer, helpers) -> None:
    """Count keyed-scratch builds and hits in ``operators._helpers``.
    Must run before any operator module imports ``materialize`` or
    ``pin`` by name."""
    inner = helpers._materialize_with_path
    lazy = helpers.materialize_lazy

    def with_path(df, key=None, fan_out=True):
        app = df.sparkSession.sparkContext.applicationId
        if key is not None and (app, key) in helpers._MATERIALIZED:
            tracer.event("scratch.hit", key=key)
            return inner(df, key, fan_out)
        with tracer.span("scratch.build", key=key) as s:
            out, path = inner(df, key, fan_out)
            s.attrs["bytes"] = dir_bytes(path)[0]
        return out, path

    def materialize_lazy(spark, key, builder, fan_out=True):
        if (spark.sparkContext.applicationId, key) in helpers._MATERIALIZED:
            tracer.event("scratch.hit", key=key)
        return lazy(spark, key, builder, fan_out)

    helpers._materialize_with_path = with_path
    helpers.materialize_lazy = materialize_lazy


# ------------------------------------------------------------ event log
@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    fetch_wait_s: float


@dataclass
class EventLog:
    jobs: dict[int, tuple[float, list[int]]]  # job -> (submit time, stages)
    tasks: list[Task]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the uncompressed event log of the (single) application
    written under ``log_dir``, rolled into several files or not."""
    jobs: dict[int, tuple[float, list[int]]] = {}
    tasks: list[Task] = []
    paths = [os.path.join(r, n) for r, _, names in os.walk(log_dir) for n in names]
    for path in sorted(paths, key=lambda p: [int(x) if x.isdigit() else x for x in p.split("_")]):
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    m = ev["Task Metrics"]
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            run_s=m["Executor Run Time"] / 1000.0,
                            cpu_s=m["Executor CPU Time"] / 1e9,
                            gc_s=m["JVM GC Time"] / 1000.0,
                            input_bytes=m["Input Metrics"]["Bytes Read"],
                            shuffle_read=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                            shuffle_write=sw["Shuffle Bytes Written"],
                            spill=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                            fetch_wait_s=sr["Fetch Wait Time"] / 1000.0,
                        )
                    )
    return EventLog(jobs, tasks)


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span of ``spans`` whose interval holds ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def attribute_jobs(log: EventLog, spans: list[Span]) -> dict[int, Span]:
    """Map each job to the innermost span live when it was submitted."""
    out = {}
    for job, (submit, _) in log.jobs.items():
        s = innermost(spans, submit)
        if s is not None:
            out[job] = s
    return out


def executor_metrics(tasks: list[Task], cores: int, wall_s: float) -> dict[str, float]:
    """Executor, shuffle and scan totals for ``tasks``, plus slot
    utilisation over ``wall_s`` and the median per-stage skew (slowest
    task over the stage's median task)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_s)
    skews = [
        max(v) / statistics.median(v)
        for v in by_stage.values()
        if len(v) >= 2 and statistics.median(v) > 0
    ]
    run_s = sum(t.run_s for t in tasks)
    return {
        "executor.run_s": run_s,
        "executor.cpu_s": sum(t.cpu_s for t in tasks),
        "executor.gc_s": sum(t.gc_s for t in tasks),
        "executor.tasks": len(tasks),
        "executor.slot_util": run_s / (cores * wall_s) if wall_s > 0 else 0.0,
        "executor.task_skew": statistics.median(skews) if skews else 1.0,
        "shuffle.write_bytes": sum(t.shuffle_write for t in tasks),
        "shuffle.read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle.spill_bytes": sum(t.spill for t in tasks),
        "shuffle.fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
        "scan.bytes_read": sum(t.input_bytes for t in tasks),
    }


def read_udf_profiles(dump_dir: str) -> tuple[float, int]:
    """(Python seconds, UDF invocations) from the perf profiles that
    ``spark.profile.dump`` wrote. Each invocation of a UDF body is one
    root call in its profile."""
    if not os.path.isdir(dump_dir):
        return 0.0, 0
    secs, calls = 0.0, 0
    for name in os.listdir(dump_dir):
        if not name.endswith(".pstats"):
            continue
        st = pstats.Stats(os.path.join(dump_dir, name))
        secs += st.total_tt
        calls += sum(v[1] for v in st.stats.values() if not v[4])
    return secs, calls
