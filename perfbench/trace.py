"""Tracing from outside the package: spans around calls to its public
functions, one window (and Spark job group) per benchmark operation, and
the join of both with Spark's event log.

Spans and operations stay in memory until the run ends. Times are epoch
seconds (``time.time()``), the clock Spark's event log uses.
"""

from __future__ import annotations

import dataclasses
import functools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import eventlog


@dataclass
class Span:
    name: str  # "<layer>.<function>", e.g. "crawl.fsio.rename"
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans


@dataclass
class Op:
    """One benchmark operation: a query leaf or a crawl round."""

    name: str
    start: float = 0.0
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Times operations always; records spans and sets job groups only
    when ``enabled`` (the traced run)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` with a version that records a span named
        ``<layer>.<attr>``; callers that resolve the attribute at call time
        (``fsio.rename(...)``) go through it."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{attr}"):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    @contextmanager
    def span(self, name: str):
        stack = self._stack.__dict__.setdefault("s", [])
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, stack[-1] if stack else None))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    @contextmanager
    def op(self, name: str, **info):
        op = Op(name, info=info)
        if self.enabled:
            self.spark.sparkContext.setJobGroup(name, name)
        op.start = time.time()
        try:
            yield op
        finally:
            op.end = time.time()
            if self.enabled:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def span_total(self, ops: list[Op], prefix: str) -> tuple[int, float]:
        """Number and covered wall of the outermost spans whose name starts
        with ``prefix`` inside ``ops``."""
        out = []
        for s in self.spans:
            if not (s.name.startswith(prefix) and any(o.start <= s.start <= o.end for o in ops)):
                continue
            p = s.parent
            while p is not None and not self.spans[p].name.startswith(prefix):
                p = self.spans[p].parent
            if p is None:
                out.append((s.start, s.end))
        return len(out), length(out)


# ---------------- interval arithmetic ----------------


def merge(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def intersect(x: list, y: list) -> list[tuple[float, float]]:
    x, y = merge(x), merge(y)
    out, i, j = [], 0, 0
    while i < len(x) and j < len(y):
        a, b = max(x[i][0], y[j][0]), min(x[i][1], y[j][1])
        if a < b:
            out.append((a, b))
        if x[i][1] < y[j][1]:
            i += 1
        else:
            j += 1
    return out


def subtract(x: list, y: list) -> list[tuple[float, float]]:
    out = []
    y = merge(y)
    for a, b in merge(x):
        for c, d in y:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


def length(iv: list) -> float:
    return sum(b - a for a, b in merge(iv))


# ---------------- event log join ----------------


@dataclass
class OpSpark:
    """Spark's side of one operation, from the event log."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    driver_s: float = 0.0  # op wall not covered by any running task
    # max / median task wall in the op's longest stage of 2 or more tasks
    task_skew: float | None = None
    python_s: float = 0.0
    python_bytes: int = 0
    seen_python_s: float = 0.0  # FlatMap(Co)GroupsInPandas stages
    fetch_python_s: float = 0.0  # MapInPandas stages
    fetch_bytes_to_python: int = 0
    fetch_bytes_from_python: int = 0
    task_intervals: list = field(default_factory=list, repr=False)


def join_event_log(ops: list[Op], event_dir: str) -> dict[str, OpSpark]:
    """Per-operation Spark metrics. A job belongs to the operation whose
    job group it carries; jobs without a group (submitted from threads
    the group does not reach, like the engine's checkpoint-write pool)
    belong to the operation running when they were submitted."""
    jobs, stages = eventlog.read(event_dir)
    by_name = {op.name: op for op in ops}
    stage_ids: dict[str, set[int]] = {op.name: set() for op in ops}
    out = {op.name: OpSpark() for op in ops}
    for job in jobs:
        op = by_name.get(job.group) if job.group else None
        if op is None:
            op = next((o for o in ops if o.start <= job.submit <= o.end), None)
        if op is None:
            continue
        out[op.name].jobs += 1
        stage_ids[op.name].update(s for s in job.stage_ids if s in stages)
    for op in ops:
        m = out[op.name]
        longest: list[float] = []
        longest_span = -1.0
        for sid in stage_ids[op.name]:
            st = stages[sid]
            if not st.tasks:
                continue
            m.stages += 1
            walls = [t.wall for t in st.tasks]
            span = max(t.finish for t in st.tasks) - min(t.launch for t in st.tasks)
            # a one-task stage (most after AQE coalescing) cannot be skewed
            if len(walls) > 1 and span > longest_span:
                longest, longest_span = walls, span
            stage_s = sum(walls)
            m.tasks += len(st.tasks)
            m.task_s += stage_s
            m.task_cpu_s += sum(t.cpu_s for t in st.tasks)
            m.gc_s += sum(t.gc_s for t in st.tasks)
            m.scan_bytes += sum(t.input_bytes for t in st.tasks)
            m.shuffle_bytes += sum(t.shuffle_bytes for t in st.tasks)
            m.shuffle_records += sum(t.shuffle_records for t in st.tasks)
            m.spill_bytes += sum(t.spill_bytes for t in st.tasks)
            m.task_intervals += [(t.launch, t.finish) for t in st.tasks]
            if st.python:
                m.python_s += stage_s
                m.python_bytes += st.bytes_to_python + st.bytes_from_python
            if st.scopes & {"FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas"}:
                m.seen_python_s += stage_s
            if "MapInPandas" in st.scopes:
                m.fetch_python_s += stage_s
                m.fetch_bytes_to_python += st.bytes_to_python
                m.fetch_bytes_from_python += st.bytes_from_python
        if longest and statistics.median(longest) > 0:
            m.task_skew = max(longest) / statistics.median(longest)
        m.driver_s = op.wall - length(intersect(m.task_intervals, [(op.start, op.end)]))
    return out


def spark_sums(ms: list[OpSpark], wall: float) -> dict[str, float]:
    """Per-layer ``spark.*`` metrics of a set of operations whose summed
    wall is ``wall``."""
    task_s = sum(m.task_s for m in ms)
    skews = [m.task_skew for m in ms if m.task_skew is not None]
    return {
        "spark.driver_s": sum(m.driver_s for m in ms),
        "spark.task_s": task_s,
        "spark.task_cpu_s": sum(m.task_cpu_s for m in ms),
        "spark.busy_cores": task_s / wall,
        "spark.scan_bytes": sum(m.scan_bytes for m in ms),
        "spark.shuffle_bytes": sum(m.shuffle_bytes for m in ms),
        "spark.shuffle_records": sum(m.shuffle_records for m in ms),
        "spark.spill_bytes": sum(m.spill_bytes for m in ms),
        "spark.gc_s": sum(m.gc_s for m in ms),
        "spark.jobs": sum(m.jobs for m in ms),
        "spark.stages": sum(m.stages for m in ms),
        "spark.tasks": sum(m.tasks for m in ms),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.python_s": sum(m.python_s for m in ms),
        "spark.python_bytes": sum(m.python_bytes for m in ms),
    }


def record(tracer: Tracer, op: Op, m: OpSpark) -> dict:
    """The trace file's record of one operation."""
    return {
        "op": op.name,
        "start": op.start,
        "end": op.end,
        "spans": [
            dataclasses.asdict(s) for s in tracer.spans if op.start <= s.start <= op.end
        ],
        "spark": {k: v for k, v in dataclasses.asdict(m).items() if k != "task_intervals"},
    }
