"""Spark event-log reader: the jobs, stages and tasks a traced run's
per-layer ``spark.*`` metrics are computed from.

The traced run writes an uncompressed event log (``spark.eventLog.compress
=false``); Spark 4 rolls it into ``eventlog_v2_<app>/events_<n>_<app>``
files. Only three event types are decoded. Adaptive-execution plan updates
make up most of the log's bytes, so each line's event name is checked
before the line is parsed.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_WANTED = tuple(
    '{"Event":"SparkListener' + name + '"'
    for name in ("JobStart", "StageCompleted", "TaskEnd")
)
# SQL-metric accumulables of the Python-boundary operators (ArrowEvalPython,
# MapInPandas, FlatMap(Co)GroupsInPandas, ...)
_TO_PYTHON = "data sent to Python workers"
_FROM_PYTHON = "data returned from Python workers"


@dataclass
class Task:
    launch: float  # epoch seconds
    finish: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_bytes: int  # written
    shuffle_records: int  # written
    spill_bytes: int  # memory + disk

    @property
    def wall(self) -> float:
        return self.finish - self.launch


@dataclass
class Stage:
    id: int
    scopes: set[str] = field(default_factory=set)
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    tasks: list[Task] = field(default_factory=list)

    @property
    def python(self) -> bool:
        """Whether the stage runs a Python worker (a ``*InPandas``,
        ``*InArrow`` or ``*EvalPython`` node is among its RDD scopes)."""
        return any(
            s.endswith(("InPandas", "InArrow")) or "EvalPython" in s
            for s in self.scopes
        )


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    stage_ids: list[int]


def read(event_dir: str) -> tuple[list[Job], dict[int, Stage]]:
    """All jobs (in submission order) and executed stages under
    ``event_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    # one application per directory: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.startswith(_WANTED):
                    _apply(json.loads(line), jobs, stages)
    return sorted(jobs.values(), key=lambda j: j.submit), stages


def _apply(ev: dict, jobs: dict[int, Job], stages: dict[int, Stage]) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        jobs[ev["Job ID"]] = Job(
            id=ev["Job ID"],
            group=props.get("spark.jobGroup.id"),
            submit=ev["Submission Time"] / 1000.0,
            stage_ids=list(ev.get("Stage IDs", [])),
        )
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
        for rdd in info.get("RDD Info", []):
            if rdd.get("Scope"):
                st.scopes.add(json.loads(rdd["Scope"])["name"])
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == _TO_PYTHON:
                st.bytes_to_python += int(acc.get("Value") or 0)
            elif acc.get("Name") == _FROM_PYTHON:
                st.bytes_from_python += int(acc.get("Value") or 0)
    elif kind == "SparkListenerTaskEnd":
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
        st.tasks.append(
            Task(
                launch=info["Launch Time"] / 1000.0,
                finish=info["Finish Time"] / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                shuffle_records=sw.get("Shuffle Records Written", 0),
                spill_bytes=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            )
        )
