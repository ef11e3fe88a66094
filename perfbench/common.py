"""What every workload shares: the run's private directories, the Spark
session, the process-tree RSS meter and the result record."""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
# pinned so peak RSS does not drift with the package's default heap
DRIVER_MEM = "1g"
SHUFFLE_PARTITIONS = 8


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    # written one record per operation to the trace file of a traced run
    records: list[dict] = field(default_factory=list)
    notes: dict = field(default_factory=dict)


class Run:
    """One invocation of the benchmark: its arguments and its scratch
    directory (Spark local dirs, temp files, warehouse, checkpoints, event
    log), which is created fresh and deleted by ``close``."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.dir = os.path.join(ROOT, "perfbench", ".run", f"{workload}-{os.getpid()}")
        self.event_dir = os.path.join(self.dir, "eventlog")
        self.spark = None

    def open(self) -> None:
        tmp = os.path.join(self.dir, "tmp")
        for d in (tmp, os.path.join(self.dir, "local"), self.event_dir):
            os.makedirs(d)
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "local"),
            # JVM temp files inside the run dir; no hsperfdata under /tmp
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            # leaves that locate their corpus through the environment
            SPARK_GRAFT_SF_DIR=DATA_DIR,
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def session(self):
        """Start the Spark session; returns (spark, seconds it took)."""
        from vbpl_web_crawl_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse")}
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=self.cpus,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        return self.spark, time.perf_counter() - t0

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM
        (and with it the Python workers) to exit; the event log is
        complete after this."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        import shutil

        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers) every ``interval`` seconds
    while active. A Python process counts its proportional set size, so
    pages the forked workers share count once (summed resident sets jump
    by 1.4 GB with the number of live workers). The JVM shares no pages
    with the tree but libraries, so it counts its resident set, which is
    O(1) to read; its proportional set size costs 18 ms of CPU per sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self._tree_bytes())
            if self._stop.wait(self.interval):
                return

    def _tree_bytes(self) -> int:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except OSError:
                continue  # exited while listing
            comm[int(d)] = head.split("(", 1)[1]
            children.setdefault(int(tail.split()[1]), []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _rss(pid) if comm.get(pid) == "java" else _pss(pid)
            todo += children.get(pid, [])
        return total


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0  # exited since the listing


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the listing
    return 0


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
