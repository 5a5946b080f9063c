"""Measurement plumbing shared by the workloads: the Spark session, the
span tracer, Spark job/task/GC counters, the process-tree RSS sampler
and the small statistics the metrics use.

Nothing here imports the engine at module level, so ``run.py`` can fail
fast (non-zero exit, no result line) when the package is not next to it.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKSPACE = os.path.join(ROOT, ".perfbench")
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"


# --- statistics ---------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    (value, percentile, sample count).  With too few samples for any
    such percentile, the maximum (reported as percentile 100)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return float(s[-1]), 100.0, n
    k = n - beyond - 1  # index with exactly `beyond` samples after it
    return float(s[k]), round(100.0 * (k + 1) / n, 1), n


# --- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end.  A span's self time is its duration minus the part covered
    by its children.  ``enabled=False`` makes every span a no-op, so the
    untraced run pays nothing for the calls left in place."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        b0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            b1 = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, tuple[int, float, float]] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            c, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
            out[s["name"]] = (c + 1, tot + d, slf + d - child_cover.get(s["id"], 0.0))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- Spark counters -----------------------------------------------------------


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return int(sum(b.getCollectionTime() for b in beans))


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_rchar(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError(f"no rchar in /proc/{pid}/io")


class SparkCounters:
    """Jobs, tasks, failed tasks and JVM GC time of one call, read from
    the benchmark side: the call runs under its own job group and the
    status tracker is read when it returns."""

    def __init__(self, spark):
        self.spark = spark
        self._n = 0
        self.bookkeeping_s = 0.0  # time spent reading the counters

    @contextmanager
    def measure(self, label: str):
        sc = self.spark.sparkContext
        b0 = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        out: dict = {}
        gc0 = _gc_ms(self.spark)
        sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        try:
            yield out
        finally:
            out["secs"] = time.perf_counter() - t0
            b1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            out.update(
                spark_jobs=len(jobs), tasks=tasks, tasks_failed=failed,
                gc_ms=_gc_ms(self.spark) - gc0,
            )
            self.bookkeeping_s += time.perf_counter() - b1


# --- memory -------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _resident_bytes(pid: int) -> tuple[bool, int]:
    """PSS for most processes: forked Python workers share their
    daemon's pages, and summed RSS counted those once per worker (2.2-4.3
    GB over five identical stream runs).  The JVM shares almost nothing
    with the rest of the tree, and walking its page tables for PSS takes
    ~20 ms per sample on this box, slowing the run being measured, so its
    RSS comes from statm instead.  Returns (is the JVM, bytes)."""
    with open(f"/proc/{pid}/comm") as f:
        is_jvm = f.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as f:
            return True, int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return False, int(line.split()[1]) * 1024
    return False, 0


def tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_resident(root_pid: int) -> dict[int, tuple[bool, int]]:
    """pid -> (is the JVM, resident bytes) for a process tree, each
    shared page of the Python workers counted once (see _resident_bytes)."""
    out = {}
    for pid in tree(root_pid):
        try:
            out[pid] = _resident_bytes(pid)
        except OSError:  # the process exited between listing and reading
            pass
    return out


class RssSampler:
    """Peak summed resident memory of this process and all its
    descendants (the JVM, Python workers), sampled from /proc on a
    background thread, with how the peak splits between processes."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[int, tuple[bool, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        per = tree_resident(os.getpid())
        total = sum(b for _jvm, b in per.values())
        if total > self.peak:
            self.peak, self.at_peak = total, per

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def split(self) -> str:
        """The peak by process: the JVM, this process, the others."""
        jvm = mine = others = n = 0
        for pid, (is_jvm, b) in self.at_peak.items():
            if is_jvm:
                jvm += b
            elif pid == os.getpid():
                mine = b
            else:
                others, n = others + b, n + 1
        return (f"peak memory {self.peak / 2**20:.0f} MB = JVM {jvm / 2**20:.0f} + benchmark "
                f"process {mine / 2**20:.0f} + {n} other processes {others / 2**20:.0f} MB")


# --- session ------------------------------------------------------------------


def start_session(work: str):
    """The engine's session factory, pinned to this box's 4 cores, with
    every scratch location inside ``work``.  Python workers get the
    checkout on their path (they import the engine's Arrow kernels)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # PySpark's gateway handshake file goes here
    # the environment variable wins over spark.local.dir, so an outer
    # SPARK_LOCAL_DIRS would otherwise move shuffle files out of `work`
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from llm_drift_detector_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap under the throughput collector: with G1's
            # adaptive sizing, peak memory of ten identical stream runs
            # ranged 1.85-2.59 GB; with this, 2.19-2.27 GB
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC -Xms{DRIVER_MEM}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and the Python workers it
    started have exited (killing any still there after 30 s)."""
    from pyspark import SparkContext

    started = tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory, ignoring Spark's marker and
    checksum files."""
    size = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files
