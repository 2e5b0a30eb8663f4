"""Shared machinery of the benchmark: box fingerprint, process-tree RSS
sampling, the Spark session, Spark job/stage/task counts, spans and the
statistics every workload reports.

Nothing here imports ``fastparquet_spark`` at module level, so
``run.py`` can refuse a checkout without the package before any of
this starts a process.
"""

from __future__ import annotations

import contextlib
import math
import os
import platform
import subprocess
import threading
import time

GIB = 1 << 30


# ---------------------------------------------------------------- stats

def median(xs):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def p90(xs):
    """Nearest-rank 90th percentile: the same statistic whatever the
    number of samples (the maximum below ten samples)."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return xs[math.ceil(0.9 * len(xs)) - 1]


# ------------------------------------------------------------- the box

def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time already counted in user and nice
    return fields[7], sum(fields[:8])


def steal_ratio(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_jiffies()`` readings."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def git_rev(root: str) -> str:
    """The checkout's commit, or "none" where it is not a git work tree
    (a plain export of the files)."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def source_digest(root: str) -> str:
    """Digest of the package's sources: names the build where the
    checkout is not a git work tree."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "fastparquet_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def fingerprint(root: str, native: dict) -> dict:
    import pyarrow
    import pyspark

    return {"nproc": os.cpu_count(),
            "mem_total_gb": round(mem_total_bytes() / GIB, 2),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "git_rev": git_rev(root),
            "src_digest": source_digest(root),
            **native}


# ------------------------------------------------------- RSS sampling

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces: the ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_pids(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver,
    the JVM, Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in tree_pids(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------- spans

class Tracer:
    """Spans recorded around each layer call the benchmark makes: name,
    start, end, parent span and op id.  Kept in memory; written at exit.
    A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds.  Self time is a
        span's duration minus the time its children cover (children of
        one span never overlap: the benchmark is one thread)."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_cover[s["id"]]
        return out


# ------------------------------------------------------- Spark session

def driver_heap_gb(mem_total: int) -> int:
    """Driver heap from the box: a quarter of MemTotal, 1-4 GiB."""
    return max(1, min(4, mem_total // (4 * GIB)))


def start_spark(work: str, cores: int, app: str):
    from pyspark.sql import SparkSession

    heap = driver_heap_gb(mem_total_bytes())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName(app)
             .config("spark.driver.memory", f"{heap}g")
             .config("spark.driver.extraJavaOptions", java_opts)
             .config("spark.executor.extraJavaOptions", java_opts)
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "spark-warehouse"))
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.sql.python.filterPushdown.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit; kill it if it does not."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


class SparkCounts:
    """Jobs, stages and tasks of one op, counted from outside through a
    job group and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        self.n += 1
        gid = f"perfbench-{self.n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(None, None)

    def count(self, gid: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), stages, tasks


def fmt(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    return str(v)
