"""Spark session, process-tree memory and the closed measurement loop.

Every workload is a closed loop: one driver thread issues one action at
a time on ``local[2]`` (2 JVM task threads plus their Python workers),
and the next action starts only when the previous one has returned.
"""

from __future__ import annotations

import os
import signal
import statistics
import sys
import threading
import time

MASTER = "local[2]"
BATCH_ROWS = 65_536  # Arrow batch size, and the per-layer microbenchmark batch


def new_session(work: str, event_dir: str | None = None):
    """A fresh SparkSession whose every file lands under ``work``.  With
    ``event_dir`` the session writes an uncompressed event log there."""
    from pyspark.sql import SparkSession

    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    b = (
        SparkSession.builder.master(MASTER)
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(BATCH_ROWS))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    )
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", event_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def process_env(root: str, work: str) -> None:
    """Environment the JVM and the Python workers inherit: the library
    importable from the checkout, temp files inside ``work``."""
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory of the whole process tree (this process,
    the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            me = os.getpid()
            kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def shutdown(spark) -> None:
    """Stop Spark, the JVM gateway and its Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Probe:
    """What an operation reports besides its result.  Traced, it also
    times the physical planning of every action from outside, by
    forcing the plan before the action runs."""

    def __init__(self, trace: bool = False):
        self.trace = trace
        self.plan_s = 0.0
        self.build_s = 0.0

    def collect(self, df):
        if self.trace:
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            self.plan_s += time.perf_counter() - t0
        return df.collect()


class Loop:
    """Closed loop over a workload's operations: whole cycles (each
    operation once, in order) until ``seconds`` have passed, at least
    one cycle and at most the workload's ``MAX_CYCLES``.  Each
    operation is timed alone; ``check`` judges its result."""

    def __init__(self, spark, workload, probe):
        self.spark, self.wl, self.probe = spark, workload, probe
        self.times: dict[str, list[float]] = {name: [] for name, _ in workload.ops()}
        self.rows: dict[str, int] = {}
        self.attempted = self.failed = 0
        self.cycles = 0

    def run(self, seconds: float) -> "Loop":
        sc = self.spark.sparkContext
        start = time.perf_counter()
        limit = self.wl.MAX_CYCLES or float("inf")
        while self.cycles == 0 or (time.perf_counter() - start < seconds
                                   and self.cycles < limit):
            for name, fn in self.wl.ops():
                sc.setJobDescription(name)
                t0 = time.perf_counter()
                rows, result = fn(self.probe)
                self.times[name].append(time.perf_counter() - t0)
                self.rows[name] = rows
                self.attempted += 1
                if not self.wl.check(name, result):
                    self.failed += 1
            self.cycles += 1
        sc.setJobDescription(None)
        return self

    def op_median(self, name: str) -> float:
        return statistics.median(self.times[name])

    def op_quartiles(self, name: str) -> tuple[float, float]:
        t = self.times[name]
        if len(t) < 2:
            return t[0], t[0]
        q = statistics.quantiles(t, n=4)
        return q[0], q[2]

    def cycle_s(self) -> float:
        """One pass through every operation, from per-operation medians."""
        return sum(self.op_median(n) for n in self.times)

    def rows_per_s(self) -> float:
        """Rows of one cycle over its time: the slow operations dominate."""
        return sum(self.rows.values()) / self.cycle_s()

    def op_geomean_rows_per_s(self) -> float:
        """Geometric mean of the per-operation rates: every operation
        weighs the same, so a change confined to a short one shows."""
        return statistics.geometric_mean(self.rows[n] / self.op_median(n) for n in self.times)
