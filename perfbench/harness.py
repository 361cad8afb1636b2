"""Session start-up, operation timing, memory sampling and the host-noise
probe shared by every workload."""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """A local Spark session sized for this host: one slot per core, as
    many shuffle partitions as cores, a 1 GB driver heap, and every
    scratch file (shuffle, temp, warehouse) under ``work``."""
    from pyspark.sql import SparkSession

    n = ncpu()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and the Python workers inherit this, so no scratch file
    # lands outside the work directory
    os.environ["TMPDIR"] = tmp
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "1g")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             # C1 only: a run is too short for C2 to pay off, and C2's
             # compile threads made up about half of the CPU time measured
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1")
             # the traced run reads every job of the run from the status store
             .config("spark.ui.retainedJobs", "20000")
             .config("spark.ui.retainedStages", "40000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noise_probe(spark) -> dict:
    """Fixed-cost work whose timing exposes a loaded host: a pure-Python
    loop and an in-memory Spark aggregate."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    t1 = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=ncpu()) \
        .selectExpr("sum(id * id % 7)").collect()
    t2 = time.perf_counter()
    return {"python_s": t1 - t0, "spark_s": t2 - t1}


class OpLog:
    """Every operation of the timed loop: kind (commit / query / service),
    name, wall seconds, whether it raised. ``tracer`` (optional) is told
    where each operation starts and ends."""

    def __init__(self, tracer=None):
        self.ops: list[dict] = []
        self.tracer = tracer

    @contextmanager
    def op(self, kind: str, name: str):
        rec = {"kind": kind, "name": name, "ok": False}
        if self.tracer:
            self.tracer.begin_op(len(self.ops), kind, name)
        t0 = time.perf_counter()
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.tracer:
                self.tracer.end_op()
            self.ops.append(rec)

    def durations(self, kind: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind]

    @property
    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops)


def timing_summary(xs: list[float]) -> dict:
    """Median plus the highest percentile that has at least ten samples
    beyond it (None when the sample is too small for any)."""
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None,
           "tail": None, "tail_pct": None}
    for pct in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - pct / 100) >= 10:
            ys = sorted(xs)
            out["tail"] = ys[min(len(ys) - 1, math.ceil(pct / 100 * len(ys)) - 1)]
            out["tail_pct"] = pct
            break
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the Python process plus the driver JVM,
    sampled every 50 ms while running."""

    def __init__(self, jvm_pid: int):
        self.pids = (os.getpid(), jvm_pid)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the fields after the parenthesised command name
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this Python process, the
    driver JVM (its executors run in it) and every process below the JVM,
    such as Python workers. Exited children count once reaped."""
    ticks = 0
    for pid in {os.getpid(), jvm_pid, *descendants(jvm_pid)}:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, children first."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(d)
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, frontier = [], [pid]
    while frontier:
        for k in kids.get(frontier.pop(0), ()):
            out.append(k)
            frontier.append(k)
    return out


def _gone(pid: int) -> bool:
    """Reaps ``pid`` if it is an exited child of this process; true once
    it no longer exists."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not a child of this process, or reaped already
    return _stat(pid) is None


def _signal(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except (ProcessLookupError, PermissionError):
            pass


def _wait_gone(pids, timeout: float) -> list[int]:
    """The pids still present after waiting up to ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if not _gone(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.02)
        left = [p for p in left if not _gone(p)]
    return left


def stop_all(spark) -> None:
    """Stop the Spark session, if there is one, then end every process this
    one started and wait until each has gone. PySpark leaves the driver JVM
    running after ``stop()`` until it notices that this process exited, and
    the Python workers below the JVM with it; here they are ended first."""
    tree = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # the JVM is ended below either way
        pass
    finally:
        tree += [p for p in descendants(os.getpid()) if p not in tree]
        _signal(tree, signal.SIGTERM)
        left = _wait_gone(tree, 20)
        _signal(left, signal.SIGKILL)
        _wait_gone(left, 20)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
