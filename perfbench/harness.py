"""Process-level plumbing: environment, Spark session lifetime, /proc
sampling and timing helpers.

:func:`configure` must run before pyspark is imported: the JVM and the
Python workers read these environment variables when they start.
"""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb(avail_mb: int) -> int:
    """Heap for the driver JVM: a quarter of available memory, at most 1 GiB,
    in 256 MiB steps, so a host with plenty of memory always gets the same
    heap and the rest stays free for the page cache and Python workers. The
    engine pins and pre-touches the whole heap, so a smaller one also starts
    faster."""
    return max(512, min(1024, avail_mb // 4) // 256 * 256)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(root: str, work: str) -> None:
    """Point every process this run starts at the checkout and the work dir."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        # Python workers import data_profiler_spark from any cwd.
        "PYTHONPATH": root + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb(mem_available_mb())}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    if root not in sys.path:
        sys.path.insert(0, root)


def check_fits(work: str, input_mb: float) -> None:
    """Refuse to start when the inputs (plus outputs, spill and page cache)
    would not fit this host; a shrunken input would be another workload."""
    free_mb = shutil.disk_usage(work).free // (1 << 20)
    if free_mb < 4 * input_mb + 512:
        raise SystemExit(f"perfbench: needs {4 * input_mb + 512:.0f} MB free disk, have {free_mb}")
    need = 2 * input_mb + int(os.environ["SPARK_DRIVER_MEMORY"].rstrip("m")) + 1024
    if mem_available_mb() < need:
        raise SystemExit(f"perfbench: needs {need:.0f} MB available memory")


# -- /proc process tree ------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (not including it)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_pss_mb(pid: int) -> float:
    """Proportional set size of ``pid`` and its live descendants. PSS, not
    RSS: ZGC maps its heap several times, and RSS counts each mapping."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and its live descendants (the JVM
    and every Python worker)."""
    total = 0
    for p in [pid, *descendants(pid)]:
        f = _stat_fields(p)
        if f is not None:
            total += int(f[11]) + int(f[12])
    return total / _TICK


class MemorySampler:
    """Peak memory (PSS) of this process tree, sampled on a thread. One
    sample of the JVM's PSS walks its page tables (~0.1 s for a 2 GiB ZGC
    heap), hence the slow default rate."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark session -----------------------------------------------------------


def start_spark(work: str, event_log: str | None = None):
    from data_profiler_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=cores(), extra_confs=confs)


def warm_python_workers(spark) -> None:
    """Start the Python worker pool (one trivial Arrow UDF task per core)."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, numPartitions=n).mapInArrow(lambda it: it, "id long").count()


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and the JVM, and wait until every process the JVM
    started (Python workers included) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except Exception:  # noqa: BLE001 - any wait failure ends in kill
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


# -- timing and outcome ------------------------------------------------------


@dataclass
class Outcome:
    """Operations attempted and failed (a wrong output counts as failed)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def hd_median(xs: list[float], steps_per_value: int = 200) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, with weights from the Beta((n+1)/2, (n+1)/2) distribution.
    Steadier than the sample median when the middle values lie far apart,
    as the walls of different queries do."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    steps = steps_per_value * n
    log_c = math.lgamma(2 * a) - 2 * math.lgamma(a)

    def pdf(t: float) -> float:
        return math.exp(log_c + (a - 1) * (math.log(t) + math.log1p(-t))) if 0 < t < 1 else 0.0

    dens = [pdf(j / steps) for j in range(steps + 1)]
    cdf = [0.0]
    for j in range(steps):
        cdf.append(cdf[-1] + (dens[j] + dens[j + 1]) / (2 * steps))
    w = [cdf[(k + 1) * steps_per_value] - cdf[k * steps_per_value] for k in range(n)]
    return sum(wk * x for wk, x in zip(w, xs)) / sum(w)
