"""Harness pieces shared by the workloads: environment pinning, CPU
calibration, process-tree memory sampling, spans and percentiles.

Everything the benchmark writes goes under ``WORK`` inside the checkout.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_env() -> None:
    """Fix the settings every Spark session and subprocess of a run sees:
    all cores, a heap that fits the host, scratch and temp files inside the
    checkout, and the package on the Python workers' path (workers are
    separate interpreters and do not inherit ``sys.path``)."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    heap_gb = max(1, min(4, int(mem_total_mb() / 1024 / 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(event_log_dir: str | None = None) -> dict:
    """Extra session settings: quiet console, JVM temp files in the
    checkout and, for traced runs, an uncompressed event log."""
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def environment() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb()),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "spark_driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }


def spin_mops(n: int = 3_000_000) -> float:
    """Single-thread pure-Python spin, in million loop steps per second.
    Runs outside every timed window; a low reading marks a run measured
    while other tenants held the CPU."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return n / (time.perf_counter() - t0) / 1e6


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [root_pid]
    while stack:
        for kid in kids.get(stack.pop(), ()):
            out.append(kid)
            stack.append(kid)
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, shut its JVM down and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running after stop")
        time.sleep(0.1)


class RssSampler:
    """Samples the resident memory of a process tree on a daemon thread and
    keeps the peak. Used as a context manager around the measured work."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


class Spans:
    """In-memory span recorder: (name, start, end, parent), written out
    once at the end of a traced run. Times are seconds since ``t0``."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.records: list[dict] = []
        self._open: list[str] = []

    def span(self, name: str, on_enter=None):
        spans = self

        class _Span:
            def __enter__(self):
                self.parent = spans._open[-1] if spans._open else None
                spans._open.append(name)
                if on_enter is not None:
                    on_enter(name)
                self.start = time.perf_counter()
                return self

            def __exit__(self, *exc):
                end = time.perf_counter()
                spans._open.pop()
                self.seconds = end - self.start
                spans.records.append(
                    {
                        "name": name,
                        "start": self.start - spans.t0,
                        "end": end - spans.t0,
                        "parent": self.parent,
                    }
                )

        return _Span()

    def uncovered(self, wall: float) -> float:
        """Part of ``wall`` (since t0) that no top-level span covers."""
        top = sorted((r["start"], r["end"]) for r in self.records if r["parent"] is None)
        covered, reach = 0.0, 0.0
        for s, e in top:
            s = max(s, reach)
            if e > s:
                covered += e - s
                reach = e
        return max(0.0, wall - covered)
