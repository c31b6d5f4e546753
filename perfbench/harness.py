"""Op recording, checks, statistics and process/environment readings
shared by the workloads and the entry point."""

from __future__ import annotations

import os
import platform
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

from tracing import Tracer


class Context:
    """What a workload gets: the session, the tracer, its scratch dir,
    the seeded RNG, and the op log it records into.

    An op is one timed call into the system (a query, a sync, a DML
    face, a read).  Checks and trace-only probes run inside
    :meth:`aside`, whose time is kept out of ``ops_per_s``."""

    def __init__(self, spark, tracer: Tracer, scratch: str, rng, sf: float):
        self.spark = spark
        self.tracer = tracer
        self.scratch = scratch
        self.rng = rng
        self.sf = sf
        self._timed = False
        self.ops: list[dict] = []
        self.setup_checks = 0
        self.setup_failed = 0
        self.failures: list[str] = []
        self.aside_s = 0.0
        self.extra: dict[str, float] = {}

    @property
    def timed(self) -> bool:
        """True once set-up and warm-up are over."""
        return self._timed

    @timed.setter
    def timed(self, value: bool) -> None:
        self._timed = self.tracer.timed = value

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    @contextmanager
    def op(self, kind: str, **attrs):
        rec = {"kind": kind, "ok": True, **attrs}
        op_id = len(self.ops) if self.timed else None
        self.tracer.set_op(op_id)
        try:
            with self.tracer.span(kind, **attrs) as span:
                t0 = time.perf_counter()
                yield rec
                rec["dt"] = time.perf_counter() - t0
        finally:
            self.tracer.set_op(None)
        rec["span"] = span
        if self.timed:
            rec["id"] = op_id
            self.ops.append(rec)

    @contextmanager
    def aside(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.aside_s += time.perf_counter() - t0

    def check(self, rec: dict | None, ok: bool, what: str) -> bool:
        """Record one correctness check on op ``rec`` (``None``: a set-up
        check).  Checks before the timed phase count as attempted ops of
        their own."""
        if not self.timed:
            self.setup_checks += 1
            self.setup_failed += not ok
        if not ok:
            if rec is not None:
                rec["ok"] = False
            self.failures.append(what)
        return ok

    def finish_op(self, rec: dict) -> None:
        """Attach Spark counters to a traced op's spans (outside timing)."""
        if self.tracing and self.timed:
            with self.aside():
                self.tracer.attach_spark_counters(
                    self.tracer.op_spans(rec["id"])
                )


# ----------------------------------------------------------------- stats
def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile).  Below 21 samples that percentile would not be
    above the median, so the tail is the maximum, pct 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return (xs[-1] if xs else 0.0), 100.0
    return xs[n - 11], round(100.0 * (n - 10) / n, 1)


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


# ---------------------------------------------------------------- process
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def stop_children(timeout: float = 30.0) -> None:
    """Terminate the processes this one started that still run (a JVM
    whose session never finished starting), and reap each."""
    kids = _children(os.getpid())
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in kids:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except ChildProcessError:  # reaped already
            pass


def jvm_pid() -> int | None:
    """The JVM this process launched: the first ``java`` process below us."""
    frontier = [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for c in _children(pid):
            try:
                with open(f"/proc/{c}/comm") as fh:
                    if fh.read().strip() == "java":
                        return c
            except OSError:
                continue
            frontier.append(c)
    return None


def rss_peaks_mb() -> tuple[float, float]:
    """VmHWM of this process and of the JVM child, in MB."""
    jpid = jvm_pid()
    drv = _status_kb(os.getpid(), "VmHWM") / 1024.0
    jvm = _status_kb(jpid, "VmHWM") / 1024.0 if jpid else 0.0
    return drv, jvm


def live_heap_mb(spark) -> float:
    """JVM heap in use after full collections, in MB: what the program
    keeps live, whatever heap size the JVM was given.

    Python's collector runs first, so JVM objects that only dead Python
    proxies held become unreachable.  A collection lets Spark's context
    cleaner drop the cached, broadcast and shuffle blocks it found
    unreachable, which frees more at the next one; collect until a
    reading stops falling (at most five rounds)."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)
        if last is not None and used > last - 1.0:
            break
        last = used
        time.sleep(0.5)
    return min(used, last)


def seconds_since_process_start() -> float:
    """Wall seconds since this process was created (``/proc`` start
    time, 10 ms resolution), so interpreter start-up is counted too."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ environment
def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return ""


def environment(root: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        rev = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        rev = ""
    return {
        "cpus": os.cpu_count(),
        "nproc": len(os.sched_getaffinity(0)),
        "boot_id": _read("/proc/sys/kernel/random/boot_id"),
        "git_rev": rev or "unknown (not a git checkout)",
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def loadavg() -> list[float]:
    return [float(x) for x in _read("/proc/loadavg").split()[:3]]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over CPUs (``/proc/stat``); 0 on bare metal."""
    fields = _read("/proc/stat").split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
