"""Shared pieces of the workloads: the run context, Spark start/stop,
and small statistics helpers."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Run:
    """State of one benchmark run."""

    work: str           # scratch directory inside the checkout
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_s: float = 0.0
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def start_spark(run: Run):
    """local[nproc] with the engine's own session defaults; every file
    Spark writes stays inside the run's work directory."""
    from pulse_spark.session import get_spark

    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PULSE_SPARK_LOCAL_DIR"] = os.path.join(run.work, "spark-local")
    # every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    }
    return get_spark(app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit: the gateway server exits when its stdin
    closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # also when stop() fails, e.g. interrupted by SIGTERM
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _prctl(option: int, arg: int, what: str) -> None:
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({what})")


def adopt_orphans() -> None:
    """Become the child subreaper (Linux PR_SET_CHILD_SUBREAPER): a
    process any descendant leaves behind, such as a PySpark daemon or
    worker that outlives its JVM, is re-parented to this process instead
    of init, so reap_children can wait for it."""
    _prctl(36, 1, "PR_SET_CHILD_SUBREAPER")


def die_with_parent() -> None:
    """Have the kernel kill this process when its parent dies (Linux
    PR_SET_PDEATHSIG), so a worker cannot outlive a killed run."""
    import signal

    _prctl(1, signal.SIGKILL, "PR_SET_PDEATHSIG")


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                # the command name may hold spaces: the fields after it start after ")"
                if f.read().rpartition(")")[2].split()[1] == me:
                    out.append(int(pid))
        except (OSError, IndexError):
            pass
    return out


def reap_children(grace_s: float = 20.0) -> None:
    """Stop multiprocessing's resource tracker, then wait until this
    process has no child left, killing any still running after grace_s."""
    import signal
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmRSS not found")


def storage_mb(spark) -> float:
    """Spark storage memory held by persisted frames, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


def median(xs) -> float:
    return statistics.median(xs)


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    i = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[i]


class Clock:
    """perf_counter stopwatch."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0
