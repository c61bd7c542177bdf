"""Shared pieces of the benchmark: the run directory, Spark session
lifetime, host stamps and RSS sampling.

Everything a run writes goes under `<checkout>/.bench_work/`, including
Spark's local dirs, the JVM's temp dir and Python's `tempfile` dir.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".bench_work")


def prepare_env(run_id: str) -> str:
    """Create this run's work directory and point every temp dir into
    it. Must run before pyspark starts its JVM."""
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # run the program at its defaults: drop its tuning variables, so
    # the session factory picks its own core count and driver heap
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import tempfile

    tempfile.tempdir = tmp
    return work


def start_spark(app: str, master: str | None = None):
    """The program's own session factory, as a user would call it."""
    from realtime0523_spark.core.session import get_spark

    spark = get_spark(app, master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    # read from sys.modules: the sampler thread must never import pyspark
    # while the main thread is importing it
    # (possibly still half-initialised: every step may be missing)
    ctx = sys.modules.get("pyspark.core.context")
    gw = getattr(getattr(ctx, "SparkContext", None), "_gateway", None)
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and end its JVM, so the next session (or the
    next run) starts a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def reap_descendants() -> list[int]:
    """Kill and wait for anything this process started that is still
    alive (e.g. Python workers outliving their JVM). Returns the pids."""
    left = []
    stack = _children(os.getpid())
    while stack:
        pid = stack.pop()
        stack += _children(pid)
        left.append(pid)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass  # not our direct child: its own parent reaps it
    return left


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (driver JVM RSS + this Python process's RSS), sampled
    from /proc every `period` seconds on a daemon thread."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            try:
                jvm = jvm_pid()
                kb = _rss_kb(me) + (_rss_kb(jvm) if jvm else 0)
                self.peak_kb = max(self.peak_kb, kb)
            except Exception:  # noqa: BLE001 - a missed sample, never a dead sampler
                pass
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and
    everything it started: the JVM, its Python workers and the
    generator. A process that has ended counts in its parent's
    children-time fields, so summing the live tree misses nothing."""
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack += _children(pid)
    return total / _TICK


def reference_cpu_s() -> float:
    """CPU seconds of a fixed pure-Python loop, the fastest of three. It
    uses none of the program's code, so across runs it shows how fast
    the shared host ran each one."""
    times = []
    for _ in range(3):
        c0 = time.process_time()
        sum(i * i % 7 for i in range(2_000_000))
        times.append(time.process_time() - c0)
    return min(times)


def host_stamp() -> dict:
    """1-min load average and the cumulative CPU counters /proc/stat
    gives; two stamps give the steal share over the interval."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"load1": load1, "cpu_total": sum(cpu[:8]),
            "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def host_summary(a: dict, b: dict) -> dict:
    total = b["cpu_total"] - a["cpu_total"]
    return {"load1_start": a["load1"], "load1_end": b["load1"],
            "steal_frac": (b["cpu_steal"] - a["cpu_steal"]) / total if total else 0.0}
