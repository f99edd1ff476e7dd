"""Pieces every workload shares: the pinned run configuration, session
set-up timing, CPU and memory readings, quantiles and the run record."""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

def pin_environment(work: str) -> dict[str, str]:
    """Pin the engine's existing environment knobs for this machine:
    one local thread per usable core, a driver heap well below physical
    memory, and Spark scratch space on local disk inside the checkout.
    Python's temporary files also stay under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    env["ram_gb"] = f"{ram_gb:.1f}"
    return env


def jvm_options(work: str) -> dict[str, str]:
    """Session conf that keeps the JVM's temporary files (e.g. the
    RocksDB native library it unpacks) under ``work``."""
    return {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"}


def quantiles(values: list[float]) -> dict:
    """Median, quartiles and sample count of ``values``."""
    vals = sorted(values)
    if len(vals) == 1:
        q1 = med = q3 = vals[0]
    else:
        q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


def percentile(values: list[float], pct: float) -> float:
    vals = sorted(values)
    return statistics.quantiles(vals, n=100, method="inclusive")[int(pct) - 1]


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")
#: Names (as the kernel truncates them) of the JVM's JIT compiler threads.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """The name and the fields after it of a ``/proc/.../stat`` file."""
    with open(path) as fh:
        head, rest = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


class CpuClock:
    """Reads the CPU seconds (user + system) used so far by this process
    and every process below it -- the JVM, its Python worker daemon and
    the workers (those that ended and were reaped count through their
    parent) -- less the time of the JVM's JIT compiler threads. Those
    compile code in the background for minutes after the JVM starts,
    used most of the JVM's CPU time in a run, and vary from run to run
    with what happened to be compiled when; the measured operations are
    the engine's own work. One clock serves a whole run; it is safe to
    read from several threads."""

    def __init__(self) -> None:
        # Last reading, in ticks, of every JIT compiler thread seen so
        # far; kept after a thread ends, because its time stays in its
        # process's.
        self._jit_ticks: dict[tuple[str, str], int] = {}
        self._lock = threading.Lock()

    def __call__(self) -> float:
        procs = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                name, f = _stat(f"/proc/{pid}/stat")
            except OSError:  # the process ended meanwhile
                continue
            # Fields after the name: state ppid ... utime(11) stime cutime cstime.
            procs[pid] = (f[1], name, sum(int(x) for x in f[11:15]))
        children: dict[str, list[str]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        ticks, jit, todo = 0, {}, [str(os.getpid())]
        while todo:
            pid = todo.pop()
            ticks += procs[pid][2]
            todo += children.get(pid, [])
            if procs[pid][1] != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    name, f = _stat(f"/proc/{pid}/task/{tid}/stat")
                except OSError:  # the thread ended meanwhile
                    continue
                if name in _JIT_THREADS:
                    jit[(pid, tid)] = int(f[11]) + int(f[12])
        with self._lock:
            self._jit_ticks.update(jit)
            return (ticks - sum(self._jit_ticks.values())) / _TICK


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    proc = jvm_process()
    return _hwm_mb("self") + (_hwm_mb(proc.pid) if proc is not None else 0.0)


def setup_session(extra_conf: dict | None, warm_scan, cpu: CpuClock) -> tuple:
    """Set the session up from a cold start, as a fresh process does:
    import the engine, launch its JVM through ``get_spark`` and run
    ``warm_scan(spark)``. Returns (spark, CPU seconds, wall seconds, wall
    seconds in ``get_spark``)."""
    c0, t0 = cpu(), time.perf_counter()
    from kafka_stream_faust_deprecated_spark import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    get_spark_s = time.perf_counter() - t1
    warm_scan(spark)
    return spark, cpu() - c0, time.perf_counter() - t0, get_spark_s


def shutdown(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    proc = jvm_process()
    spark.stop()
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Outcome:
    """What one workload run produced."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def attempt(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what[:300])
        return ok
