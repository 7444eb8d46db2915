"""Run settings, session lifecycle, CPU and memory sampling and the tail
statistic.

The benchmark drives the engine only through its public functions, from
outside the library. Everything a run writes lives under its own run
directory inside the checkout (``.perfbench_run/<workload>-<pid>``), which is
removed when the run ends.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_FILES = ("ezmsg_sigproc_spark/__init__.py",
                "ezmsg_sigproc_spark/plans/rollup_tiers.py",
                "jobs/stream_ingest_job.py")


class EngineMissing(RuntimeError):
    """The checkout does not hold the engine's sources."""


def require_engine(root: str = ROOT) -> None:
    """Fail unless the engine is importable from ``root`` itself — never from
    some other copy on the path."""
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        raise EngineMissing(f"engine sources not found under {root}: {missing}")
    if root not in sys.path:
        sys.path.insert(0, root)
    import ezmsg_sigproc_spark

    where = os.path.dirname(os.path.dirname(os.path.abspath(ezmsg_sigproc_spark.__file__)))
    if where != root:
        raise EngineMissing(f"ezmsg_sigproc_spark imported from {where}, not {root}")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_mem() -> str:
    """A quarter of RAM, at most 2 GiB: the inputs are small, and the
    engine's own 16g default does not fit a 15 GB host."""
    return f"{min(2048, host_mem_mb() // 4)}m"


@dataclass
class Settings:
    """Everything a run depends on besides the code and the seed; printed
    with every result."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str = "host"
    cores: int = field(default_factory=host_cores)
    run_dir: str = ""

    def __post_init__(self):
        if not self.run_dir:
            self.run_dir = os.path.join(
                ROOT, ".perfbench_run", f"{self.workload}-{os.getpid()}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def describe(self) -> dict:
        return {"master": f"local[{self.cores}]", "driver_mem": driver_mem(),
                "size": self.size,
                "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
                "pythonpath": os.environ.get("PYTHONPATH"),
                "run_dir": self.run_dir}


def prepare_env(st: Settings) -> None:
    """Process environment inherited by the JVM and its Python workers. Must
    run before the first session starts."""
    shutil.rmtree(st.run_dir, ignore_errors=True)
    for d in ("local", "tmp", "eventlog", "warehouse", "input", "out"):
        os.makedirs(st.path(d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = st.path("local")
    os.environ["TMPDIR"] = st.path("tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # one thread per Python worker: Spark already runs one worker per core,
    # and idle BLAS/OpenMP pool threads spin on CPU time
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def start_session(st: Settings, event_log: bool):
    from ezmsg_sigproc_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_mem(),
        "spark.local.dir": st.path("local"),
        "spark.sql.warehouse.dir": st.path("warehouse"),
        # C1 only: with C2 on, background compilation took 45 CPU-s during
        # the first backfill pass and 4-13 CPU-s during each of the next five
        # (on 4 cores), so measured passes kept speeding up for minutes and
        # their times spread by 30 %; with C1 the first warm pass is already
        # flat. The jobs are dominated by per-stage overhead, not hot loops.
        # C1 alone gets the small non-tiered code cache (48 MB), which fills
        # within a minute and switches the compiler off: give it the tiered
        # default back.
        # Serial GC: with G1's parallel and concurrent GC threads the CPU time
        # of a backfill pass fell by 13 % over the first four passes and its
        # run medians spread by 11 %; with serial collection, 7 % and 5 %.
        "spark.driver.extraJavaOptions":
            "-Djava.net.preferIPv4Stack=true -XX:TieredStopAtLevel=1"
            " -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC"
            f" -Djava.io.tmpdir={st.path('tmp')}",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": st.path("eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return get_spark(app_name=f"perfbench-{st.workload}", cores=st.cores,
                     extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the JVM launched for the sessions and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still alive: kill and reap
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- memory ---------------------------------------------------------------

def _proc_kb(pid: int, name: str, key: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/<name>``; 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of a live process (``VmHWM``, kept by the kernel)."""
    return _proc_kb(pid, "status", "VmHWM:") / 1024.0


class WorkerMemory:
    """Peak memory of the Python workers below the JVM, sampled every
    ``interval_s`` in a thread: the largest total of their proportional set
    sizes (``Pss``). Workers are forked from one daemon and share its pages;
    ``Pss`` counts a shared page once across them."""

    def __init__(self, jvm: int, interval_s: float = 0.25):
        self.jvm = jvm
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        kb = sum(_proc_kb(p, "smaps_rollup", "Pss:") for p in descendants(self.jvm))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak usage of every heap memory pool of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            total += int(pool.getPeakUsage().getUsed())
    return total / 2**20


# -- CPU ------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) used so far by this process, the JVM and
    every process below it, reaped children included. A Python worker that
    exits is reaped by its live parent, so its time stays in the total."""
    total = 0
    for pid in [os.getpid(), jvm] + descendants(jvm):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs so far
    (``steal`` in ``/proc/stat``): time they were ready to run but were not."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


# -- statistics -----------------------------------------------------------

def tail(xs_ms: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it, as
    ``(percentile, value)``; None below 20 samples, where it would not
    exceed the median."""
    n = len(xs_ms)
    if n < 20:
        return None
    p = min(99, (100 * (n - 10)) // n)
    return p, sorted(xs_ms)[math.ceil(n * p / 100) - 1]
