"""Where the benchmark runs: checkout paths, hardware stamp, CPU pinning,
JVM sizing, the environment Spark and its Python workers inherit, the
process-tree memory sampler and the Spark session lifecycle."""

from __future__ import annotations

import contextlib
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: every file the benchmark writes lives under here (ignored by git)
CACHE = os.path.join(ROOT, ".perfbench_cache")


class BenchError(RuntimeError):
    """A condition under which no number may be reported."""


def preflight() -> None:
    """Fail before timing anything when the checkout cannot run the
    program: the package must sit next to the benchmark directory."""
    if not os.path.isfile(os.path.join(ROOT, "pyproj_spark", "__init__.py")):
        raise BenchError(f"pyproj_spark/ not found under {ROOT}: run from "
                         "the root of a full checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        raise BenchError(f"pyspark is not importable: {e}") from e


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise BenchError("MemTotal missing from /proc/meminfo")


def pin(cores: int) -> list[int]:
    """Pin this process (and every process it starts later: the JVM and
    the Python workers inherit the mask) to `cores` CPUs of its mask.
    Asking for more CPUs than the mask holds is an error."""
    mask = sorted(os.sched_getaffinity(0))
    if cores < 1 or cores > len(mask):
        raise BenchError(f"{cores} cores requested but the affinity mask "
                         f"holds {len(mask)} CPUs {mask}")
    cpus = mask[:cores]
    os.sched_setaffinity(0, cpus)
    got = sorted(os.sched_getaffinity(0))
    if got != cpus:
        raise BenchError(f"pinning to {cpus} gave {got}")
    return cpus


def pin_tree(cpus) -> None:
    """Move every thread of this process tree (the running JVM included)
    onto `cpus`; threads and processes started later inherit it."""
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread exited meanwhile
                pass


def driver_mem_mb() -> int:
    """Driver heap ceiling sized from physical RAM: an eighth, within
    1-4 GiB (the inputs are small; the machine is shared)."""
    return max(1024, min(4096, ram_mb() // 8))


def export_env(cores: int) -> None:
    """Environment inherited by the JVM and the Python workers. Workers
    import pyproj_spark only through PYTHONPATH, so it is set whatever
    the caller's cwd; Spark scratch and temp files stay in the cache."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_GRAFT_CPUS": str(cores),
        # the launcher JVM of spark-submit: no /tmp/hsperfdata_* file
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def java_opts() -> str:
    """The heap's ceiling is fixed (``spark.driver.memory``), its resident
    size is not: no -Xms, no pre-touch, so the JVM's memory use shows in
    ``peak_pss_mb``. No perf-data file and no temp files outside the
    checkout."""
    return ("-XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')}")


def hardware(cpus: list[int], spark) -> dict:
    import pyspark
    return {
        "cpus_pinned": cpus,
        "cpus_online": os.cpu_count(),
        "ram_mb": ram_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": str(spark.sparkContext._jvm.java.lang.System
                    .getProperty("java.version")),
        "machine": platform.machine(),
    }


# --------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split among the processes
    that map them, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, machine-wide."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_loop_s(n: int = 1_000_000, reps: int = 3) -> float:
    """Median seconds of a fixed single-thread Python loop: a gauge of the
    host's speed at that moment (the detail record's ``host_loop_s``),
    never part of a metric."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]


class MemSampler:
    """Peak memory (sum of PSS) of this process and all its descendants
    (JVM, Python daemon and workers), sampled every `period` seconds
    while switched on with ``on()`` (set-up and the timed window, not
    input generation or the output checks)."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        total = sum(_pss_kb(p) for p in process_tree())
        self.peak_kb = max(self.peak_kb, total)

    @contextlib.contextmanager
    def on(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.sample()

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def remove_stale_workdirs(parent: str) -> None:
    """Delete per-run work directories of runs that no longer exist
    (a run killed before its own clean-up)."""
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        if name.isdigit() and not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


# ----------------------------------------------------------------- sessions

def start_session(cores: int, extra_conf: dict | None = None):
    """A fresh local[cores] session through the library's own factory.
    `extra_conf` is applied as JVM system properties, which a new
    SparkContext in an already-running JVM picks up (event logging)."""
    from pyspark import SparkContext

    from pyproj_spark.session import get_spark
    if extra_conf:
        if SparkContext._jvm is None:
            raise BenchError("extra Spark conf needs a running JVM")
        system = SparkContext._jvm.java.lang.System
        for k, v in extra_conf.items():
            if v is None:
                system.clearProperty(k)
            else:
                system.setProperty(k, v)
    return get_spark("perfbench", cores=cores, java_opts=java_opts())


def stop_session(spark) -> None:
    spark.stop()
    from pyspark.sql import SparkSession
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # the Python worker daemon exits with the JVM; wait for it too
    deadline = time.time() + 10
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    left = process_tree()[1:]
    if left:
        raise BenchError(f"processes still running after shutdown: {left}")
