"""Run-scoped plumbing: isolated directories, the Spark session, memory
measurement and the small statistics the workloads report."""

from __future__ import annotations

import ctypes
import os
import pstats
import shutil
import signal
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAMPLE_PERIOD_S = 0.25
GC_ROUNDS = 5
GC_PAUSE_S = 1.0
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 60.0


class RunDirs:
    """Scratch, Spark local, warehouse and output directories for one run,
    all under ``.benchrun/`` in the checkout and removed by ``close``."""

    def __init__(self, workload: str):
        self.base = os.path.join(ROOT, ".benchrun", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.base, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "derby", "data", "out", "eventlog"):
            os.makedirs(self.path(sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        parent = os.path.dirname(self.base)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def spark_env(dirs: RunDirs) -> None:
    """Environment the JVM and its Python workers inherit."""
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ["MRS_WAREHOUSE_DIR"] = dirs.path("warehouse")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(dirs: RunDirs, traced: bool):
    """``get_spark`` on ``local[<cpus>]`` with run-local directories; the
    traced run also writes an event log and profiles Python UDFs."""
    from myrecommendsystem_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={dirs.path('derby')} "
            f"-Djava.io.tmpdir={dirs.path('tmp')} -Xms2g -XX:+AlwaysPreTouch"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    spark = get_spark(
        app_name="mrs-benchmark",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=len(os.sched_getaffinity(0)),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, however
    deep: when the JVM exits, the Python workers and helpers it started
    become children of this process rather than of init, so
    ``stop_processes`` can find them and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_processes() -> None:
    """Stop the Spark session and its JVM and wait until every process
    this one started has ended.

    ``SparkSession.stop`` leaves the JVM running; it exits once its stdin
    closes, after its shutdown hooks, several seconds after this process
    would otherwise have ended.  Closing stdin and waiting makes the run
    end with it.  Children still alive after ``STOP_GRACE_S`` are killed."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        if time.monotonic() > deadline:
            for pid in _children().get(os.getpid(), []):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def start_python_workers(spark) -> None:
    """Start one Python worker per task slot, as the session's first job.

    Workers are forked on demand and then reused, so without this their
    number depends on how many Python tasks happened to overlap: an
    ``offline_batch`` pass ends with one small Python job (the tuner's
    ``createDataFrame``), which left one to four workers alive, and at
    about 35 MB each the memory figure of ten seeds split into three
    groups.  Each task here waits long enough for all of them to overlap."""
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).foreach(lambda _: time.sleep(0.25))


def event_log_path(dirs: RunDirs) -> str | None:
    names = os.listdir(dirs.path("eventlog"))
    return dirs.path("eventlog", names[0]) if names else None


def python_udf_seconds(spark, dirs: RunDirs) -> float:
    """Python time the session UDF profiler has recorded; clears it.

    Read through the public ``spark.profile.dump``, one pstats file per
    profiled UDF."""
    out = dirs.path("profile")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark.profile.dump(out, type="perf")
    total = sum(pstats.Stats(os.path.join(out, f)).total_tt for f in os.listdir(out))
    spark.profile.clear()
    return total


def jvm_mem_mb(spark) -> tuple[float, float]:
    """JVM memory the program holds, in MB: heap still in use after a
    full collection, and the summed peak of the non-heap pools (metaspace,
    code cache).  The peaks of the heap pools are left out, because they
    follow when G1 chose to collect: across runs of the same inputs they
    varied by up to half."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    bean = mf.getMemoryMXBean()
    # A collection lets Spark's ContextCleaner drop the broadcasts and
    # shuffles it finds unreachable, and a later one frees what they held;
    # collect until the heap stops shrinking.  The cleaner can take more
    # than half a second, hence the pause between collections.
    heap = None
    for _ in range(GC_ROUNDS):
        bean.gc()
        now = bean.getHeapMemoryUsage().getUsed()
        if heap is not None and heap - now < 2**20:
            break
        heap = now
        time.sleep(GC_PAUSE_S)
    non_heap = sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Non-heap memory"
    )
    return now / 2**20, non_heap / 2**20


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


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class PythonMemSampler:
    """Peak summed PSS of this process and its Python descendants (the
    Spark Python workers under the JVM) while the context is open, minus
    processes in ``exclude``, a set the caller may add to while sampling
    runs.  The JVM and the helpers it spawns are skipped:
    ``jvm_mem_mb`` measures the JVM from its memory pools, which follow
    what the program uses rather than what the heap has grown to.  PSS
    splits pages that forked workers share with their daemon instead of
    counting them once per worker.

    The peak is taken over the median of each three consecutive samples,
    so a process that lives for less than a sampling period (a child
    between fork and exec, which still maps its parent's memory) does not
    set it.  Without it, one run in thirty read 3.0 GB where the others
    read 0.54-0.66 GB."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak_kb = 0
        self._last: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            if _is_python(pid):
                total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self._last = (self._last + [total])[-3:]
        self.peak_kb = max(self.peak_kb, sorted(self._last)[len(self._last) // 2])

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Clock:
    """The measuring window: ``seconds`` long, from construction."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
