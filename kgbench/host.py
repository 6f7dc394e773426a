"""Host-sized Spark session and process-tree resource accounting.

The library's session factory defaults to 32 cores and a 48 GB driver
heap; on a smaller host that JVM is killed by the kernel. The benchmark
sizes the session from the host it runs on instead, without editing the
library: cores from the CPU affinity mask, heap from /proc/meminfo, and
every scratch directory (Spark local dirs, JVM and Python temp files)
inside the run's own work directory.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# JIT tiers. The benchmark runs C1 only. Every query generates new
# classes, and under the default tiered C2 their compile cost was 4-17
# CPU-s per extraction, falling over the first ~6 operations of a JVM:
# timed operations varied by 30-50% run to run. With C1 alone compile
# cost is under 2 CPU-s per operation and timed operations are flat after
# one warm-up, at the price of 1.6-2.8x slower generated code. "c2" is the
# JVM default a deployment runs, for looking at a change under it.
JIT_OPTS = {"c1": "-XX:TieredStopAtLevel=1", "c2": ""}

# share of MemTotal given to the driver heap, and its clamp in MB: the
# host is shared, and the workloads persist at most a few hundred MB
HEAP_SHARE = 0.2
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 8192


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(total_mb * HEAP_SHARE)))
    raise RuntimeError(f"no MemTotal in {meminfo}")


def start_session(work_dir: str, trace: bool, jit: str = "c1"):
    """Start a local[cores] session with every scratch path under
    ``work_dir``. Returns (spark, settings) where settings records the
    cores, heap and local dirs actually used."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # temp files of this process, its JVM and the Python workers
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    cores = host_cores()
    heap_mb = driver_heap_mb()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"

    from corporate_knowledge_extractor_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JIT_OPTS[jit]}".rstrip(),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every stage of the traced operation in the status store
        # until the tracer has read them
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(
        app_name="kgbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"cores": cores, "driver_heap_mb": heap_mb, "spark_local_dirs": local,
                   "jit": jit}


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class TreeMonitor:
    """Samples this process tree (driver, JVM, Python workers) on a
    thread: peak resident memory, and CPU seconds as the sum of every
    process's utime+stime at its last sample. Keeping the last sample of
    a process that has gone makes the total monotonic: children's times
    folded into a parent's cutime are not used, because a worker whose
    parent dies is reparented outside the tree and its time would vanish.
    CPU a process spends after its last sample is missed, at most one
    interval of it."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._cpu: dict[tuple[int, str], int] = {}  # (pid, starttime) -> ticks
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pages = 0
        seen = {}
        for pid in tree_pids(os.getpid()):
            f = _stat_fields(pid)
            if f is None:
                continue
            seen[(pid, f[19])] = int(f[11]) + int(f[12])
            pages += int(f[21])
        with self._lock:
            self._cpu.update(seen)
            self.peak_mb = max(self.peak_mb, pages * _PAGE / 2**20)

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu.values()) / _CLK_TCK

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_mb = 0.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeMonitor":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


class Stopwatch:
    """Wall and process-tree CPU seconds of one timed block."""

    def __init__(self, monitor: TreeMonitor):
        self.monitor = monitor

    def __enter__(self) -> "Stopwatch":
        self._c0 = self.monitor.cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = self.monitor.cpu_s() - self._c0
