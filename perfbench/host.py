"""Host facts, the benchmark's scratch area and the Spark session.

Everything the benchmark writes lives under the checkout: ``.perfbench_work``
holds the generated inputs, ``spark.local.dir`` and the temp dirs of the JVM
and the Python workers, and is emptied at the start and end of every run;
``.perfbench_out`` keeps one JSON record per run (metrics, gates, spans and
host facts).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Task slots of the session: half the CPUs. Every task of these jobs
    keeps two processes busy, the JVM task thread and the Python worker it
    feeds Arrow batches to, so ``local[nproc]`` would run twice as many busy
    processes as there are CPUs and time the scheduler as much as the
    library. On a 4-CPU host ``local[2]`` also ran both workloads faster."""
    return max(1, nproc() // 2)


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_start_time() -> float:
    """Wall-clock time this process started (``time.time()`` scale), from
    /proc so interpreter start-up and imports count toward set-up."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat; 2 fields precede these
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_facts(root: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "cores": cores(),
        "mem_total_mb": round(mem_total_mb()),
        "disk_free_mb": round(shutil.disk_usage(root).free / 2**20),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:  # Spark deletes shuffle files as we walk
                pass
    return total


class DirPeakSampler:
    """Samples the size of a directory tree on a daemon thread; ``peak`` is
    the largest size seen. Stopped by ``stop()`` (joins the thread)."""

    def __init__(self, path: str, interval_s: float = 0.25):
        self.path = path
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, dir_bytes(self.path))
            self._stop.wait(self.interval_s)

    def start(self) -> "DirPeakSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


class WorkArea:
    """The run's scratch directories, emptied on entry and on exit."""

    def __init__(self, root: str):
        self.base = os.path.join(root, ".perfbench_work")
        self.local = os.path.join(self.base, "local")
        self.tmp = os.path.join(self.base, "tmp")
        self.data = os.path.join(self.base, "data")

    def __enter__(self) -> "WorkArea":
        shutil.rmtree(self.base, ignore_errors=True)
        for d in (self.local, self.tmp, self.data):
            os.makedirs(d)
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


def driver_memory_gb() -> int:
    """A quarter of host RAM, capped at 4 GB: the host is shared, and the
    JVM heap only holds shuffle buffers and KB-to-MB sketch blobs here."""
    return max(1, min(4, int(mem_total_mb() / 1024 / 4)))


def make_session(root: str, work: WorkArea):
    """``local[cores]`` session whose every scratch path is under ``work``."""
    os.environ["TMPDIR"] = work.tmp
    tempfile.tempdir = work.tmp  # gettempdir() caches its first answer
    # python workers import the package from the checkout, not site-packages
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    cpus = cores()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config(
            "spark.driver.extraJavaOptions",
            # -UsePerfData: HotSpot's perf-data file goes to /tmp whatever
            # java.io.tmpdir says, and nothing here reads it
            f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData -XX:MaxDirectMemorySize=1g",
        )
        .config("spark.local.dir", work.local)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work.base, "warehouse"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
