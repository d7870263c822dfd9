"""Process-level plumbing shared by the workloads: where the benchmark
writes, how it starts and stops Spark, and small statistics helpers."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
TMP = os.path.join(WORK, "tmp")
EVENTS = os.path.join(WORK, "events")
TRACES = os.path.join(WORK, "traces")


class CheckFailed(Exception):
    """An output of the library differs from the planted truth."""


def library_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "avro_spark", "__init__.py"))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of the machine's memory, at most 2 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(512, min(2048, total_kb // 4096))


def prepare_work_dir(workload: str, seed: int) -> str:
    """Fresh scratch directory for one run; every file Spark, the JVM and
    Python write goes below WORK."""
    for d in (TMP, EVENTS, TRACES):
        os.makedirs(d, exist_ok=True)
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = TMP
    # every JVM started from here (spark-submit's launcher, the driver,
    # javac building the codec jar) keeps its temp and perf files inside
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    return run_dir


class SparkProcess:
    """The run's one SparkContext and the driver JVM behind it."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.proc = None
        self.app_id = None

    def start(self):
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        n = cpus()
        b = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{driver_heap_mb()}m")
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", TMP)
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        )
        if self.trace:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + EVENTS)
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.eventLog.compress", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_id = self.spark.sparkContext.applicationId
        self.proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def event_log(self):
        """Path of the SparkContext's event log; complete once ``stop``
        has run (trace runs)."""
        path = os.path.join(EVENTS, self.app_id)
        return path if os.path.exists(path) else path + ".inprogress"

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        jvm_kb = 0
        if self.proc is not None:
            with open(f"/proc/{self.proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def stop(self):
        """Stop Spark and the driver JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
        if self.proc is not None:
            # the gateway JVM exits when its stdin closes
            if self.proc.stdin is not None:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()

_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and every process below
    it: the driver JVM and the Python workers it starts."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:             # the process ended meanwhile
            continue
        stats[int(pid)] = (int(f[1]), int(f[11]) + int(f[12]))  # ppid, utime + stime
    me, total = os.getpid(), 0
    for pid, (ppid, ticks) in stats.items():
        p = pid
        while p > 1 and p != me:
            p = stats.get(p, (0, 0))[0]
        if p == me:
            total += ticks
    return total / _HZ


def process_start() -> float:
    """Epoch seconds at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / _HZ)


def host_cpu_seconds() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return (user + nice + system + irq + softirq) / _HZ, steal / _HZ


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def noop_write(df) -> None:
    """Force every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
