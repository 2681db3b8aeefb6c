"""Machine-sized Spark session and the run's private directories.

Everything the benchmark writes lives under ``perfbench/.work`` (one
directory per run, removed at exit) or ``perfbench/.cache`` (generated
inputs, reused across runs).  Spark's scratch space, the JVM temp dir,
Python's temp dir and the SQL warehouse are pointed there too, so a run
reads and writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")


def machine_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of physical memory, clamped to [1 GiB, 8 GiB]: local
    mode runs every task inside the driver JVM, and the box is shared,
    so the heap stays well below ``session.py``'s 24g default."""
    total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
                break
    return max(1024, min(8192, total_kb // 1024 // 4))


class RunDirs:
    """The run's work tree: ``root`` plus fixed sub-directories."""

    def __init__(self, tag: str):
        self.root = os.path.join(BENCH_DIR, ".work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = self.sub("tmp")
        self.eventlog = self.sub("eventlog")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, *parts: str) -> str:
        """A path under the work tree that does not exist yet."""
        p = os.path.join(self.root, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_session(app: str, dirs: RunDirs, cores: int, event_log: bool):
    """Start ``local[cores]`` through the engine's own ``get_spark`` with
    the heap, scratch dirs and (optionally) the JSON event log passed as
    ``extra_conf``.  Returns (spark, conf_report, seconds)."""
    # Python workers are forked by the JVM and must import yadex_spark
    # when the benchmark is started from its own directory
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)
    os.environ["TMPDIR"] = dirs.tmp
    # every JVM pyspark starts (launcher and driver): temp files in the
    # work tree, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={dirs.tmp} -Dderby.system.home={dirs.tmp} -XX:-UsePerfData")))
    heap = f"{driver_heap_mb()}m"
    extra = {
        "spark.driver.memory": heap,
        "spark.local.dir": dirs.sub("spark-local"),
        "spark.sql.warehouse.dir": dirs.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + dirs.eventlog
        # one plain JSON-lines file (Spark 4 defaults to rolling, zstd)
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    from yadex_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app, cpus=cores, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.monotonic() - t0
    conf = spark.sparkContext.getConf()
    report = {
        k: conf.get(k, None)
        for k in (
            "spark.master",
            "spark.driver.memory",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.local.dir",
            "spark.eventLog.enabled",
        )
    }
    report["cores"] = cores
    report["PYTHONPATH"] = os.environ["PYTHONPATH"]
    return spark, report, start_s


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited,
    so that no JVM still shutting down shares the machine with what
    runs next (the measured session after feed generation, or the next
    run)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    """Clock ticks of all CPUs since boot, from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal.  Steal is time the
    hypervisor ran something else while these CPUs had work."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the CPUs' non-idle time (busy + steal) between two
    ``cpu_ticks`` readings that the hypervisor took away."""
    d = [a - b for a, b in zip(after, before)]
    steal, busy = d[7], d[0] + d[1] + d[2] + d[5] + d[6]
    return steal / (busy + steal) if busy + steal else 0.0


def driver_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")
