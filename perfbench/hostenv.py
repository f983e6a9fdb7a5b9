"""Reference conditions: host sizing, the Spark session, process-tree RSS.

Everything the benchmark writes lives under ``.perfbench/`` in the checkout
root it is started from (inputs, pre-built stores, run copies, event logs,
Spark scratch, temp files), so a run reads and writes nothing outside it.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import platform
import re
import subprocess
import sys
import threading

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench")

# The JVM heap is a quarter of physical memory, capped at the 6 GiB the
# on-box sizing used: enough for sf0.01 tiers, and small enough that the
# pinned, pre-touched heap leaves room on a shared host.
HEAP_CAP_MB = 6144


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return min(HEAP_CAP_MB, mem_total_mb() // 4 // 256 * 256)


@functools.cache
def code_hash() -> str:
    """Short hash of the engine's and the benchmark's Python sources. The
    pre-built store and the cached results live under it, so a cache built
    by one version of the code is never read by another."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "beamium_spark", "**", "*.py"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "beamium_spark", "plans", "job.py"))


def configure() -> None:
    """Route the engine's knobs and every scratch directory into the
    checkout. Must run before pyspark or the engine is imported."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["BEAMIUM_SPARK_DRIVER_MEM"] = f"{heap_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["BEAMIUM_FIXTURE_ROOT"] = os.path.join(CACHE, "fixtures")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def boot(event_log_dir: str | None = None):
    """``get_spark`` the way the CLI calls it, on ``local[nproc]``."""
    from beamium_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # scan nodes name their table in the plan string; keep the
            # whole location so the trace can tell the tables apart
            "spark.sql.maxMetadataStringLength": "1000",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def conditions(spark) -> dict:
    import pyspark

    return {
        "cores": cores(),
        "master": spark.sparkContext.master,
        "heap_mb": heap_mb(),
        "mem_total_mb": mem_total_mb(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def old_gen_peak_mb(spark) -> float:
    """Peak use of the driver JVM's old generation, read over py4j before
    the session stops: the part of the heap that holds what the engine
    keeps alive. The heap itself is pinned and pre-touched, so all of it
    is resident from boot whatever the engine allocates, and the young
    pools fill to their size on every cycle; per-pool peaks also fall at
    different times, so their sum would exceed the heap."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    heap = mgmt.MemoryType.HEAP
    used = sum(pool.getPeakUsage().getUsed() for pool in mgmt.ManagementFactory.getMemoryPoolMXBeans()
               if pool.getType().equals(heap) and not re.search("Eden|Survivor", pool.getName()))
    return used / (1024 * 1024)


def _tree_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            if is_jvm:
                # the JVM shares no pages with the rest of the tree, and
                # walking its multi-GB mappings for PSS stalls it
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    JVM, Python workers), sampled on a background thread. The Python
    processes count their proportional set size, so pages the forked
    workers share are counted once, not once per worker; the JVM counts
    its resident set."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)

