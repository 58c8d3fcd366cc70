"""Process environment, session start/stop and OS-level counters.

Everything the benchmark writes stays under ``<checkout>/.perfbench``:
Spark local dirs, the warehouse, the program's scratch dir, temp files
and the JVM's ``java.io.tmpdir`` are all pointed there before the JVM
starts.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

WORK_DIR = ".perfbench"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def load_avg() -> list[float]:
    return list(os.getloadavg())


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: the speed of the host at
    the time, recorded beside the metrics (a shared host can run at
    half speed for minutes at a time)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def driver_mem() -> str:
    """Driver heap sized for the machine: a sixth of RAM, 1 to 4 GiB —
    the session factory's 48 GiB default exceeds small machines."""
    return f"{max(1, min(4, int(ram_mb() / 1024 / 6)))}g"


def configure(root: str) -> dict[str, str]:
    """Point every writer of the program at ``<root>/.perfbench`` and
    size the session for this machine; returns the settings applied."""
    work = os.path.join(root, WORK_DIR)
    tmp = os.path.join(work, "tmp")
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver) keeps its temp files and
        # hsperfdata out of /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    for path in (settings["SPARK_LOCAL_DIRS"], tmp, settings["SPARK_GRAFT_SCRATCH"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(settings)
    return settings


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(root: str, event_log_dir: str | None = None):
    """Build the session through the program's own factory and ship the
    package; returns ``(spark, start_s, ship_s)``."""
    if root not in sys.path:
        sys.path.insert(0, root)
    from etl_acordos_spark.queries.base import ensure_package_shipped
    from etl_acordos_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    ensure_package_shipped(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker it forked) has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_wchar(pid: int) -> int:
    """``wchar`` of *pid* and all its live descendants (the JVM and its
    Python workers)."""
    kids = _children()
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/io", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("wchar:"):
                        total += int(line.split()[1])
        except OSError:
            pass  # exited between the listing and the read
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
