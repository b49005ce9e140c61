"""Spark session lifetime, process-tree memory and the host-noise label.

Everything the session writes (shuffle files, JVM temp files, Python
temp files) goes under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    """CPUs this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point temp files at the work directory and make the program
    importable by the Python workers Spark forks.  Must run before the
    first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def build_session(work: str, heap: str = "2g"):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder
        .master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed heap (-Xms = -Xmx): with a growable one, peak resident
        # memory followed G1's sizing decisions and spread 0.29 (IQR over
        # median) across seeds of one workload
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{heap}")
        .config("spark.driver.memory", heap)
        .config("spark.sql.shuffle.partitions", str(4 * cores()))
        .config("spark.sql.adaptive.enabled", "true")
        # the generated parquet files are a few MB each: a small split
        # size gives every scan several input partitions
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release_session(spark) -> None:
    """Stop the session but keep the JVM for the next one."""
    from morph_xr2rml_spark import ops
    ops.cleanup()
    spark.catalog.clearCache()
    spark.stop()


def shutdown(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext
    tree = descendants(os.getpid())
    if spark is not None:
        release_session(spark)
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if _alive(p)]
        if tree:
            time.sleep(0.1)
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: driver Python, JVM and Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _spin_ms(n: int = 2_000_000) -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i
    return (time.perf_counter() - t0) * 1000.0


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_probe() -> dict:
    """Host-noise label: load average, a fixed single-thread spin, and
    the CPU counters from /proc/stat (steal is the 8th).  Recorded with
    the run; never used to rescale or drop a sample."""
    return {"loadavg": [round(x, 2) for x in os.getloadavg()],
            "spin_ms": round(_spin_ms(), 1), "jiffies": _cpu_jiffies()}


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to others between probes."""
    d = [b - a for a, b in zip(before["jiffies"], after["jiffies"])]
    return d[7] / max(1, sum(d))
