"""Process-level plumbing: the Spark session, CPU accounting, shutdown.

Everything the benchmark starts lives under one work directory inside the
checkout, and every process it starts (the JVM and the Python workers the
JVM forks) is a descendant of this process, so both cleanup and CPU
accounting can walk the process tree from ``os.getpid()``.
"""

from __future__ import annotations

import os
import signal
import statistics
import time

CORES = 4  # one local[4] session; the benchmark host has nproc == 4
CLK = os.sysconf("SC_CLK_TCK")


def build_spark(work: str):
    """One local[CORES] session with the bench.py settings, scratch in ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.session.timeZone", "UTC")
        # plan descriptions keep full input paths, so scans can be matched
        # to the workload's input by location
        .config("spark.sql.maxMetadataStringLength", "4096")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                "-XX:-UsePerfData")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the SQL status store's listener must exist before the first query
    spark._jsparkSession.sharedState().statusStore()
    return spark


def _proc_table():
    """pid -> (ppid, utime+stime+cutime+cstime in ticks) for every process."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                fields = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state; ppid is fields[1]; utime..cstime 11..14
        table[int(pid)] = (int(fields[1]),
                           sum(int(x) for x in fields[11:15]))
    return table


def _descendants(table, root: int):
    children = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process, the JVM and its workers.

    Children reaped by a live parent are counted through the parent's
    cutime/cstime, so a Python worker that exits mid-run is not lost.
    """
    table = _proc_table()
    me = os.getpid()
    pids = [me] + _descendants(table, me)
    return sum(table[p][1] for p in pids if p in table) / CLK


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway and wait for every descendant."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while True:
        left = _descendants(_proc_table(), os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
        for pid in left:  # reap our own direct children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def median(values):
    return statistics.median(values) if values else 0.0
