"""The benchmark's processes: the tree under this one, read from
``/proc``, and stopping the JVM behind the Spark session."""

from __future__ import annotations

import os
import time
from pathlib import Path


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += _children(p)
    return tree


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total_kb / 1024


def tree_peak_rss_mb() -> float:
    """Peak RSS of this process and all its descendants (JVM, Python
    workers)."""
    return peak_rss_mb(process_tree(os.getpid()))


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) this
    process and all its descendants have used so far. Unlike wall
    time, this does not grow while another tenant holds the CPU."""
    ticks = 0
    for pid in process_tree(os.getpid()):
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
