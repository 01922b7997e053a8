"""Host settings the benchmark pins, and process-tree readings from /proc.

psutil is not available, so the memory of the main process, the JVM it
launches and the Python workers the JVM forks is read from
``/proc/<pid>/{stat,status}``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

DRIVER_MEM = "2g"


def pin_host(work: str) -> dict[str, str]:
    """Set the environment the session factory and Spark read, before
    the JVM starts. Everything Spark and Python write goes under
    ``work``."""
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    os.environ.update(settings)
    return settings


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum over the process tree of each process's peak resident set
    (``VmHWM``), in MiB."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
