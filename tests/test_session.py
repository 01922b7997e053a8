"""Session factory defaults."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
# cgroup v2 and v1 memory limits, read independently of session.py
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _jvm_bytes(size: str) -> int:
    size = size.strip().lower().rstrip("b")
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def test_default_driver_memory_fits_host():
    """With SPARK_GRAFT_DRIVER_MEM unset, the driver heap must fit in
    the host's RAM and the container's cgroup memory limit (a fixed 64g
    default does not on most hosts)."""
    probe = (
        "from us_accidents_bigdata_pipeline_spark.session import get_spark\n"
        "spark = get_spark(app_name='mem-probe', master='local[1]')\n"
        "print(spark.sparkContext.getConf().get('spark.driver.memory'))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    with open("/proc/meminfo") as f:
        limit = next(
            int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:")
        )
    for path in _CGROUP_LIMITS:
        if os.path.exists(path):
            with open(path) as f:
                value = f.read().strip()
            if value.isdigit():
                limit = min(limit, int(value))
    assert _jvm_bytes(out.strip().splitlines()[-1]) <= limit
