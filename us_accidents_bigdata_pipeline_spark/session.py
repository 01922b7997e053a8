"""SparkSession factory.

Re-expresses the reference's session/tuning surface (SURVEY §2.12 X5/X6:
``spark.sql.shuffle.partitions`` overrides, AQE from
``BigDataPipeline/config/spark-defaults.conf:26-27``, Kryo from
``spark-defaults.conf:23``) as one idiomatic builder:

- AQE on (coalesce + skew-join): runtime re-planning replaces the
  reference's hand-tuned per-job partition counts at 100 TB scale.
- Arrow on: every pandas boundary (pandas_udf kNN, toPandas samples) is
  Arrow-batched, never pickle-per-row (fixes the reference's v2:cell35
  non-Arrow 7.7M-row toPandas and the row-at-a-time kNN UDF).
- Session timezone pinned UTC so timestamp semantics are stable across
  engines (oracle comparison) and clusters.
- Shuffle partitions default to local parallelism for local[] masters;
  on a real cluster pass ``shuffle_partitions`` ~ 2-3x total cores and
  let AQE coalesce down.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# SparkContext ids that already received the package zip (addPyFile is
# sticky for the context's lifetime; re-adding is redundant work).
_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Module-level functions used inside ``pandas_udf`` /
    ``applyInPandasWithState`` are cloudpickled BY REFERENCE, so the
    worker must be able to ``import us_accidents_bigdata_pipeline_spark``
    — which fails whenever the driver ran from a working directory
    outside the repo. Shipping a zip via ``SparkContext.addPyFile`` is
    the cluster-correct mechanism (identical to ``spark-submit
    --py-files``): the archive is distributed to every executor and
    prepended to the worker's ``sys.path``. Local mode benefits the
    same way. Idempotent per SparkContext."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_parent = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="uabp_pyfiles_"),
        "us_accidents_bigdata_pipeline_spark.zip",
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, pkg_parent))
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))


# cgroup v2 and v1 memory limits; a container's MemTotal shows the
# host's RAM, so half of it alone can exceed the container's limit
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _half_host_memory() -> str | None:
    """Half the memory this process may use (``MemTotal``, capped by a
    cgroup memory limit when one is set) as a JVM size (``"7835m"``), or
    None when ``/proc/meminfo`` cannot be read (Spark's own default then
    applies)."""
    try:
        with open("/proc/meminfo") as f:
            total = next(
                int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return None
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():  # v2 writes "max" when unlimited
            total = min(total, int(limit))
    return f"{total // 2**21}m"


def get_spark(
    app_name: str = "us_accidents_bigdata_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    Parameters are overrides; environment variable ``SPARK_GRAFT_CPUS``
    sets local parallelism (driver contract), defaulting to all cores,
    and ``SPARK_GRAFT_DRIVER_MEM`` the driver memory, defaulting to half
    the host's RAM or of the container's cgroup memory limit if lower.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    # In local mode the driver JVM is the only memory pool (executors are
    # threads inside it) — the 1g default OOMs tree training well below
    # the data sizes a host handles, so default to half the host's RAM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_host_memory()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # One BLAS thread per Python worker: N workers x M BLAS threads
        # oversubscribes the host and thrashes (measured 7x slowdown in
        # the kNN pandas_udf); Spark's task parallelism IS the
        # parallelism.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Keep broadcast threshold at default 10MB; dimension tables
        # (region/nation/supplier) broadcast automatically. Explicit
        # F.broadcast hints are used where the stats are not available.
    )
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
