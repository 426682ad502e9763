"""SparkSession factory tuned for this engine.

Defaults target the sandbox (local[N], single JVM) but every knob is the one
you would also set on a 1000-executor cluster: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), sensible shuffle partitioning,
Arrow for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# share of the host's (or the container's) memory the driver heap may take
# by default: the JVM's off-heap use and the Python workers need the rest
DRIVER_MEMORY_SHARE = 0.4
DRIVER_MEMORY_MAX_GB = 48


def memory_limit_bytes() -> int | None:
    """The smaller of MemTotal and the cgroup memory limit, or None when
    neither is readable (non-Linux hosts)."""
    limits = []
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" when unlimited
            limits.append(int(raw))
    return min(limits) if limits else None


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    ``DRIVER_MEMORY_SHARE`` of the memory limit in whole GB, between 1 and
    ``DRIVER_MEMORY_MAX_GB`` (the cap when the limit is unknown)."""
    limit = memory_limit_bytes()
    if limit is None:
        return f"{DRIVER_MEMORY_MAX_GB}g"
    gb = int(limit * DRIVER_MEMORY_SHARE) >> 30
    return f"{max(1, min(DRIVER_MEMORY_MAX_GB, gb))}g"


def get_spark(
    app_name: str = "ahrd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``.  ``shuffle_partitions`` defaults to the core count so local
    runs don't pay 200-task scheduling overhead; on a real cluster you would
    leave AQE's coalescing to pick the effective number.  The driver heap
    is ``SPARK_DRIVER_MEMORY`` when set, else ``default_driver_memory()``,
    a share of the memory the host (or its cgroup) gives the process.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "32")
        try:
            shuffle_partitions = max(int(cpus_s), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches cut the per-batch Python dispatch share of
        # the vectorized scorers (the NumPy kernels are batch-size-invariant;
        # 64k rows x ~15 cols ~ 10 MB per batch — well within executor heap)
        # SPARK_GRAFT_ARROW_BATCH exists for stress-testing the batch
        # scorers' group-boundary chaining: a tiny value (e.g. 64) forces
        # Arrow batch splits inside nearly every protein group
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
