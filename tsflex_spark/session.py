"""SparkSession helper tuned for this engine.

Local-mode testing defaults; on a real cluster the caller supplies its own
session and every operator in this package works against it unchanged (all
operators are pure DataFrame transforms — no RDDs, no driver-side loops).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# driver heap ceiling when derived from the host (local mode: the driver
# runs every task, so a quarter of host memory leaves room for Python
# workers and the OS)
_MAX_DRIVER_MEM_MB = 8192


def host_defaults(meminfo: str = "/proc/meminfo") -> tuple:
    """``(cores, driver memory)`` for a local session on this host.

    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` win when set.
    Otherwise cores are the CPUs this process may run on
    (``os.sched_getaffinity``, which honours container cpusets) and the
    driver heap is a quarter of ``MemTotal``, between 1 GB and
    ``_MAX_DRIVER_MEM_MB``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if not cpus:
        try:
            cpus = str(len(os.sched_getaffinity(0)))
        except AttributeError:  # platforms without affinity (macOS)
            cpus = str(os.cpu_count() or 1)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        total_mb = None
        try:
            with open(meminfo) as fh:
                for line in fh:
                    if line.startswith("MemTotal:"):
                        total_mb = int(line.split()[1]) // 1024
                        break
        except OSError:
            pass
        mb = 4096 if total_mb is None else total_mb // 4
        mem = f"{max(1024, min(mb, _MAX_DRIVER_MEM_MB))}m"
    return cpus, mem


def get_spark(app_name: str = "tsflex_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus, driver_mem = host_defaults()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor: the 1m default rounds small shuffles down
        # to a handful of tasks, idling most cores on multi-stage plans.
        # With parallelismFirst (default true) the target is
        # max(totalSize/parallelism, THIS) — at cluster scale
        # totalSize/parallelism >> 64k so behavior is unchanged; the
        # lower floor only buys parallelism back when shuffles are tiny
        # and extra tasks are free (measured 1.6x on the multi-stage
        # sketch-dedup plan at sf0.1).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # UI off by default (port + memory overhead in tests); probes set
        # SPARK_GRAFT_UI=true to read per-stage shuffle bytes via the
        # status REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
