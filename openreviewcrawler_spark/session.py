"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the configs are chosen so the same plans run
unchanged on a multi-executor cluster (AQE, skew-join handling, Arrow UDFs,
UTC timestamps for oracle comparison).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def host_cores() -> int:
    """Cores this process may run on: its CPU affinity mask, which a
    container's cpuset narrows below ``os.cpu_count()``."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API off Linux
        return os.cpu_count() or 1


def host_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for this host: a quarter of ``MemTotal``, at least 1 GiB.
    The rest stays for the Python workers and the tmpfs shuffle directory,
    which also live in RAM. Spark's own 1g where ``meminfo`` is unreadable."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{max(1024, int(line.split()[1]) // 4096)}m"
    except OSError:
        pass
    return "1g"


def session_sizing(env: Mapping[str, str] = os.environ) -> tuple[str, str, str]:
    """(local cores, shuffle partitions, driver memory): the
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_SHUFFLE`` / ``SPARK_GRAFT_DRIVER_MEM``
    overrides when set, else derived from the host."""
    cpus = env.get("SPARK_GRAFT_CPUS") or str(host_cores())
    shuffle = env.get("SPARK_GRAFT_SHUFFLE") or cpus
    driver_mem = env.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory()
    return cpus, shuffle, driver_mem


def get_spark(
    app_name: str = "openreviewcrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Sizing defaults come from :func:`session_sizing`: the host's cores and
    memory, unless ``SPARK_GRAFT_CPUS`` (local core count),
    ``SPARK_GRAFT_SHUFFLE`` (shuffle partition count) or
    ``SPARK_GRAFT_DRIVER_MEM`` pin them.
    """
    cpus, shuffle, driver_mem = session_sizing()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(shuffle)

    # Shuffle/spill dir: this sandbox's disk-backed /tmp serializes all
    # shuffle I/O (measured: local[32] was no faster than local[8] until the
    # local dir moved to tmpfs — 18 s -> 8.9 s per round, scaling efficiency
    # 0.25 -> 0.88). On a real cluster this is the node-local NVMe that
    # spark.local.dir always points at; tmpfs is this VM's stand-in.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        shm = "/dev/shm/spark-local"
        try:
            os.makedirs(shm, exist_ok=True)
            local_dir = shm
        except OSError:
            local_dir = None

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (needed to rebuild at a different master)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
