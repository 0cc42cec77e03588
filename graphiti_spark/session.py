"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for a multi-executor cluster reading ~100 TB:
- AQE on (runtime coalescing + skew-join splitting for hub entities),
- Arrow on (every UDF in this engine is a vectorized pandas UDF),
- UTC session timezone (reference coerces all datetimes to UTC,
  /root/reference/graphiti_core/utils/datetime_utils.py:25-42).

In the sandbox we run local[N]; on a real cluster only `master` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64"))


def _default_driver_memory() -> str:
    """Local-mode JVM heap: 40% of MemTotal, leaving the rest to the Python
    workers, the page cache and the OS (a fixed heap larger than the host
    never collects garbage before the kernel kills the JVM)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, int(kb // 1024 * 0.4))}m"


def get_spark(
    app_name: str = "graphiti_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CollectLimit's default ramp-up starts at ONE partition, so a
        # probe-limit over a compute-heavy DAG (e.g. the near-dup pair
        # probe) runs its first wave serially; start wide — the probes in
        # this engine sit on top of bounded candidate DAGs, so the extra
        # partitions scanned are cheap and fully parallel
        .config(
            "spark.sql.limit.initialNumPartitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
