"""SparkSession factory.

The reference's driver builds a mutable Hadoop ``Job`` property bag
(``WordCount.java:30-42``) and notoriously drops the CLI-provided
``Configuration`` (``new Job()`` instead of ``new Job(getConf())``,
``WordCount.java:30``). Here the session is the single configuration
point and ``extra_conf`` is actually honored.

Scale notes (100 TB design):
- ``spark.sql.adaptive.enabled`` — AQE re-plans shuffles at runtime
  (partition coalescing, skew-join splitting); essential at scale and
  harmless locally.
- ``spark.sql.shuffle.partitions`` — sized to cores locally; on a
  1000-executor cluster this should be ~2-3x total cores (or left to
  AQE's ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
- Arrow enabled so the few Pandas-UDF operators batch-transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The CPUs this process may use (its affinity mask, which a container's
# cpuset also narrows), not the host's core count.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """min(48g, ~40% of host RAM), floor 2g.

    48g suits the 128 GiB bench host (32 concurrent local-mode tasks
    + session-lifetime caches/broadcasts; at 8g that pressure caused
    multi-second GC storms striking random bands of consecutive bench
    queries). But a fixed 48g default would let the heap outgrow
    physical memory on smaller dev/CI hosts (cgroup limits, laptops)
    and get OOM-killed where a small cap merely forced GC — so derive
    from MemTotal and only go big when the host actually is.
    Override with SPARK_DRIVER_MEMORY.
    """
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_gib = int(line.split()[1]) / (1024 * 1024)
                    break
            else:
                return "8g"
    except OSError:
        return "8g"
    return f"{max(2, min(48, int(mem_gib * 0.4)))}g"


def get_spark(
    app_name: str = "hadoop_wordcount_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
