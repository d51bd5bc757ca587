"""SparkSession factory.

The reference's driver builds a mutable Hadoop ``Job`` property bag
(``WordCount.java:30-42``) and notoriously drops the CLI-provided
``Configuration`` (``new Job()`` instead of ``new Job(getConf())``,
``WordCount.java:30``). Here the session is the single configuration
point and ``extra_conf`` is actually honored.

What the session sets at launch, and why (measured on a 4-CPU host):

- Driver JVM flags, through ``spark.driver.defaultJavaOptions``, so the
  caller's ``spark.driver.extraJavaOptions`` still apply:
  - ``-XX:SharedArchiveFile=<archive>`` (``jvm_archive``): the driver
    maps Spark's start-up classes from a per-machine class-data-sharing
    archive instead of reading and verifying them from jars. perfbench
    ``setup_s`` median 12.7 -> 6.5 s on ``wordcount_cli`` (10 pairs) and
    13.4 -> 6.9 s on ``llm_curation`` (6 pairs); a one-shot CLI run on a
    2-line file 12.6-14.5 -> 8.4-8.7 s.
  - ``-Xlog:cds*=off -Xlog:cds*=warning:stderr``: the JVM's CDS
    warnings (an archive it cannot map) go to stderr; by default they
    go to stdout, which carries the CLI's verdict.
  - Not set: ``-XX:TieredStopAtLevel=1`` saved ~0.3 s of ``get_spark``
    (inside the noise) and made warm ``llm_curation`` passes slower,
    6.0-6.7 s against 5.0-5.5 s.
- Static confs:
  - ``spark.driver.memory``: ``_default_driver_memory()`` unless
    ``SPARK_DRIVER_MEMORY`` is set.
  - ``spark.sql.codegen.cache.maxEntries=1000``: one pass of perfbench's
    ``llm_curation`` mix generates 113 distinct sources, so with Spark's
    default of 100 entries every warm pass recompiled 24-28 of them at
    sf0.001 (``CodegenMetrics``) and 32-58 at sf0.01; with 1000, none.
  - ``spark.ui.enabled=false``: no UI server or listener thread in a
    batch process.
- Session confs (changeable later with ``spark.conf.set``):
  - ``spark.sql.adaptive.*`` — AQE re-plans shuffles at runtime
    (partition coalescing, skew-join splitting); essential at scale and
    harmless locally.
  - ``spark.sql.shuffle.partitions`` — sized to cores locally; on a
    1000-executor cluster this should be ~2-3x total cores (or left to
    AQE's ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
  - ``spark.sql.session.timeZone=UTC`` — results do not depend on the
    host's zone.
  - Arrow enabled so the few Pandas-UDF operators batch-transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hadoop_wordcount_spark import jvm_archive

# The CPUs this process may use (its affinity mask, which a container's
# cpuset also narrows), not the host's core count.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# cgroup v1 reports "no limit" as a page-rounded 2**63 - 1.
_NO_LIMIT = 2**62


def _cgroup_memory_limit(root: str = "/") -> int | None:
    """This process's cgroup memory limit in bytes, or None when unlimited.

    Reads v2 ``memory.max`` and v1 ``memory.limit_in_bytes`` in the
    process's cgroup (``/proc/self/cgroup``) and its ancestors, whose
    limits apply too, and returns the smallest.
    """
    try:
        with open(os.path.join(root, "proc/self/cgroup")) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return None
    limits = []
    for line in lines:
        _, controllers, path = line.split(":", 2)
        if not controllers:
            base, name = "sys/fs/cgroup", "memory.max"
        elif "memory" in controllers.split(","):
            base, name = "sys/fs/cgroup/memory", "memory.limit_in_bytes"
        else:
            continue
        while True:
            try:
                with open(os.path.join(root, base, path.lstrip("/"), name)) as fh:
                    limit = int(fh.read())  # v2's "max" raises too
            except (OSError, ValueError):
                limit = _NO_LIMIT
            if limit < _NO_LIMIT:
                limits.append(limit)
            if path in ("", "/"):
                break
            path = os.path.dirname(path)
    return min(limits, default=None)


def _default_driver_memory(root: str = "/") -> str:
    """min(48g, ~40% of the memory this process may use), floor 2g.

    The memory is the smaller of ``MemTotal`` and the process's cgroup
    limit: a 4 GiB container on a 15 GiB host gets 2g, not 6g. The other
    60% is left to the Python workers, off-heap buffers and the JVM
    itself; a heap that outgrows the memory really there gets the
    process OOM-killed, where a small heap only costs GC time. 48g caps
    it on large hosts. Override with SPARK_DRIVER_MEMORY.
    """
    try:
        with open(os.path.join(root, "proc/meminfo")) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem = int(line.split()[1]) * 1024
                    break
            else:
                return "8g"
    except OSError:
        return "8g"
    limit = _cgroup_memory_limit(root)
    if limit is not None:
        mem = min(mem, limit)
    return f"{max(2, min(48, int(mem / 2**30 * 0.4)))}g"


def session_conf(
    app_name: str = "hadoop_wordcount_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` launches with: the defaults, then ``extra_conf``."""
    cpus = int(DEFAULT_CPUS)
    conf = {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
    }
    conf.update(extra_conf or {})
    return conf


def start(conf: dict[str, str], java_options: str = "") -> SparkSession:
    """``getOrCreate`` with ``conf``; ``java_options`` become the driver
    JVM's ``spark.driver.defaultJavaOptions``."""
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    if java_options:
        builder = builder.config("spark.driver.defaultJavaOptions", java_options)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app_name: str = "hadoop_wordcount_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    conf = session_conf(app_name, master, shuffle_partitions, extra_conf)
    with jvm_archive.driver_launch(conf) as java_options:
        return start(conf, java_options)
