"""The driver runs queries in ITS OWN SparkSession, whose timezone
and shuffle settings we don't control. Every oracled query must
therefore be session-timezone-independent (NTZ columns, epoch-second
outputs, no LTZ coercions) and partition-count-independent.

This test re-runs the ENTIRE oracle-parity gate under a deliberately
hostile session config: America/New_York timezone and 200 shuffle
partitions (Spark's defaults for an unconfigured session)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

import pytest

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.session import _default_driver_memory
from tests.conftest import SF_SMALL
from tests.oracle_utils import compare_query

registry.load_all()

HOSTILE = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.shuffle.partitions": "200",
}


@pytest.fixture(scope="module")
def hostile_spark(spark):
    saved = {k: spark.conf.get(k) for k in HOSTILE}
    for k, v in HOSTILE.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_parity_under_hostile_session(hostile_spark, sf_dir, name):
    mismatch = compare_query(
        hostile_spark, sf_dir, name, registry.QUERIES[name], registry.ORACLES[name]
    )
    assert mismatch is None, mismatch


@pytest.mark.parametrize("env_cpus", [None, "3"])
def test_default_cpus_follow_affinity_unless_overridden(env_cpus):
    """A bare CLI run sizes local[N] and the shuffle partitions to the
    CPUs this process may use, not a fixed 32; SPARK_GRAFT_CPUS wins."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_cpus is not None:
        env["SPARK_GRAFT_CPUS"] = env_cpus
    out = subprocess.run(
        [sys.executable, "-c",
         "from hadoop_wordcount_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"],
        env=env, capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    assert out == (env_cpus or str(len(os.sched_getaffinity(0))))


# --- per-session table resolution -------------------------------------

SF_MEDIUM = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")


def _jobs(spark, fn):
    """Run ``fn`` and return (its result, the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect())


def test_load_table_resolves_each_file_once_per_session(spark, tmp_path):
    from hadoop_wordcount_spark.sources.tables import load_table

    shutil.copyfile(f"{SF_SMALL}/customer.parquet", tmp_path / "customer.parquet")
    first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "customer"))
    again, n_again = _jobs(spark, lambda: load_table(spark, str(tmp_path), "customer"))
    assert n_first >= 1
    assert n_again == 0
    assert _rows(again) == _rows(first)
    assert len(_rows(first)) == 150

    # /x and file:///x are one file, so one entry.
    uri, n_uri = _jobs(spark, lambda: load_table(spark, tmp_path.as_uri(), "customer"))
    assert n_uri == 0
    assert _rows(uri) == _rows(first)

    # A rewrite at the same path is read again, not served stale.
    shutil.copyfile(f"{SF_MEDIUM}/customer.parquet", tmp_path / "customer.parquet")
    fresh, n_fresh = _jobs(spark, lambda: load_table(spark, str(tmp_path), "customer"))
    assert n_fresh >= 1
    assert fresh.count() == 1500

    # The memo lives with the session object: a new session resolves afresh.
    other = spark.newSession()
    _, n_other = _jobs(other, lambda: load_table(other, str(tmp_path), "customer"))
    assert n_other >= 1


def test_session_reuse_across_table_directories(spark):
    """One session, several table directories: every query reads the
    directory it is given, never a frame or view of an earlier one."""
    for sf in (SF_SMALL, SF_MEDIUM, SF_SMALL):
        for name in ("sql_tpch_q3", "tpch_q1_like"):
            mismatch = compare_query(
                spark, sf, name, registry.QUERIES[name], registry.ORACLES[name]
            )
            assert mismatch is None, f"{name} @ {sf}: {mismatch}"


@pytest.mark.parametrize(
    "name",
    [
        "sql_tpch_q3",
        "sql_pipe_q6",
        "null_semantics_audit",
        "sql_listagg_nation_top",
        "sql_group_by_all_report",
        "sql_unpivot_clause",
    ],
)
def test_sql_query_registers_every_view_it_reads(spark, name):
    """Each SQL query registers only its own tables, so it must name
    all of them: it has to analyse in a session with no views."""
    fresh = spark.newSession()
    assert not [t for t in fresh.catalog.listTables() if t.isTemporary]
    registry.QUERIES[name](fresh, SF_SMALL).schema


# --- driver heap default ----------------------------------------------

GIB = 2**30


@pytest.mark.parametrize(
    "cgroup, files, heap",
    [
        # v2: the limit of the process's own cgroup.
        ("0::/user.slice/job", {"sys/fs/cgroup/user.slice/job/memory.max": str(10 * GIB)}, "4g"),
        # v1: a limit set on an ancestor applies to the leaf too.
        ("4:memory:/docker/abc\n1:cpu:/",
         {"sys/fs/cgroup/memory/docker/memory.limit_in_bytes": str(10 * GIB),
          "sys/fs/cgroup/memory/docker/abc/memory.limit_in_bytes": "9223372036854771712"},
         "4g"),
        # Unlimited, as each version spells it: MemTotal decides.
        ("0::/a\n4:memory:/a",
         {"sys/fs/cgroup/a/memory.max": "max",
          "sys/fs/cgroup/memory/a/memory.limit_in_bytes": "9223372036854771712"},
         "6g"),
        # No cgroup files at all.
        (None, {}, "6g"),
    ],
    ids=["v2", "v1", "unlimited", "missing"],
)
def test_default_driver_memory_honours_cgroup_limit(tmp_path, cgroup, files, heap):
    """40% of min(MemTotal, cgroup limit): a 10 GiB cgroup on a 15 GiB
    host gets 4g, not 6g."""
    (tmp_path / "proc" / "self").mkdir(parents=True)
    (tmp_path / "proc" / "meminfo").write_text(f"MemTotal:       {15 * GIB // 1024} kB\n")
    if cgroup is not None:
        (tmp_path / "proc" / "self" / "cgroup").write_text(cgroup + "\n")
    for rel, value in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(value + "\n")
    assert _default_driver_memory(str(tmp_path)) == heap
