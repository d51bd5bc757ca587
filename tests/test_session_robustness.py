"""The driver runs queries in ITS OWN SparkSession, whose timezone
and shuffle settings we don't control. Every oracled query must
therefore be session-timezone-independent (NTZ columns, epoch-second
outputs, no LTZ coercions) and partition-count-independent.

This test re-runs the ENTIRE oracle-parity gate under a deliberately
hostile session config: America/New_York timezone and 200 shuffle
partitions (Spark's defaults for an unconfigured session)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from hadoop_wordcount_spark import registry
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
