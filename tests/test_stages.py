"""stages.materialize: the checkpoint/cache choice follows the master,
a local master keeps the lineage cut, and on a multi-process master a
materialised stage survives the loss of every executor."""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time

import pytest

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.plans.inspect import formatted_plan
from hadoop_wordcount_spark.stages import single_process
from tests.conftest import SF_SMALL

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLUSTER = "local-cluster[2,1,1024]"
# Built before the kill: ddsketch's census is materialised at build
# time. The other two run their iterative loops through materialize
# after the replacement executors registered.
KILL_AFTER_BUILD = "ddsketch_quantiles"
AFTER_LOSS = ("dedup_clusters", "pagerank_bigram")


@pytest.mark.parametrize(
    "master, checkpoints",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        (CLUSTER, False),
        ("spark://h:7077", False),
        ("yarn", False),
    ],
)
def test_materialize_checkpoints_only_in_one_process(master, checkpoints):
    """``materialize`` checkpoints on a single-process master and caches
    on any other; ``local-cluster`` starts with "local" too."""
    assert single_process(master) is checkpoints


def test_ddsketch_quantiles_reads_materialized_census(spark, sf_dir):
    """The quantile walk reads the census stage's stored result, so the
    final plan holds no scan of events."""
    plan = formatted_plan(registry.QUERIES["ddsketch_quantiles"](spark, sf_dir))
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def _executor_pids(root: int) -> list[int]:
    """Executor JVMs among the descendants of process ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmdline = fh.read()
        except OSError:
            continue
        if b"CoarseGrainedExecutorBackend" in cmdline:
            found.append(pid)
    return found


def _block_managers(spark, n: int) -> set[str]:
    """host:port of every registered block manager, the driver's
    included, when there are exactly ``n``; else the empty set."""
    infos = spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
    found = {f"{i.host()}:{i.port()}" for i in infos}
    return found if len(found) == n else set()


def _wait_for(check, what: str, timeout_s: float = 120.0):
    """Poll ``check`` until it returns something truthy; return that."""
    deadline = time.monotonic() + timeout_s
    while not (out := check()):
        assert time.monotonic() < deadline, what
        time.sleep(0.5)
    return out


def _kill_every_executor(spark) -> int:
    """SIGKILL every executor JVM, then wait until the driver has dropped
    them and registered as many new ones. Returns the number killed."""
    n = 3  # the driver and CLUSTER's two executors
    before = _wait_for(lambda: _block_managers(spark, n), "executors never registered")
    pids = _executor_pids(os.getpid())
    assert len(pids) == n - 1, pids
    for pid in pids:
        os.kill(pid, signal.SIGKILL)
    # The count alone reads 3 at once, before the loss is noticed.
    _wait_for(
        lambda: len(_block_managers(spark, n) - before) == n - 1,
        "killed executors were not replaced",
    )
    return len(pids)


def _run_cluster(sf_dir: str) -> None:
    """Child process: one session on a multi-process master."""
    from hadoop_wordcount_spark.session import get_spark
    from tests.oracle_utils import compare_query

    # The executors are fresh JVMs that live for a minute: compiling
    # with C1 only takes ~10 s off this test on 4 CPUs.
    spark = get_spark(
        master=CLUSTER,
        shuffle_partitions=4,
        extra_conf={"spark.executor.extraJavaOptions": "-XX:TieredStopAtLevel=1"},
    )
    built = registry.QUERIES[KILL_AFTER_BUILD](spark, sf_dir)
    killed = _kill_every_executor(spark)
    queries = {KILL_AFTER_BUILD: lambda *_: built}
    queries.update({name: registry.QUERIES[name] for name in AFTER_LOSS})
    mismatches = {}
    for name, fn in queries.items():
        try:
            mismatches[name] = compare_query(
                spark, sf_dir, name, fn, registry.ORACLES[name]
            )
        except Exception as exc:  # reported to the parent, which fails
            classes = sorted(set(re.findall(r"\[([A-Z][A-Z_]+)\]", str(exc))))
            mismatches[name] = f"{type(exc).__name__}: {classes or str(exc)[:300]}"
    print(json.dumps({"killed": killed, "mismatches": mismatches}))
    spark.stop()


def test_materialized_stage_survives_executor_loss(tmp_path):
    """Build ddsketch_quantiles on a two-executor cluster, SIGKILL both
    executors, and the query still matches its oracle: its census
    recomputes from lineage. A locally checkpointed census would fail
    with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        PYSPARK_PYTHON=sys.executable,
        SPARK_WORKER_DIR=str(tmp_path / "work"),
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), SF_SMALL],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["killed"] == 2
    assert report["mismatches"] == dict.fromkeys(
        (KILL_AFTER_BUILD, *AFTER_LOSS)
    ), report


if __name__ == "__main__":
    _run_cluster(sys.argv[1])
