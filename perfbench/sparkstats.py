"""Per-query engine counters read from Spark's own status stores.

Used by traced runs only. Each query runs under its own job group; after
its action returns, ``QueryStats.collect`` waits until the status
listener has seen every job of the group finish, then sums the stage
metrics of those jobs (``AppStatusStore``), the SQL metrics of the SQL
executions that started since the previous query (``SQLAppStatusStore``),
and the cache manager's entries.
"""

from __future__ import annotations

import re
import time

# SQL metric names as Spark registers them -> counter names.
_SQL_KEYS = {
    "data sent to Python workers": "python_sent_bytes",
    "number of written files": "written_files",
    "written output": "written_bytes",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?")

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "input_bytes",
    "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "spill_bytes", "executor_cpu_s", "gc_s", "shuffle_fetch_wait_s",
)


def parse_metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``"12.3 KiB"``, ``"1,234"`` or
    the multi-line ``"total (min, med, max ...)\\n12.3 KiB (...)"``."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _NUM.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


class QueryStats:
    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cache = spark._jsparkSession.sharedState().cacheManager()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._empty_list = gw.jvm.java.util.ArrayList()
        self._sql_seen = int(self._sql.executionsCount())

    def cached_entries(self) -> int:
        return int(self._cache.numCachedEntries())

    def cached_bytes(self) -> int:
        rdds = self._store.rddList(True)
        return sum(
            int(rdds.apply(i).memoryUsed()) + int(rdds.apply(i).diskUsed())
            for i in range(rdds.size())
        )

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def _wait_jobs(self, group: str, timeout: float = 5.0) -> list[int]:
        tracker = self._sc.statusTracker()
        deadline = time.perf_counter() + timeout
        while True:
            jobs = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                return jobs
            if time.perf_counter() > deadline:
                return jobs
            time.sleep(0.002)

    def collect(self, group: str) -> dict[str, float]:
        """Counters of every job run under ``group`` since ``begin``."""
        tracker = self._sc.statusTracker()
        jobs = self._wait_jobs(group)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = float(len(jobs))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._empty_list, False, self._no_quantiles
            )
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status().toString()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["input_bytes"] += s.inputBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_write_records"] += s.shuffleWriteRecords()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        out.update(self._sql_metrics())
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def _sql_metrics(self) -> dict[str, float]:
        total = int(self._sql.executionsCount())
        sums = dict.fromkeys(_SQL_KEYS.values(), 0.0)
        if total > self._sql_seen:
            execs = self._sql.executionsList(self._sql_seen, total - self._sql_seen)
            for i in range(execs.size()):
                e = execs.apply(i)
                metrics = e.metrics()
                # A write's metrics appear on more than one plan node
                # with the same accumulator; count each accumulator once.
                wanted: dict[int, str] = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _SQL_KEYS.get(m.name())
                    if key is not None:
                        wanted[int(m.accumulatorId())] = key
                if not wanted:
                    continue
                values = self._to_dict(self._sql.executionMetrics(e.executionId()))
                for acc, key in wanted.items():
                    if acc in values:
                        sums[key] += parse_metric_value(values[acc])
            self._sql_seen = total
        return sums

    def _to_dict(self, scala_map) -> dict[int, str]:
        conv = self._sc._gateway.jvm.scala.jdk.javaapi.CollectionConverters
        jmap = conv.asJava(scala_map)
        return {int(k): str(jmap.get(k)) for k in jmap.keySet().toArray()}
