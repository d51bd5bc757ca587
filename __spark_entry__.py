"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash). ``tests/test_spark_entry.py`` pins
this contract and ``tests/test_oracle_parity.py`` runs that compare.

All implementations live in the ``hadoop_wordcount_spark`` package;
this module only adapts its registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_wordcount_spark import registry  # noqa: E402

registry.load_all()

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: WordCount over documents at sf0.001 — the
    reference's entire observable computation, Spark-first."""
    return registry.QUERIES["word_count_sorted"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLES)
