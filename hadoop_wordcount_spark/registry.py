"""Query registry.

Every implemented operator registers here with a name, a callable
``(spark, sf_dir) -> DataFrame`` and (where ANSI-SQL-expressible) a
DuckDB oracle SQL string over the pre-registered table views
(``region nation customer supplier part orders lineitem events
documents embeddings``). ``__spark_entry__.py`` re-exports these for
the driver's correctness harness. Iteration order is registration
order; every consumer that needs a stable order sorts by name.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator, source and streaming module so its
    queries register. Idempotent: a module registers only on its
    first import."""
    # Imports are side-effecting (decorator registration).
    from hadoop_wordcount_spark.operators import (  # noqa: F401
        corpus,
        dedup,
        graph,
        multimodal,
        pandas_ops,
        relational,
        sampling,
        similarity,
        sinks,
        sketches,
        text_analysis,
        wordcount,
    )
    from hadoop_wordcount_spark.sources import pydatasource  # noqa: F401
    from hadoop_wordcount_spark.streaming import stream_queries  # noqa: F401
