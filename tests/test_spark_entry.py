"""The driver contract in ``__spark_entry__``: it re-exports the
registry unchanged, every oracle names a registered query, and the
flagship ``entry`` returns rows."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from hadoop_wordcount_spark import registry


def test_driver_contract(spark):
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(queries)
    assert queries == registry.QUERIES
    assert oracles == registry.ORACLES

    registry.load_all()
    assert set(registry.QUERIES) == set(queries)
    assert set(registry.ORACLES) == set(oracles)

    assert entry_mod.entry(spark).take(1)
