"""The driver contract in ``__spark_entry__``: it re-exports the
registry unchanged, every oracle names a registered query, every
module-level ``q_*`` function is a registered query, and the flagship
``entry`` returns rows."""

from __future__ import annotations

import ast
import pathlib

import __spark_entry__ as entry_mod
import hadoop_wordcount_spark
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

    # A `q_*` function outside the registry is a second path that no
    # query, oracle or benchmark runs.
    pkg = pathlib.Path(hadoop_wordcount_spark.__file__).parent
    registered = {(fn.__module__, fn.__name__) for fn in registry.QUERIES.values()}
    unregistered = []
    for path in sorted(pkg.rglob("*.py")):
        module = ".".join(path.relative_to(pkg.parent).with_suffix("").parts)
        tree = ast.parse(path.read_text(encoding="utf-8"))
        unregistered += [
            f"{module}.{node.name}" for node in tree.body
            if isinstance(node, ast.FunctionDef)
            and node.name.startswith("q_")
            and (module, node.name) not in registered
        ]
    assert not unregistered, unregistered

    assert entry_mod.entry(spark).take(1)
