"""Eager sub-stages: the one way an operator materialises a frame.

Materialise a frame in two cases only: it has two or more consumers,
so computing it once beats recomputing it per consumer, or an iterative
loop must keep its lineage flat, so round n does not re-plan (or re-run)
rounds 1..n-1. Operators call ``materialize(df)``, never
``localCheckpoint`` themselves. ``.cache()`` stays for plan-keyed
sharing, where a later query rebuilds the same plan and Spark's
``CacheManager`` substitutes the stored result.

How it materialises follows the session's master, because the safe
choice depends on where the blocks live:

- A single-process master (``local``, ``local[N]``, ``local[*]``,
  ``local[N,F]``) runs every task in the driver's JVM, so no executor
  can be lost while the query lives. ``localCheckpoint(eager=True)``
  stores the blocks without lineage and cuts the plan to a
  ``LogicalRDD``: later rounds analyse a plan of constant depth.
- Any other master (``local-cluster[...]``, ``spark://``, ``yarn``,
  ``k8s://``) runs executors that can die. Their locally checkpointed
  blocks have no lineage to recompute from, and the next action fails
  with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. So ``cache()`` +
  ``count()`` instead: lost blocks recompute from lineage. The cost is
  that lineage is not cut: each round of an iterative loop re-analyses
  a plan that grows with the rounds before it (execution still reads
  their cached blocks), and the blocks stay until the session's cache
  is cleared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def single_process(master: str) -> bool:
    """True when ``master`` runs the driver and every task in one JVM.

    ``local-cluster[...]`` also starts with ``local`` but starts
    separate executor JVMs.
    """
    return master == "local" or master.startswith("local[")


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now; return a frame that reads the stored result."""
    if single_process(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=True)
    df = df.cache()
    df.count()
    return df
