"""Round-6 fixes, pinned:

1. `budget_largest_remainder` uses integer `div`, which cannot drift
   vs the oracle's `//` past 2^53 the way floor(double /) can.
2. `incremental_agg_maintenance`'s base/delta split is exhaustive
   under NULL dates.
3. `JsonlDirWriter.commit()` sweeps orphan `_tmp-*.jsonl` files left
   by tasks that died before reporting a commit message.
"""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from hadoop_wordcount_spark import registry

registry.load_all()

SF_SMALL = "/root/testdata/sf0.001"


def test_integer_div_exact_past_double_precision(spark):
    """The largest-remainder base quota must use integer division:
    floor(double /) loses exactness once the numerator exceeds 2^53,
    integer `div` never does."""
    num = 2**53 + 1  # not representable as a double (rounds to 2^53)
    df = spark.createDataFrame([Row(num=num, den=1)])
    got = df.select(
        F.expr("num div den").alias("d"),
        F.floor(F.col("num") / F.col("den")).alias("fd"),
    ).head()
    assert got.d == num
    # The double path is genuinely wrong here — that is WHY div is used.
    assert got.fd != got.d


def test_incremental_split_exhaustive_with_null_dates(spark):
    """base + delta must partition ALL rows, including NULL dates."""
    rows = [
        Row(o_orderdate=None, cents=100),
        Row(o_orderdate="1998-06-01", cents=200),
        Row(o_orderdate="1999-06-01", cents=300),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    cutoff = "1999-01-01"
    is_delta = F.col("o_orderdate") >= cutoff
    base = df.filter(~F.coalesce(is_delta, F.lit(False)))
    delta = df.filter(is_delta)
    assert base.count() + delta.count() == df.count()
    assert base.count() == 2  # NULL rides in base
    merged = base.unionByName(delta).agg(F.sum("cents").alias("s")).head().s
    assert merged == df.agg(F.sum("cents").alias("s")).head().s


def test_jsonldir_commit_sweeps_orphan_tmp_files(spark, tmp_path):
    from hadoop_wordcount_spark.sources.pydatasource import (
        _ensure_sink_registered,
    )

    _ensure_sink_registered(spark)
    target = str(tmp_path / "out")
    os.makedirs(target, exist_ok=True)
    orphan = os.path.join(target, "_tmp-deadbeef.jsonl")
    with open(orphan, "w") as f:
        f.write('{"leftover": true}\n')
    spark.createDataFrame([Row(a=1), Row(a=2)]).coalesce(1).write.format(
        "jsonldir"
    ).option("path", target).mode("append").save()
    assert not os.path.exists(orphan), "stale _tmp file must be swept"
    parts = [p for p in os.listdir(target) if p.startswith("part-")]
    assert parts, os.listdir(target)
