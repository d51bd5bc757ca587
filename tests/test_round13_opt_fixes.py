"""Round-13 optimization pins: the rewrites must keep results
identical (planted equivalence checks) and the plan properties the
optimizations bought must not silently regress."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.plans.inspect import formatted_plan

registry.load_all()

SF = "/root/testdata/sf0.001"


# --- bpe: per-round checkpoints keep the unrolled plan linear --------------


def test_bpe_train_plan_stays_flat(spark):
    """Before r13 the 6-round unroll doubled the plan per round
    (5,373 lines / 366 Exchanges). The merge-table union must now be
    a union of checkpointed 1-row scans: no Exchange at all."""
    df = registry.QUERIES["bpe_merges_train"](spark, SF)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert plan.count("\n") < 300, f"plan regrew: {plan.count(chr(10))} lines"


def test_bpe_encode_plan_stays_flat(spark):
    df = registry.QUERIES["bpe_encode_stats"](spark, SF)
    plan = formatted_plan(df)
    assert plan.count("\n") < 600, f"plan regrew: {plan.count(chr(10))} lines"


# --- cogroup_merge_asof: bucketed cogroup preserves per-user matching ------


def test_bucketed_cogroup_isolates_users(spark):
    """Two users whose rows land in the same hash bucket (every bucket
    count divides their difference... forced by using equal user ids
    mod any bucket count) must never see each other's clicks. Planted:
    user 1 has a click BEFORE user 65's purchase; user 65 has no
    clicks, so its gap must stay -1 even though user 1's click is in
    the same bucket whenever n_buckets divides 64. Exercises the
    PRODUCTION kernel (`pandas_ops.asof_kernel`, factored to module
    level per the r13 advice — a private test copy could drift)."""
    from hadoop_wordcount_spark.operators.pandas_ops import asof_kernel

    purchases = spark.createDataFrame(
        [(100, 1, 1_000_000), (200, 65, 2_000_000)],
        "event_id long, user_id long, us long",
    )
    clicks = spark.createDataFrame(
        [(1, 500_000)], "user_id long, us long"
    )

    one_bucket = F.lit(0).alias("b")  # the worst case: everyone together
    out = (
        purchases.select(one_bucket, "event_id", "user_id", "us")
        .groupBy("b")
        .cogroup(clicks.select(one_bucket, "user_id", "us").groupBy("b"))
        .applyInPandas(
            asof_kernel, schema="event_id long, user_id long, gap_s long"
        )
    )
    rows = {r["event_id"]: r["gap_s"] for r in out.collect()}
    assert rows == {100: 0, 200: -1}


@pytest.mark.parametrize("shuffle_partitions", ["session", "auto"])
def test_cogroup_merge_asof_matches_per_user_reference(
    spark, monkeypatch, shuffle_partitions
):
    """The bucketed query must equal a per-purchase correlated
    max-click reference computed with plain joins — also when the
    shuffle-partitions conf is non-numeric ("auto" on managed
    deployments), which takes the default-parallelism bucket count.
    Spark rejects setting "auto" locally, so the conf read is patched."""
    from pyspark.sql.conf import RuntimeConfig

    from hadoop_wordcount_spark.sources.tables import load_table

    reads = []
    if shuffle_partitions == "auto":
        real_get = RuntimeConfig.get

        def get(self, key, *args, **kwargs):
            if key == "spark.sql.shuffle.partitions":
                reads.append(key)
                return "auto"
            return real_get(self, key, *args, **kwargs)

        monkeypatch.setattr(RuntimeConfig, "get", get)
    got = {
        (r["event_id"], r["user_id"]): r["gap_s"]
        for r in registry.QUERIES["cogroup_merge_asof"](spark, SF).collect()
    }
    e = load_table(spark, SF, "events").withColumn(
        "us", F.expr("ts_ns div 1000")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("us").alias("cus")
    )
    ref_df = (
        p.join(c, (F.col("cu") == F.col("user_id")) & (F.col("cus") <= F.col("us")), "left")
        .groupBy("event_id", "user_id", "us")
        .agg(F.max("cus").alias("last_click"))
        .select(
            "event_id",
            "user_id",
            F.coalesce(
                F.floor((F.col("us") - F.col("last_click")) / 1_000_000),
                F.lit(-1),
            ).cast("long").alias("gap_s"),
        )
    )
    ref = {(r["event_id"], r["user_id"]): r["gap_s"] for r in ref_df.collect()}
    assert got == ref
    if shuffle_partitions == "auto":
        assert reads, "the patched conf read was never reached"


# --- basket_part_pairs: in-array expansion == former self-join -------------


def test_basket_pairs_match_self_join_reference(spark):
    from hadoop_wordcount_spark.sources.tables import load_table

    got = registry.QUERIES["basket_part_pairs"](spark, SF)
    li = load_table(spark, SF, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    ref = (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both") * F.col("n_orders") * 1.0
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), "part_a", "part_b")
        .limit(20)
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in ref.collect()]


# --- graph: broadcast strategy pins -----------------------------------------


@pytest.mark.parametrize("name", ["pagerank_bigram", "hits_hubs_authorities"])
def test_graph_iterations_broadcast_not_sort(spark, name):
    """The per-round score/rank tables must broadcast: a SortMergeJoin
    here means the edge stream is re-sorted every iteration."""
    df = registry.QUERIES[name](spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


# --- repeated_spans: packed key still a plain equi-join ---------------------


def test_repeated_spans_packed_key_single_column(spark):
    """The window self-join must run on ONE packed 62-bit key (no
    cartesian, no second hash column in the join keys)."""
    df = registry.QUERIES["repeated_spans"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
