"""Round-12 pins: the cross-engine half-away rounding helper used by
the Arrow kernels (r11 ADVICE — np.round is half-even while Spark
F.round/HALF_UP and DuckDB round() are half-away), the SRP dim guard,
the MinHash NULL-tokens propagation, and the shipmonth histogram
rewrite's equality with the direct WITHIN GROUP aggregates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoop_wordcount_spark.functions.rounding import round_half_away


def test_round_half_away_matches_spark_round(spark):
    """On exact .5 boundaries (representable in binary at the tested
    scales) the helper must agree with Spark F.round — the half-away
    mode — where np.round (half-even) disagrees on half of them."""
    vals = [0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.25, -0.25, 3.75]
    got = round_half_away(np.array(vals), 1)
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r[0] for r in df.select(F.round("x", 1)).collect()]
    assert got.tolist() == want
    # And the disagreement this guards against is real:
    assert np.round(np.array([0.25]), 1).tolist() == [0.2]  # half-even
    assert round_half_away(np.array([0.25]), 1).tolist() == [0.3]


def test_round_half_away_matches_duckdb_round():
    import duckdb

    vals = [0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.25, -0.25, 3.75]
    want = [
        duckdb.sql(f"SELECT round(CAST({v!r} AS DOUBLE), 1)").fetchone()[0]
        for v in vals
    ]
    assert round_half_away(np.array(vals), 1).tolist() == want


def test_round_half_away_tracks_duckdb_on_pseudo_halves():
    """DuckDB is the engine the helper tracks (r12 ADVICE): on
    shortest-repr pseudo-halves like 1.005 (stored double is
    1.00499999...) Spark's F.round goes through BigDecimal.valueOf
    and yields 1.01, while the helper and DuckDB round the double's
    TRUE value to 1.00. Pin the helper==DuckDB side so a silent
    helper change toward Spark's mode fails loudly."""
    import duckdb

    vals = [1.005, 2.675, -1.005, 0.615]
    want = [
        duckdb.sql(f"SELECT round(CAST({v!r} AS DOUBLE), 2)").fetchone()[0]
        for v in vals
    ]
    got = round_half_away(np.array(vals), 2).tolist()
    assert got == want
    # The divergence the docstring tolerates is real on this input:
    # 1.005's stored double sits BELOW the .5 boundary.
    assert got[0] == 1.00


def test_srp_kernel_rejects_wrong_embedding_dim(spark):
    """Hyperplanes (and the pair_dot unroll in dedup.py) are built at
    _SRP_DIM; a table with a different dim must fail loudly, not emit
    NULL cosines silently (r11 ADVICE)."""
    import pytest

    from hadoop_wordcount_spark.functions import srp as srp_mod

    bad = spark.createDataFrame(
        [(0, [0.1] * (srp_mod._SRP_DIM + 1))],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        ),
    )
    out, _ = srp_mod.srp_spark_side(bad)
    with pytest.raises(Exception, match="SRP plane dim"):
        out.collect()


def test_minhash_featurize_propagates_null_tokens(spark):
    """A NULL text row must flow through the MinHash Arrow kernel as
    NULL shingles/sig (the replaced Column formulation's semantics)
    rather than raising TypeError and failing the job (r11 ADVICE);
    the band explode then drops it."""
    from hadoop_wordcount_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, None),
            (3, "alpha beta gamma delta"),
        ],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        ),
    )

    def fake_docs(spark_, sf_dir_):
        return docs

    orig = D._docs
    D._docs = fake_docs
    try:
        base = D._minhash_base(spark, "/null-tokens-test")
        rows = {r["doc_id"]: r for r in base.collect()}
        base.unpersist()
    finally:
        D._docs = orig
    assert rows[2]["shingles"] is None and rows[2]["sig"] is None
    assert rows[1]["sig"] == rows[3]["sig"] is not None
    assert len(rows[1]["sig"]) == 8


def test_shipmonth_histogram_matches_within_group_aggs(spark):
    """The round-12 histogram rewrite of shipmonth_price_percentiles
    (value-histogram + cumulative-count rank lookups) must return
    exactly what the direct percentile_cont/_disc WITHIN GROUP
    aggregates return — the rewrite exists because those
    TypedImperativeAggregates buffer every row per cohort (measured
    8.3 s -> 146 s across the 64x->256x ladder step; the histogram
    plan reads 7.8 s -> 8.9 s on the same rungs)."""
    from hadoop_wordcount_spark import registry
    from hadoop_wordcount_spark.operators.relational import _t
    from tests.conftest import SF_SMALL

    registry.load_all()
    new = registry.QUERIES["shipmonth_price_percentiles"](spark, SF_SMALL)
    l = _t(spark, SF_SMALL, "lineitem").select(
        "l_returnflag",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias(
            "ship_month"
        ),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    ref = l.groupBy("l_returnflag", "ship_month").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)")
            / 100.0
        ).alias("p50_cont"),
        (
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            / 100.0
        ).alias("p50_disc"),
        (
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
            / 100.0
        ).alias("p90_disc"),
    )
    a = sorted(map(tuple, new.select(*ref.columns).collect()))
    b = sorted(map(tuple, ref.collect()))
    assert a == b


def test_q2_packed_argmin_matches_struct_min(spark):
    """tpch_q2_like's packed-BIGINT argmin (cents * 2^32 + suppkey)
    must pick exactly what min(struct(price, suppkey)) picks — same
    min price, same lowest-suppkey tiebreak. The packing exists
    because a struct-valued min has no primitive aggregation buffer
    and planned as a sort-based aggregate over the whole fact stream
    (alpha ~1.9 at 256x); the packed long stays in HashAggregate."""
    from hadoop_wordcount_spark import registry
    from hadoop_wordcount_spark.operators.relational import _t
    from tests.conftest import SF_SMALL

    registry.load_all()
    new = registry.QUERIES["tpch_q2_like"](spark, SF_SMALL)
    li = _t(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") > 0)
    p = _t(spark, SF_SMALL, "part").filter(F.col("p_size") < 10)
    s = _t(spark, SF_SMALL, "supplier")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 2)
    best = (
        li.select("l_partkey", "l_suppkey", unit.alias("unit_price"))
        .groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(
                    F.col("unit_price").alias("unit_price"),
                    F.col("l_suppkey").alias("l_suppkey"),
                )
            ).alias("b")
        )
        .select(
            "l_partkey",
            F.col("b.l_suppkey").alias("l_suppkey"),
            F.col("b.unit_price").alias("min_price"),
        )
    )
    ref = (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "min_price")
    )
    a = sorted(map(tuple, new.collect()))
    b = sorted(map(tuple, ref.collect()))
    assert a == b
    # And the fact-stream aggregate must stay in HashAggregate — no
    # sort-based fallback on the hot path.
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "ObjectHashAggregate" not in plan
