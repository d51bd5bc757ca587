"""Round-4 pins: the regenerated-testdata events layout, the
profile_table_sketch error bound, the shared banded-pair cache, the
mixture-sample rates and the one-sided incremental dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

registry.load_all()


def test_events_ts_ns_matches_ts(spark):
    """The dual-layout events loader must expose ts (TIMESTAMP_NTZ,
    µs) and ts_ns (epoch nanos) that agree with each other regardless
    of which parquet generation is on disk."""
    e = load_table(spark, SF_SMALL, "events")
    assert dict(e.dtypes)["ts"] == "timestamp_ntz"
    assert dict(e.dtypes)["ts_ns"] == "bigint"
    bad = e.filter(
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        != F.expr("ts_ns div 1000")
    ).count()
    assert bad == 0


def test_profile_table_sketch_bounds(spark):
    """Sketch profile vs exact twin: nulls and min/max are exact;
    approx_count_distinct (HLL++, 5% rsd) within 15% relative."""
    exact = {
        r["col_name"]: r
        for r in registry.QUERIES["profile_table"](spark, SF_SMALL).collect()
    }
    sketch = {
        r["col_name"]: r
        for r in registry.QUERIES["profile_table_sketch"](spark, SF_SMALL).collect()
    }
    assert set(exact) == set(sketch)
    for c, ex in exact.items():
        sk = sketch[c]
        assert sk["n_null"] == ex["n_null"], c
        assert sk["min_s"] == ex["min_s"], c
        assert sk["max_s"] == ex["max_s"], c
        assert abs(sk["n_distinct"] - ex["n_distinct"]) <= max(
            0.15 * ex["n_distinct"], 2
        ), (c, sk["n_distinct"], ex["n_distinct"])


def test_profile_minmax_double_rendering_threshold_free(spark):
    """Doubles >= 1e7 render in scientific notation under a raw string
    cast in Spark but plain in DuckDB; the DECIMAL path must render
    identically in both engines at any magnitude."""
    import duckdb

    spark_s = (
        spark.range(1)
        .select(F.lit(1.0e7).cast("double").alias("v"))
        .select(F.col("v").cast("decimal(18,2)").cast("string").alias("s"))
        .head()["s"]
    )
    duck_s = duckdb.sql(
        "SELECT CAST(CAST(1e7 AS DECIMAL(18,2)) AS VARCHAR)"
    ).fetchone()[0]
    assert spark_s == duck_s == "10000000.00"


def test_banded_pair_stage_is_shared_and_cached(spark):
    """dedup_minhash_banded and dedup_clusters must consume the SAME
    cached verified-pair stage (one cache entry, not a recompute)."""
    from hadoop_wordcount_spark.operators.dedup import _banded_verified_pairs

    p1 = _banded_verified_pairs(spark, SF_SMALL)
    p2 = _banded_verified_pairs(spark, SF_SMALL)
    assert p1.storageLevel.useMemory
    # Same analyzed plan → Spark reuses one cache entry.
    assert p1._jdf.queryExecution().analyzed().sameResult(
        p2._jdf.queryExecution().analyzed()
    )


def test_corpus_mixture_sample_rates(spark):
    """Mixture rates must be (n_min/n_s)^0.5: the smallest source
    keeps everything (rate 1.0), larger sources downsample, and the
    realized sample size tracks rate * n_s."""
    d = load_table(spark, SF_SMALL, "documents")
    sizes = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = min(sizes.values())
    rows = registry.QUERIES["corpus_mixture_sample"](spark, SF_SMALL).collect()
    assert {r["source"] for r in rows} == set(sizes)
    for r in rows:
        expected = (n_min / sizes[r["source"]]) ** 0.5
        assert abs(r["rate"] - round(expected, 4)) <= 1e-9
        assert 0 < r["n_docs"] <= sizes[r["source"]]
    assert any(r["rate"] == 1.0 for r in rows)


def test_dedup_incremental_is_one_sided(spark):
    """Every returned match pairs a new-batch doc (source =
    max(source), derived from the data — round-5 advice fix, no
    hardcoded source name) with a corpus doc from any OTHER source —
    never corpus x corpus or batch x batch."""
    srcs = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "source")
        .collect()
    }
    batch_src = max(srcs.values())
    rows = registry.QUERIES["dedup_incremental"](spark, SF_SMALL).collect()
    for r in rows:
        assert srcs[r["new_doc"]] == batch_src
        assert srcs[r["dup_of"]] != batch_src
        assert r["jaccard"] >= 0.2
