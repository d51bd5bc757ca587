"""Round-7 verdict-directed fixes, pinned.

- `ranking.global_*` accept a caller-supplied `size_hint` (a
  statically-known row upper bound) that skips the runtime cache+count
  probe: results must be identical on every (hint, threshold) path,
  and a bounded hint must not launch a count job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.operators.ranking import (
    global_cumsum,
    global_ntile,
    global_row_number,
)

registry.load_all()


def _events(spark, sf_dir, n=500):
    from hadoop_wordcount_spark.sources.tables import load_table

    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .limit(n)
    )


@pytest.mark.parametrize("hint", [500, 10**9])
def test_size_hint_paths_agree(spark, sf_dir, hint):
    """A bounded hint (<= threshold) and an unbounded hint (> threshold
    -> distributed) must produce the identical global ranking — the
    hint changes the physical strategy, never the relation."""
    e = _events(spark, sf_dir)
    order = [("value", True), ("event_id", False)]
    want = [
        r["event_id"]
        for r in global_row_number(e, order, out="rn", small_threshold=0)
        .orderBy("rn")
        .collect()
    ]
    got = [
        r["event_id"]
        for r in global_row_number(e, order, out="rn", size_hint=hint)
        .orderBy("rn")
        .collect()
    ]
    assert got == want
    want_b = {
        r["event_id"]: r["b"]
        for r in global_ntile(e, order, 7, out="b", small_threshold=0).collect()
    }
    got_b = {
        r["event_id"]: r["b"]
        for r in global_ntile(e, order, 7, out="b", size_hint=hint).collect()
    }
    assert got_b == want_b
    ei = e.withColumn("v", F.col("event_id").cast("long"))
    order_i = [("event_id", False)]
    want_c = {
        r["event_id"]: r["cum"]
        for r in global_cumsum(ei, order_i, "v", small_threshold=0).collect()
    }
    got_c = {
        r["event_id"]: r["cum"]
        for r in global_cumsum(ei, order_i, "v", size_hint=hint).collect()
    }
    assert got_c == want_c


def test_bounded_size_hint_skips_probe_count(spark, sf_dir, monkeypatch):
    """With a bounded size_hint the decision is pure arithmetic: no
    DataFrame.count() probe job may run while BUILDING the plan."""
    from pyspark.sql import DataFrame

    e = _events(spark, sf_dir, n=50)
    calls = []
    orig = DataFrame.count

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    df = global_row_number(
        e, [("event_id", False)], out="rn", size_hint=50
    )
    assert calls == [], "bounded size_hint must not launch a count probe"
    monkeypatch.setattr(DataFrame, "count", orig)
    assert df.count() == 50


def test_no_redundant_recache(spark, sf_dir):
    """An already-cached input must pass through _resolve_small without
    a second cache() call (the r6 CacheManager-warning class)."""
    from hadoop_wordcount_spark.operators.ranking import _resolve_small

    e = _events(spark, sf_dir, n=50).cache()
    try:
        out, bounded = _resolve_small(e, 4096, 50)
        assert bounded
        assert out is e, "cached input must be reused, not re-wrapped"
    finally:
        e.unpersist()


def test_interval_skew_salting_bounds_hot_cell(spark, tmp_path):
    """Plant one (type, day-bucket) at >= 10x the median occupancy and
    check BOTH halves of the salting contract:

    1. correctness — the salted plan returns the identical relation as
       the unsalted hourly plan (`interval_overlap_pairs`) computed on
       the same corpus;
    2. boundedness — the hottest (bucket, salt) join cell's candidate
       count is ~1/S of the hot bucket's unsalted square (within 2x of
       the ideal m*m/S split, which crc32 only approximates)."""
    import pandas as pd

    S = 8
    day_us = 86_400_000_000
    rows = []
    # Hot group: 120 overlapping 'view' intervals inside day 10.
    for i in range(120):
        rows.append((i, pd.Timestamp("1995-01-11 00:00:00")
                     + pd.Timedelta(minutes=i), 1, "view", 30.0, "{}"))
    # Background: 12 'click' intervals on each of days 11..20 (median
    # same-type day occupancy 12 -> hot/median = 10x).
    eid = 1000
    for d in range(10):
        for i in range(12):
            rows.append((eid, pd.Timestamp("1995-01-12 00:00:00")
                         + pd.Timedelta(days=d, minutes=7 * i), 1,
                         "click", 10.0, "{}"))
            eid += 1
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type",
                       "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")

    from hadoop_wordcount_spark import registry

    registry.load_all()
    sf = str(tmp_path)
    key = lambda r: (r["event_type"], r["n_pairs"], r["overlap_us"],
                     r["max_overlap_us"])
    unsalted = sorted(
        map(key, registry.QUERIES["interval_overlap_pairs"](spark, sf).collect())
    )
    salted = sorted(
        map(key, registry.QUERIES["interval_overlap_skew"](spark, sf).collect())
    )
    assert salted == unsalted and salted  # identical relation, non-empty
    # Hot-group sanity: 30-min intervals starting 1 min apart overlap
    # exactly their 29 successors (clipped at the tail).
    view = dict((r[0], r) for r in salted)["view"]
    assert view[1] == sum(min(29, 119 - i) for i in range(120))

    # Boundedness: reproduce the plan's join-cell candidate counts.
    from hadoop_wordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    iv = (
        load_table(spark, sf, "events")
        .select(
            "event_id",
            "event_type",
            F.expr("ts_ns div 1000").alias("s"),
            (F.expr("ts_ns div 1000")
             + F.round(F.col("value") * 60_000_000, 0).cast("long")).alias("e"),
        )
        .withColumn("bucket", F.explode(F.sequence(
            F.expr(f"s div {day_us}"), F.expr(f"e div {day_us}"))))
    )
    occ = {(r["event_type"], r["bucket"]): r["m"]
           for r in iv.groupBy("event_type", "bucket")
                      .agg(F.count(F.lit(1)).alias("m")).collect()}
    m_hot = max(occ.values())
    assert m_hot >= 10 * sorted(occ.values())[len(occ) // 2]
    # Candidates per (type, bucket, salt) cell = |A in cell| * m (side
    # B replicates every row into each salt) — the per-task work.
    cells = (
        iv.withColumn("salt", F.crc32(F.col("event_id").cast("string")) % S)
        .groupBy("event_type", "bucket", "salt")
        .agg(F.count(F.lit(1)).alias("a_n"))
        .collect()
    )
    worst = max(
        r["a_n"] * occ[(r["event_type"], r["bucket"])] for r in cells
    )
    assert worst <= 2 * m_hot * m_hot / S, (
        f"hot cell candidates {worst} vs unsalted {m_hot * m_hot}"
    )
    assert worst < m_hot * m_hot / 2  # genuinely split, not one cell


def test_interval_skew_plan_shuffles_on_salt(spark, sf_dir):
    """The salted join must hash-exchange on a key set that INCLUDES
    the salt column — otherwise every salt cell of a hot bucket still
    lands in one task and the salting is decorative."""
    from hadoop_wordcount_spark import registry

    registry.load_all()
    # At test scale the dim side broadcasts and no join exchange
    # exists at all; force the shuffle join the 100 TB plan would use
    # so the exchange keys are observable.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.QUERIES["interval_overlap_skew"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "salt" in plan, "salt column eliminated from the physical plan"
    import re

    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("salt" in e and "bucket" in e for e in exchanges), exchanges


def test_eval_holdout_plans_window_group_limit(spark, sf_dir):
    """The exact-k holdout must plan as WindowGroupLimit in BOTH
    Partial (map-side, pre-shuffle k-row heap) and Final modes — the
    top-k-per-group pushdown that keeps the lang exchange at ~k rows
    per group per input partition instead of the corpus."""
    df = registry.QUERIES["eval_holdout_exact_k"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    modes = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    assert any("Partial" in l for l in modes), modes
    assert any("Final" in l for l in modes), modes
    # exactly k rows per group, deterministic membership
    rows = df.groupBy("lang").count().collect()
    assert rows and all(r["count"] <= 25 for r in rows)


def test_events_type_ts_unique_all_sfs(spark):
    """events_ohlc_hourly's open/close argmin/argmax key contract:
    (event_type, ts_ns) must be UNIQUE — pinned at every generated
    SF so a testdata regen that breaks it fails loudly here instead
    of as an engine-dependent winner in the oracle compare."""
    from hadoop_wordcount_spark.sources.tables import load_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        e = load_table(spark, f"/root/testdata/{sf}", "events")
        dupes = (
            e.groupBy("event_type", "ts_ns")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dupes == 0, f"{sf}: {dupes} duplicate (event_type, ts_ns) keys"


# ---------------------------------------------------------------------------
# Round-7 batch 4: bitmap exact-distinct, theta sketch overlap, crosstab
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_theta_sparse_exact_capacity(spark, sf):
    """`sketch_theta_source_overlap`'s oracle is only valid while the
    Theta sketches run in exact (sparse) mode: every per-source
    distinct-shingle count — AND every pairwise theta_union of two
    sources — must sit below 2^lgK nominal entries at the oracle SFs.
    The union bound is the binding one (r7 advice): a testdata regen
    with two large sources could keep each per-source count under
    capacity while their union drops into estimation mode. The sum of
    the two largest per-source cardinalities upper-bounds any
    pairwise union, so pin that."""
    from hadoop_wordcount_spark.operators.sketches import _THETA_LGK
    from hadoop_wordcount_spark.operators.wordcount import tokens_col
    from hadoop_wordcount_spark.sources.tables import load_table

    d = load_table(spark, sf, "documents")
    tk = F.col("tk")
    counts = sorted(
        r[0]
        for r in d.select("source", tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(tk) - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(tk, i),
                            F.element_at(tk, i + 1),
                            F.element_at(tk, i + 2),
                        ),
                    )
                )
            ).alias("s"),
        )
        .distinct()
        .groupBy("source")
        .count()
        .select("count")
        .collect()
    )
    n = counts[-1]
    assert n < (1 << _THETA_LGK), (
        f"per-source shingle cardinality {n} exceeds theta nominal "
        f"capacity 2^{_THETA_LGK}; the exact-mode oracle contract is void"
    )
    union_bound = sum(counts[-2:])
    assert union_bound < (1 << _THETA_LGK), (
        f"sum of two largest per-source shingle cardinalities "
        f"{union_bound} exceeds theta nominal capacity 2^{_THETA_LGK}; "
        f"a pairwise theta_union could leave exact mode and void the "
        f"overlap oracle"
    )


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_crosstab_source_dimension_pinned(spark, sf):
    """`lang_source_crosstab`'s oracle enumerates src0..src19 as the
    output columns; pin that the source dimension IS that set at the
    oracle SFs (a generator change must fail loudly here, not as a
    silent column drift)."""
    from hadoop_wordcount_spark.operators.text_analysis import (
        _CROSSTAB_SOURCES,
    )
    from hadoop_wordcount_spark.sources.tables import load_table

    srcs = {
        r[0]
        for r in load_table(spark, sf, "documents")
        .select("source")
        .distinct()
        .collect()
    }
    assert srcs == set(_CROSSTAB_SOURCES)


def test_bitmap_distinct_partial_agg(spark, sf_dir):
    """The bitmap build must partial-aggregate map-side (the whole
    point: one 4 KB bitmap per (group, bucket) crosses the shuffle,
    not one row per order). ObjectHashAggregate handles the binary
    bitmap state; assert a partial_bitmap_construct_agg below the
    exchange."""
    from hadoop_wordcount_spark.plans.inspect import formatted_plan

    df = registry.QUERIES["bitmap_exact_distinct"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "bitmap_construct_agg" in plan
    assert "partial_bitmap_construct_agg" in plan or (
        "Functions [2]: [partial_" in plan
    ), plan


def test_dynamic_overwrite_leaves_untouched_partition_files(spark, sf_dir):
    """The semantic that makes dynamic INSERT OVERWRITE the 100 TB
    incremental-rebuild tool: partitions absent from the incoming
    result keep their EXACT on-disk files (same part-file names —
    nothing relisted, nothing rewritten). Pin it at file level for a
    month outside the rebuild window."""
    import glob
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(
        tempfile.gettempdir(), "hwcs_sinks", sf_dir.rstrip("/").rsplit("/", 1)[-1],
        f"orders_dyn_{tag}"
    )
    registry.QUERIES["insert_overwrite_dynamic_partitions"](spark, sf_dir)
    snap = lambda mon: sorted(
        f for f in glob.glob(os.path.join(path, f"mon={mon}", "*"))
        if not f.endswith(".crc")
    )
    before_untouched = snap("1995-03")
    before_rebuilt = snap("1999-03")
    assert before_untouched and before_rebuilt
    # Re-issue ONLY the overwrite stage against the persisted table:
    # the rebuild window's partitions get brand-new part files, while
    # a month outside the window keeps its exact files.
    tbl = f"hwcs_dyn_orders_{tag}"
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.sql(f"""
            INSERT OVERWRITE TABLE {tbl} PARTITION (mon)
            SELECT count(*) AS n_orders,
                   round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                         / 100.0, 2) AS rev,
                   'final_only' AS src, mon
            FROM {tbl}_src
            WHERE o_orderstatus = 'F' AND mon >= '1999-01'
            GROUP BY mon
        """)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert snap("1995-03") == before_untouched, "untouched partition was rewritten"
    assert snap("1999-03") != before_rebuilt, "rebuild window kept stale files"


# ---------------------------------------------------------------------------
# Batch 7: heavy_hitters_parts / events_locf_impute /
#          shipmonth_price_percentiles
# ---------------------------------------------------------------------------


def test_heavy_hitters_exactness_precondition(spark, sf_dir):
    """heavy_hitters_parts' oracle contract rests on the sketch being
    in its no-eviction (exact) regime: distinct part keys must stay
    below maxItemsTracked at every oracle SF. If testdata regeneration
    ever breaks this, the oracle comparison would go approximate —
    fail here first with a clear message."""
    from hadoop_wordcount_spark.operators.sketches import _ATK_K, _ATK_TRACKED
    from hadoop_wordcount_spark.sources.tables import load_table

    distinct = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert distinct <= _ATK_K <= _ATK_TRACKED, (
        f"{distinct} distinct part keys exceed the sketch budget; "
        "heavy_hitters_parts' exactness contract no longer holds"
    )


def test_heavy_hitters_partial_sketch_agg(spark, sf_dir):
    """The 100 TB point of approx_top_k: per-partition sketch buffers
    merge map-side, so raw keys never shuffle. Assert the partial
    aggregate below the exchange carries the sketch accumulation."""
    from hadoop_wordcount_spark.plans.inspect import formatted_plan

    df = registry.QUERIES["heavy_hitters_parts"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "approx_top_k" in plan
    assert "partial_approx_top_k" in plan or "Functions [1]: [partial_" in plan, plan


def test_locf_fills_with_previous_observation(spark, sf_dir):
    """Every `filled` row must carry exactly the value of the nearest
    earlier non-filled row of the same type (LOCF semantics), and the
    first grid row per type is never filled (grid starts at the first
    observed bucket, so LOCF needs no seed)."""
    rows = registry.QUERIES["events_locf_impute"](spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.bkt)):
        by_type.setdefault(r.event_type, []).append(r)
    assert any(r.filled for r in rows), "no gaps in grid — test data degenerate"
    for seq in by_type.values():
        assert not seq[0].filled
        last_observed = seq[0].avg_value_locf
        for r in seq[1:]:
            if r.filled:
                assert r.avg_value_locf == last_observed
            else:
                last_observed = r.avg_value_locf


def test_percentile_within_group_invariants(spark, sf_dir):
    """Ordered-set aggregate sanity: p50_disc is an actual data value
    on the cents grid (2-decimal), p50_cont lies between the two
    middle order statistics, and p50 <= p90 per cohort."""
    rows = registry.QUERIES["shipmonth_price_percentiles"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_disc <= r.p90_disc
        assert abs(r.p50_disc * 100 - round(r.p50_disc * 100)) < 1e-6
        assert abs(r.p90_disc * 100 - round(r.p90_disc * 100)) < 1e-6
        # cont midpoint sits on the half-cent grid exactly
        assert abs(r.p50_cont * 200 - round(r.p50_cont * 200)) < 1e-6


def test_hll_exactness_precondition(spark, sf_dir):
    """hll_distinct_users' oracle contract: DataSketches HLL at
    lgK=14 stays in its exact coupon regime through ~500 distinct
    items (empirically: exact at 500, off at 2000). Pin (a) the
    test-SF user cardinality sits inside a 3x margin of that bound,
    and (b) the sketch estimate equals the exact count right at the
    margin cardinality, so a pyspark upgrade that moved the promotion
    threshold fails here, not in the oracle gate."""
    from pyspark.sql import functions as F

    from hadoop_wordcount_spark.operators.sketches import _HLL_LGK
    from hadoop_wordcount_spark.sources.tables import load_table

    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert n_users * 3 <= 500, (
        f"{n_users} distinct users leaves <3x margin on the HLL exact regime"
    )
    margin = n_users * 3
    est = (
        spark.range(margin)
        .select(F.col("id").cast("string").alias("s"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("s", F.lit(_HLL_LGK))))
        .collect()[0][0]
    )
    assert est == margin, f"HLL no longer exact at {margin}: est={est}"


def test_hll_all_row_is_union_not_sum(spark, sf_dir):
    """The ALL row must merge sketches (distinct union), never add
    per-type counts: users active in several event types count once.
    With every user active in multiple types at test SFs, ALL ==
    per-type cardinality == |users|, while the sum is ~5x that."""
    rows = registry.QUERIES["hll_distinct_users"](spark, sf_dir).collect()
    all_row = [r for r in rows if r.event_type == "ALL"]
    per = [r.n_users for r in rows if r.event_type != "ALL"]
    assert len(all_row) == 1
    assert all_row[0].n_users < sum(per), "ALL row looks like a SUM, not a union"


def test_zorder_layout_prunes_both_dims(spark, sf_dir, tmp_path):
    """The z-order claim, proven on real parquet with real footer
    stats: lay lineitem out 3 ways (sorted by quantity; sorted by
    price; z-ordered on both), then for a predicate on EACH single
    dimension count how many files contain matching rows
    (_metadata.file_path of the filtered read — the files a stats-
    pruning reader must touch). The single-column sorts each win
    their own dimension and degenerate on the other (~all files);
    the z layout stays bounded on BOTH."""
    from hadoop_wordcount_spark.operators.relational import zorder_key
    from hadoop_wordcount_spark.sources.tables import load_table

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )
    qb = F.least(F.floor("l_quantity"), F.lit(255)).cast("long")
    pb = F.least(F.floor(F.col("l_extendedprice") / 500), F.lit(255)).cast("long")
    n_files = 16
    layouts = {
        "by_qty": l.repartitionByRange(n_files, "l_quantity"),
        "by_price": l.repartitionByRange(n_files, "l_extendedprice"),
        "zorder": l.withColumn("zv", zorder_key(qb, pb))
        .repartitionByRange(n_files, "zv")
        .drop("zv"),
    }
    paths = {}
    for name, df in layouts.items():
        p = str(tmp_path / name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = p

    def files_touched(path: str, pred) -> int:
        df = spark.read.parquet(path).select(
            "l_quantity", "l_extendedprice", F.col("_metadata.file_path").alias("fp")
        )
        return df.filter(pred).select("fp").distinct().count()

    qty_pred = (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 12)
    price_pred = (F.col("l_extendedprice") >= 10000) & (
        F.col("l_extendedprice") <= 14000
    )
    t = {
        (layout, pred_name): files_touched(paths[layout], pred)
        for layout in layouts
        for pred_name, pred in (("qty", qty_pred), ("price", price_pred))
    }
    # each single sort degenerates on the opposite dimension…
    assert t[("zorder", "price")] < t[("by_qty", "price")], t
    assert t[("zorder", "qty")] < t[("by_price", "qty")], t
    # …and the z layout stays bounded (strictly under a full scan)
    # on both dimensions at once.
    assert t[("zorder", "qty")] < n_files and t[("zorder", "price")] < n_files, t


def test_sketch_state_lifecycle_equals_oneshot(spark, sf_dir):
    """The incremental contract: accumulate-per-batch + combine must
    equal the one-shot approx_top_k agg over the same relation (both
    exact in the no-eviction regime), and the state column must be a
    plain parquet-storable struct around a BINARY sketch payload —
    i.e. persistable between nightly runs, which is the entire point
    of the lifecycle."""
    from pyspark.sql.types import BinaryType, StructType

    from hadoop_wordcount_spark.operators.sketches import _ATK_K, _ATK_TRACKED
    from hadoop_wordcount_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 86400000000000").alias("day"), "user_id"
    )
    per_day = e.groupBy("day").agg(
        F.expr(f"approx_top_k_accumulate(user_id, {_ATK_TRACKED})").alias("st")
    )
    st_type = per_day.schema["st"].dataType
    assert isinstance(st_type, StructType)
    assert isinstance(st_type["sketch"].dataType, BinaryType)
    incremental = registry.QUERIES["heavy_hitters_incremental"](spark, sf_dir)
    oneshot = (
        e.agg(F.expr(f"approx_top_k(user_id, {_ATK_K}, {_ATK_TRACKED})").alias("tk"))
        .select(F.explode("tk").alias("x"))
        .select(F.col("x.item").alias("user_id"), F.col("x.count").alias("cnt"))
        .orderBy(F.desc("cnt"), "user_id")
        .limit(20)
    )
    assert sorted(map(tuple, incremental.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_pandas_api_wrap_adds_no_index_window(spark, sf_dir):
    """pandas_api() must wrap zero-copy: the compiled plan is the
    plain hash aggregate + distinct shuffle, with NO Window node (the
    default-index trap attaches a global row-number window over the
    whole relation) and no Python evaluation."""
    from hadoop_wordcount_spark.plans.inspect import formatted_plan

    df = registry.QUERIES["pandas_api_orders_report"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan  # no UDF eval: pure Catalyst
    assert "HashAggregate" in plan
