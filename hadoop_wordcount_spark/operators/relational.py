"""Relational extension surface: joins, aggregations, windows, scalars.

The reference contains none of these (SURVEY.md §2.3 — joins,
window functions, set ops and scalar functions are all **absent**
from its 791 lines); they are mandated by the build's north star and
implemented as pure Catalyst-optimizable DataFrame plans.

Determinism/oracle notes:
- Every double aggregate is ROUND()ed identically in Spark and the
  DuckDB oracle so order-insensitive value hashing is stable.
- Window orderings always include a unique tiebreak column.

100 TB notes per operator are on each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _sum_money(col) -> "F.Column":
    """SUM a 2-decimal money column as integer CENTS.

    Per-row cent values are bit-identical across engines, and integer
    addition is order-independent — so a sum over thousands of terms
    cannot drift a last-ulp across the final 2-decimal rounding
    boundary under engine-specific partial-agg order (the way raw
    double sums measurably did at sf0.01; DEVNOTES.md decision 1). Pair
    with `_sum_money_sql` in the oracle."""
    return F.round(F.sum(F.round(col * 100, 0).cast("long")) / 100.0, 2)


def _sum_money_sql(expr: str) -> str:
    """DuckDB twin of `_sum_money`."""
    return f"round(sum(CAST(round(({expr}) * 100, 0) AS BIGINT)) / 100.0, 2)"


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_multi",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                  AS sum_qty,
               {_sum_money_sql("l_extendedprice")}                        AS sum_base_price,
               {_sum_money_sql("l_extendedprice * (1 - l_discount)")}     AS sum_disc_price,
               round(avg(l_quantity), 4)                                  AS avg_qty,
               round(avg(l_discount), 4)                                  AS avg_disc,
               count(*)                                                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped multi-aggregate scan.

    One pass over lineitem; Catalyst plans partial+final HashAggregate
    (map-side combine) around a single shuffle keyed on the two group
    columns. The shipdate filter and 6-column projection push down to
    the parquet scan. At 100 TB this is scan-bound — exactly what you
    want; group cardinality is tiny (|returnflag|x|linestatus|).
    """
    li = _t(spark, sf_dir, "lineitem")
    # timestamp_ntz literal: the column is NTZ (parquet
    # isAdjustedToUTC=false); an LTZ literal would coerce through the
    # session timezone and shift the cutoff on non-UTC driver sessions.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _sum_money(F.col("l_extendedprice")).alias("sum_base_price"),
            _sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "orders_by_month",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mon,
               count(*) AS n_orders,
               {_sum_money_sql("o_totalprice")} AS sum_total
        FROM orders GROUP BY 1, 2
    """,
)
def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension rollup; year/month are tz-independent on the
    naive parquet timestamps so Spark and DuckDB agree exactly."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mon"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice")).alias("sum_total"),
    )


@query(
    "grouping_rollup",
    oracle="""
        SELECT lang, source, count(*) AS n
        FROM documents GROUP BY ROLLUP(lang, source)
    """,
)
def q_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over documents: (lang, source), (lang), ().

    Spark evaluates grouping sets in one Expand+HashAggregate pass —
    a single shuffle regardless of how many sets, which is the right
    plan at scale (vs N separate groupBys unioned)."""
    return _t(spark, sf_dir, "documents").rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "cube_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem status dims (all 4 grouping sets)."""
    return _t(spark, sf_dir, "lineitem").cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "pivot_status",
    oracle="""
        SELECT l_returnflag,
               round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_O,
               round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_F
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns. Explicit pivot values ('O','F')
    avoid the extra distinct-values job Spark otherwise runs first —
    at 100 TB that pre-pass is a full extra scan."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum(F.coalesce(F.col("l_quantity"), F.lit(0.0))), 2))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "join_orders_customer",
    oracle=f"""
        SELECT c_mktsegment,
               count(*) AS n_orders,
               {_sum_money_sql("o_totalprice")} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
)
def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim equi-join. customer is broadcast (dim tables stay
    small relative to facts even at 100 TB), so the join is
    shuffle-free; the only shuffle is the final tiny groupBy."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice")).alias("revenue"),
        )
    )


@query(
    "join_multi",
    oracle=f"""
        SELECT r_name, n_name, count(*) AS n_customers,
               {_sum_money_sql("c_acctbal")} AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join customer→nation→region; both dims broadcast so
    the whole join tree is one shuffle-free stage + final agg."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _sum_money(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


@query(
    "broadcast_join_parts",
    oracle=f"""
        SELECT p_brand, count(*) AS n_items,
               {_sum_money_sql("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
)
def q_broadcast_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biggest fact (lineitem) joined to part with an explicit
    broadcast hint — no shuffle of the 100 TB side."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@query(
    "semi_join_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS. Emits each left row at most once —
    no fact-side duplication, and the probe side short-circuits."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(
        F.broadcast(o), c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "anti_join_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join = NOT EXISTS — the dedup-against-reference-corpus
    primitive reused by dedup_anti_join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "range_join_lineitem",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY o_orderpriority
    """,
)
def q_range_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + range predicate (ship lag > 60 days). The range
    condition rides the equi-join as a post-filter, so this stays a
    hash join, never a cartesian range join.

    Join strategy (round 12): SHUFFLED HASH on the orders side.
    Catalyst's default SMJ sorts BOTH shuffled sides — including the
    lineitem stream, the largest relation in the system — and the
    256x ladder read that sort at alpha ~1.7 with GC-stall cold
    constants (110 s cold / 19 s warm vs 15/10 s for SHJ). Per
    shuffle partition the orders build side is bounded (rows/orderkey
    is TPC-H-flat and AQE right-sizes partitions to the advisory
    target), so the hash build is a few MB per task while the probe
    stream stays sort-free — the classic fact-to-smaller-fact shape
    where SHJ beats SMJ at any scale. SMJ remains the right default
    only when the build side itself is unbounded per partition."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "window_topk_orders",
    oracle="""
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn <= 3
    """,
)
def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the standard
    top-k-per-group. One shuffle on the partition key; at scale,
    Spark's WindowGroupLimit pushes the k-limit below the sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@query(
    "running_event_value",
    oracle="""
        SELECT event_id, user_id,
               round(sum(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
               AS running_value
        FROM events
    """,
)
def q_running_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic running sum per user over event time. Frame order is
    (ts, event_id) — unique, so both engines accumulate in the same
    sequence and the IEEE sums agree bit-for-bit before rounding."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 3).alias("running_value"),
    )


@query(
    "lag_event_gap",
    oracle="""
        WITH t AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events)
        SELECT event_id, user_id,
               CAST(COALESCE(
                   (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
                       // 1000000, -1) AS BIGINT) AS gap_seconds
        FROM t
    """,
)
def q_lag_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gap per user in whole seconds (first event → -1).

    Both engines floor-divide the exact microsecond epoch, so the
    integral result is tz-free and bit-identical; this is also the
    building block of batch sessionization (gap > threshold ⇒ new
    session)."""
    e = _t(spark, sf_dir, "events").withColumn("us", F.expr("ts_ns div 1000"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap_us = F.col("us") - F.lag("us").over(w)
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.floor(gap_us / 1000000).cast("long"), F.lit(-1).cast("long")
        ).alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# Scalar functions: strings, dates, JSON, math
# ---------------------------------------------------------------------------


@query(
    "event_props_json",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
        FROM events GROUP BY event_type
    """,
)
def q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (get_json_object) + aggregate. At scale,
    prefer parsing JSON once into a struct column (from_json) over
    repeated path extraction."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("double"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@query(
    "event_props_variant",
    oracle="""
        WITH v AS (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               max(k) AS max_k,
               CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_even
        FROM v GROUP BY event_type
    """,
)
def q_event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via the VARIANT type (Spark 4):
    ``parse_json`` parses each props payload ONCE into Variant's
    binary-encoded form, then ``variant_get`` path-extracts with a
    target type — the modern replacement for repeated
    get_json_object string re-parsing (`event_props_json` is the
    legacy twin on the same data).

    At 100 TB this is the schema-on-read path for heterogeneous JSON:
    parse once per row, extract many paths from the binary encoding
    (no per-path re-parse), shred into columns at the scan when the
    paths stabilize. The aggregate shape is identical to the JSON
    twin, so the two queries can be timed side by side on the same
    data. Oracle reads the same values via DuckDB JSON
    extraction — Variant is an encoding, not a semantics change."""
    e = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0)).alias("n_even"),
        )
    )


@query(
    "scalar_functions_mix",
    oracle="""
        SELECT o_orderkey,
               upper(o_orderstatus)                       AS status_u,
               CAST(year(o_orderdate) AS BIGINT)          AS yr,
               round(sqrt(o_totalprice), 4)               AS sqrt_total,
               round(ln(o_totalprice + 1), 4)             AS ln_total,
               length(o_orderpriority)                    AS prio_len,
               substr(o_orderpriority, 1, 1)              AS prio_code
        FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def q_scalar_functions_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar coverage in one projection — all
    JVM-side whole-stage-codegen expressions, zero Python."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.round(F.sqrt("o_totalprice"), 4).alias("sqrt_total"),
        F.round(F.log(F.col("o_totalprice") + 1), 4).alias("ln_total"),
        F.length("o_orderpriority").cast("int").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
    )


@query(
    "asof_last_error",
    oracle="""
        SELECT event_id, user_id,
               last_value(err_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL
               AS has_prior_error
        FROM (SELECT event_id, user_id, ts,
                     CASE WHEN event_type = 'error' THEN ts END AS err_ts
              FROM events)
    """,
)
def q_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as last_value(ignoreNulls) — Spark has no
    native as-of join (cf. pd.merge_asof); the carry-forward window
    is the shuffle-minimal way to attach 'latest error at or before
    this event' per user. Exposed as a boolean for oracle stability."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    err_ts = F.when(F.col("event_type") == "error", F.col("ts"))
    return e.select(
        "event_id",
        "user_id",
        F.last(err_ts, ignorenulls=True).over(w).isNotNull().alias("has_prior_error"),
    )


@query(
    "rank_dense_ntile",
    oracle="""
        SELECT o_orderkey, o_custkey,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4)     OVER w AS quartile,
               round(COALESCE(lead(o_totalprice) OVER w, -1.0), 2) AS next_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function coverage (rank / dense_rank / ntile / lead)
    over one window definition — single shuffle on the partition key,
    all four functions evaluated in the same Window exec."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.coalesce(F.lead("o_totalprice").over(w), F.lit(-1.0)), 2).alias(
            "next_total"
        ),
    )


@query(
    "batch_sessionize",
    oracle="""
        WITH t AS (
            SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        gaps AS (
            SELECT user_id, event_id, us,
                   CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sess AS (
            SELECT user_id, us,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM gaps)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               min(us) // 1000000 AS session_start_s
        FROM sess GROUP BY user_id, session_id
    """,
)
def q_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap > 30min ⇒ new session, cumulative
    sum assigns ids — the lag+cumsum idiom (the batch twin of
    session_window). Two window passes over ONE partitioning (user_id),
    so a single shuffle; state is O(1) per row."""
    e = _t(spark, sf_dir, "events").withColumn("us", F.expr("ts_ns div 1000"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_session = F.when(
        (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
        | F.lag("us").over(w).isNull(),
        1,
    ).otherwise(0)
    # event_id tiebreak keeps the cumulative sum deterministic when two
    # same-user events share a microsecond at a session boundary (the
    # module invariant: every window ORDER BY carries a unique key).
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.min("us") / 1_000_000).cast("long").alias("session_start_s"),
        )
    )


@query(
    "map_ops_mix",
    oracle="""
        SELECT event_id, event_type AS type_from_map, 2 AS n_keys
        FROM events WHERE event_id % 50 = 0
    """,
)
def q_map_ops_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar coverage: build a map column (create_map),
    read it back (element_at), measure it (size/map_keys). The oracle
    checks the round trip semantically."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("type_from_map"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "unpivot_status",
    oracle="""
        WITH p AS (
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus='O' THEN l_quantity ELSE 0 END), 2) AS qty_O,
                   round(sum(CASE WHEN l_linestatus='F' THEN l_quantity ELSE 0 END), 2) AS qty_F
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, 'O' AS status, qty_O AS qty FROM p
        UNION ALL
        SELECT l_returnflag, 'F' AS status, qty_F AS qty FROM p
    """,
)
def q_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack) — wide back to long; with pivot_status this
    closes the reshape round trip. stack() is a Generate node:
    shuffle-free row expansion."""
    wide = q_pivot_status(spark, sf_dir)
    return wide.selectExpr(
        "l_returnflag",
        "stack(2, 'O', qty_O, 'F', qty_F) AS (status, qty)",
    )


@query("value_percentiles")  # approximate (GK sketch) — rows-only driver check
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (percentile_approx — Greenwald-Khanna):
    the 100 TB path for quantiles; sketches merge map-side like HLL.
    pytest bounds its error against exact quantiles. No oracle: DuckDB
    has no matching sketch."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, 10000), 3).alias("p50"),
        F.round(F.percentile_approx("value", 0.95, 10000), 3).alias("p95"),
    )


@query(
    "value_percentiles_exact",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 3) AS p50,
               round(quantile_cont(value, 0.95), 3) AS p95
        FROM events GROUP BY event_type
    """,
)
def q_value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles via `percentile` (full sort per group, linear
    interpolation at index p*(n-1)) — the hash-checked twin of the
    GK-sketch `value_percentiles`: DuckDB's quantile_cont uses the
    identical continuous-quantile definition, so the values match
    under the standard round grid. Use the sketch at 100 TB (mergeable
    map-side, bounded memory); use this when per-group cardinalities
    are modest and exactness matters — the per-group sort is the cost.
    """
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 3).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 3).alias("p95"),
    )


@query(
    "value_percentiles_bounds",
    oracle="""
        SELECT event_type,
               true AS p50_in_bounds,
               true AS p95_in_bounds
        FROM events GROUP BY event_type
    """,
)
def q_value_percentiles_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED bracket twin of the rows-only GK sketch
    `value_percentiles` (r7 verdict #5): percentile_approx(accuracy=A)
    guarantees the returned element's rank is within eps*n of the
    target rank, eps = 1/A. This query CHECKS that guarantee per
    group against exact ranks and emits booleans; the DuckDB oracle
    asserts `true` — if the sketch ever leaves its error band, the
    hash compare fails. The returned estimate is always an element of
    the data, so its rank interval is [count(value < est) + 1,
    count(value <= est)]; in-bounds means that interval intersects
    [p*n - eps*n - 1, p*n + eps*n + 1] (the +-1 absorbs the
    discrete-rank rounding convention). 100 TB: one broadcast of the
    per-group estimates (group-cardinality rows) joined back to the
    fact — two scans, no extra shuffle beyond the two group-bys."""
    eps = 1.0 / 10000
    e = _t(spark, sf_dir, "events")
    est = e.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_est"),
        F.percentile_approx("value", 0.95, 10000).alias("p95_est"),
    )
    j = e.join(F.broadcast(est), "event_type")
    stats = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") <= F.col("p50_est")).cast("long")).alias("le50"),
        F.sum((F.col("value") < F.col("p50_est")).cast("long")).alias("lt50"),
        F.sum((F.col("value") <= F.col("p95_est")).cast("long")).alias("le95"),
        F.sum((F.col("value") < F.col("p95_est")).cast("long")).alias("lt95"),
    )

    def _ok(p: float, lt: str, le: str):
        target = F.lit(p) * F.col("n")
        band = F.lit(eps) * F.col("n") + F.lit(1.0)
        # rank interval [lt+1, le] intersects [target-band, target+band]
        return (F.col(lt) + F.lit(1) <= target + band) & (
            F.col(le) >= target - band
        )

    return stats.select(
        "event_type",
        _ok(0.5, "lt50", "le50").alias("p50_in_bounds"),
        _ok(0.95, "lt95", "le95").alias("p95_in_bounds"),
    )


@query(
    "colocated_join",
    oracle=f"""
        SELECT c_nationkey, count(*) AS n, {_sum_money_sql("o_totalprice")} AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
)
def q_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located shuffle-hash-free join: both sides pre-partitioned on
    the join key with the same partition count, so the SortMergeJoin
    adds NO exchange of its own (asserted in plan tests). This is the
    repartition twin of bucketed tables — at 100 TB you persist the
    bucketing (write.bucketBy) and repeated joins on the key skip the
    shuffle entirely. Partition count follows the session's
    spark.sql.shuffle.partitions (no hard-coded width — the same code
    runs at cluster scale where that knob is sized to the executor
    fleet)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    o = _t(spark, sf_dir, "orders").repartition(n_part, "o_custkey")
    c = _t(spark, sf_dir, "customer").repartition(n_part, "c_custkey")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sum_money(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "event_props_struct",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS sum_k
        FROM events GROUP BY event_type
    """,
)
def q_event_props_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct, then aggregate the field — the
    parse-once pattern: at 100 TB, one from_json per row beats N
    get_json_object path extractions (each re-parses the document)."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(F.sum("p.k").alias("sum_k"))


@query(
    "salted_aggregation",
    oracle=f"""
        SELECT event_type, count(*) AS n, {_sum_money_sql("value")} AS sum_value
        FROM events GROUP BY event_type
    """,
)
def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 groups by
    (key, salt16) spreading each hot key over 16 reducers; stage 2
    merges the partials per key. The result is identical to the plain
    groupBy (the oracle) — the plan trades one extra (tiny) shuffle
    for bounded per-reducer load. With only 5 event_types and
    hash-partitioned reducers, an unsalted shuffle would put entire
    keys on single reducers — THE skew pattern at 100 TB. (Spark's
    partial aggregation already bounds count/sum skew; salting is the
    general form that also covers collect_list-style aggregates.)"""
    e = _t(spark, sf_dir, "events")
    salted = e.withColumn("salt", (F.rand(seed=42) * 16).cast("int"))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum(cents).alias("psum")
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum") / 100.0, 2).alias("sum_value"),
    )


@query(
    "stats_aggregates",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 4)      AS corr_qty_price,
               round(stddev_samp(l_quantity), 4)                AS std_qty,
               round(var_samp(l_discount), 6)                   AS var_disc,
               round(covar_samp(l_quantity, l_discount), 6)     AS covar_qd
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr/stddev/variance/covariance) — all
    single-pass streaming-moment algorithms with associative partials:
    one shuffle at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qd"),
    )


@query(
    "value_histogram",
    oracle="""
        SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
               count(*) AS n,
               round(min(value), 3) AS lo,
               round(max(value), 3) AS hi
        FROM events GROUP BY 1
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over events.value — the single-pass
    group-by-bucket shape; bucket count is bounded by the value range,
    independent of row count, so the exchange stays tiny at any scale."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("value") / 10).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 3).alias("lo"),
        F.round(F.max("value"), 3).alias("hi"),
    )


@query(
    "sql_tpch_q3",
    oracle="""
        SELECT l_orderkey,
               round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue,
               CAST(year(o_orderdate) AS BIGINT) AS order_yr
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, year(o_orderdate)
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape through the SQL API: temp views + spark.sql —
    proving the SQL entry path end to end (same pushdowns the
    DataFrame form gets). NTZ timestamp literals keep the cutoffs
    session-tz-free.

    Join strategy (round 12): SHUFFLE_HASH hints on customer and
    orders. The default SMJ sorts every shuffled side — including
    the lineitem stream, the system's largest relation — and the
    256x ladder read that at alpha ~1.7 warm (29.5 s); with hash
    builds on the two filtered smaller sides the probe stream stays
    sort-free (~12 s, sort work gone; the remaining cost is the
    orderkey exchange + the high-cardinality partial agg, both
    linear). Same rationale as range_join_lineitem — per-partition
    build sides are bounded and AQE right-sizes the exchanges."""
    from hadoop_wordcount_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql("""
        SELECT /*+ SHUFFLE_HASH(orders, customer) */ l_orderkey,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100e0, 2) AS revenue,
               CAST(year(o_orderdate) AS BIGINT) AS order_yr
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP_NTZ '1998-03-15 00:00:00'
        GROUP BY l_orderkey, year(o_orderdate)
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """)


@query(
    "sql_pipe_q6",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
        FROM lineitem
        WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
        GROUP BY l_returnflag
    """,
)
def q_sql_pipe_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, `|>` operators): the TPC-H
    Q6-forecast-revenue shape written as a linear FROM → WHERE →
    AGGREGATE pipeline instead of nested SELECT — the readable form
    for staged transformations, compiled by Catalyst into the exact
    same plan as the classic query (predicate pushdown into the scan
    included; the oracle IS the classic form). API-surface coverage:
    a reference user gets the classic SQL path (`sql_tpch_q3`), the
    DataFrame path, and the pipe path over the same tables."""
    from hadoop_wordcount_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        FROM lineitem
        |> WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     round(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) / 100e0, 2) AS revenue
           GROUP BY l_returnflag
    """)


@query(
    "tpch_q5_like",
    oracle="""
        SELECT n_name,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY n_name
    """,
)
def q_tpch_q5_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join (fact chain + three broadcast
    dims) with the local-supplier co-nation condition. Catalyst
    orders the joins; every dim side broadcasts, so the only big
    shuffle is orders⋈lineitem on the order key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                    ).cast("long")
                )
                / 100.0,
                2,
            ).alias("revenue")
        )
    )


@query(
    "customer_cohort_retention",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey, CAST(min(year(o_orderdate)) AS BIGINT) AS cohort_yr
            FROM orders GROUP BY o_custkey),
        act AS (
            SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS order_yr
            FROM orders),
        m AS (
            SELECT f.cohort_yr, a.order_yr, count(*) AS n_active
            FROM firsts f JOIN act a USING (o_custkey)
            GROUP BY f.cohort_yr, a.order_yr),
        sz AS (
            SELECT cohort_yr, n_active AS cohort_size
            FROM m WHERE order_yr = cohort_yr)
        SELECT m.cohort_yr, m.order_yr, m.n_active,
               round(m.n_active * 1.0 / s.cohort_size, 4) AS retention
        FROM m JOIN sz s USING (cohort_yr)
    """,
)
def q_customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order year,
    tracked by the share still ordering in each later year — the
    engagement report every analytics stack ships, here over the
    orders fact.

    Plan: one groupBy(custkey) for first-order year (map-side min),
    one distinct over (custkey, year) — both shuffles on the customer
    key, so AQE can reuse the exchange — then a |years|^2-bounded
    matrix aggregate and a broadcast join against the tiny
    cohort-size table. Retention divides two small exact integers, so
    round(.,4) is engine-stable."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("order_yr")
    )
    firsts = o.groupBy("o_custkey").agg(F.min("order_yr").alias("cohort_yr"))
    act = o.distinct()
    m = (
        act.join(firsts, "o_custkey")
        .groupBy("cohort_yr", "order_yr")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sz = m.filter(F.col("order_yr") == F.col("cohort_yr")).select(
        "cohort_yr", F.col("n_active").alias("cohort_size")
    )
    return m.join(F.broadcast(sz), "cohort_yr").select(
        "cohort_yr",
        "order_yr",
        "n_active",
        F.round(F.col("n_active") / F.col("cohort_size"), 4).alias("retention"),
    )


@query(
    "tpch_q10_like",
    oracle="""
        SELECT c_custkey, c_name, n_name,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                              AS BIGINT)) / 100.0, 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_tpch_q10_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue report: top 20
    customers by lost revenue (returnflag 'R') for one quarter, with
    the nation dim attached. The quarter predicate pushes to the
    orders scan, the returnflag predicate to the lineitem scan
    (PushedFilters both), nation broadcasts, and the only big shuffle
    is orders⋈lineitem on the order key followed by a map-side-
    combined customer aggregate; top-20 is a k-heap with the unique
    c_custkey tiebreak.

    Money is summed as integer CENTS (per-row round to cent, SUM as
    long): per-row cent values are bit-identical across engines, and
    integer addition is order-independent, so per-customer revenue —
    summing hundreds of terms in engine-specific partial-agg order —
    cannot drift a last-ulp across the final 2-decimal rounding
    boundary the way a double sum measurably did at sf0.01."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(cents) / 100.0, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q18_like",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 2) AS total,
               round(sum(l_quantity), 2) AS sum_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        GROUP BY o_orderkey, o_totalprice
    """,
)
def q_tpch_q18_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING (large-quantity
    orders). The subquery plans as a LEFT SEMI join on the
    pre-aggregated keys — the decorrelation Catalyst applies that a
    naive per-row subquery evaluation could never survive at scale."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "sum_qty",
        )
    )


@query(
    "outer_join_nations",
    oracle=f"""
        SELECT n_name,
               CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_customers,
               round(COALESCE(c.bal, 0.0), 2) AS total_acctbal
        FROM nation LEFT JOIN (
            SELECT c_nationkey, count(*) AS n_cust,
                   {_sum_money_sql("c_acctbal")} AS bal
            FROM customer GROUP BY c_nationkey) c
          ON n_nationkey = c.c_nationkey
    """,
)
def q_outer_join_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with null semantics: every nation appears,
    customer-less nations surface with zeroed aggregates (COALESCE
    over the null probe side). Aggregate-then-join keeps the outer
    join's build side one row per nation — at 100 TB you outer-join
    pre-aggregated summaries, never raw facts."""
    n = _t(spark, sf_dir, "nation")
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), _sum_money(F.col("c_acctbal")).alias("bal"))
    )
    return n.join(c, n.n_nationkey == c.c_nationkey, "left").select(
        "n_name",
        F.coalesce(F.col("n_cust"), F.lit(0)).cast("long").alias("n_customers"),
        F.round(F.coalesce(F.col("bal"), F.lit(0.0)), 2).alias("total_acctbal"),
    )


@query(
    "skew_salted_join",
    oracle="""
        WITH dim AS (SELECT event_type, round(avg(value), 4) AS type_avg
                     FROM events GROUP BY event_type)
        SELECT e.event_type,
               count(*) AS n,
               CAST(sum(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above
        FROM events e JOIN dim d USING (event_type)
        GROUP BY e.event_type
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SHUFFLE join for skewed keys where broadcast is not an
    option: the dim side is replicated 16x (one copy per salt), the
    fact side gets a uniform random salt, and the join key becomes
    (key, salt) — each of the 5 hot event_types spreads over 16
    reducer slots instead of landing on one. The result is identical
    to the plain join (the oracle): every fact row matches exactly its
    key's dim row whatever its salt. `hint("merge")` pins the
    shuffle-join path so the demo doesn't silently degrade to
    broadcast; at 100 TB this is the pattern for joining two LARGE
    tables that share a skewed key (AQE's skew-join split is the
    automatic variant; salting is the explicit, always-works form).
    The fact side's salt comes from rand(seed) — nondeterministic
    placement, deterministic RESULT, since the join output is
    salt-invariant."""
    e = _t(spark, sf_dir, "events")
    dim = e.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("type_avg")
    )
    n_salt = 16
    dim_rep = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    salted = e.withColumn("salt", (F.rand(seed=7) * n_salt).cast("int"))
    return (
        salted.join(dim_rep.hint("merge"), ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("value") > F.col("type_avg"), 1).otherwise(0)
            ).cast("long").alias("n_above"),
        )
    )


@query(
    "bucketed_join",
    oracle="""
        SELECT c_nationkey,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED bucketing (vs `colocated_join`'s transient
    repartition): both sides are written once with
    ``bucketBy(8, key).sortBy(key)`` and re-read from the catalog, so
    the SortMergeJoin consumes the on-disk bucket layout and adds NO
    exchange of its own (plan-asserted in tests; the per-bucket sort
    survives only when each bucket is a single file, so a Sort node
    may remain — the shuffle elision is the scale win). This is
    the 100 TB pattern for a fact table joined on the same key by many
    queries: pay the bucketed write once, skip the shuffle every read.
    The bucketed tables land under /tmp per scale factor (same
    side-effect convention as the sink_* queries)."""
    import os as _os
    import re as _re

    import shutil as _shutil

    tag = _re.sub(r"[^A-Za-z0-9]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    # per-process path: concurrent sessions (e.g. parallel test runs)
    # must not overwrite each other's bucket files mid-read. Recreate
    # the pid-scoped base per run so repeated runs in one process
    # never accumulate stale bucket files (same convention as the
    # foreachBatch sink).
    base = f"/tmp/spark_graft_buckets/{_os.getpid()}/{tag}"
    _shutil.rmtree(base, ignore_errors=True)
    specs = {
        f"orders_b_{tag}": (_t(spark, sf_dir, "orders"), "o_custkey"),
        f"customer_b_{tag}": (_t(spark, sf_dir, "customer"), "c_custkey"),
    }
    for name, (df, key) in specs.items():
        (
            df.write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table(f"orders_b_{tag}")
    c = spark.table(f"customer_b_{tag}")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "merge_upsert",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
            FROM orders),
        upd AS (SELECT k, 'U' AS s, round(p * 1.1, 2) AS p
                FROM base WHERE k % 97 = 0),
        ins AS (SELECT -k AS k, 'N' AS s, p FROM base WHERE k % 101 = 0),
        ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        m AS (
            SELECT COALESCE(c.k, b.k) AS k,
                   COALESCE(c.s, b.s) AS s,
                   COALESCE(c.p, b.p) AS p
            FROM base b FULL OUTER JOIN ch c ON b.k = c.k)
        SELECT s AS o_orderstatus, count(*) AS n, round(sum(p), 2) AS total
        FROM m GROUP BY s
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE (upsert) without a lakehouse format: a staged
    change set — updates (keys % 97, price bump, status 'U') plus
    inserts (negated keys % 101, status 'N') — applied to the base
    table via FULL OUTER join + COALESCE: matched rows take the
    change, unmatched changes insert, unmatched base rows persist.
    The change set here is DERIVED deterministically from the base so
    the oracle can rebuild it; in production it is your CDC feed.

    At 100 TB: the merge is one shuffle join keyed on the primary key
    — broadcast when the change set is small, bucket-colocated (see
    `bucketed_join`) when the base is bucketed on the key, and the
    rewrite lands via dynamic partition overwrite so only partitions
    containing changed keys are rewritten. This plan IS what Delta/
    Iceberg MERGE compiles to underneath; expressing it directly
    keeps the capability available with plain parquet.

    Join strategy (round 13): full-outer SHUFFLED HASH built on the
    change set (~2% of base here — per-partition bounded however the
    base grows, the CDC norm). The default full-outer SMJ sorts the
    BASE stream — the round's thrice-confirmed fact-sort class;
    256x A/B: SMJ 7.9 s cold / 4.0 warm vs SHJ 3.9 / 3.5. FullOuter
    BuildRight SHJ tracks unmatched build rows (Spark 3.1+), so the
    insert branch still lands."""
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_totalprice").alias("p"),
    )
    upd = base.filter(F.col("k") % 97 == 0).select(
        "k", F.lit("U").alias("s"), F.round(F.col("p") * 1.1, 2).alias("p")
    )
    ins = base.filter(F.col("k") % 101 == 0).select(
        (-F.col("k")).alias("k"), F.lit("N").alias("s"), F.col("p").alias("p")
    )
    ch = upd.unionAll(ins)
    b, c = base.alias("b"), ch.hint("shuffle_hash").alias("c")
    merged = b.join(c, F.col("b.k") == F.col("c.k"), "full").select(
        F.coalesce(F.col("c.s"), F.col("b.s")).alias("s"),
        F.coalesce(F.col("c.p"), F.col("b.p")).alias("p"),
    )
    return merged.groupBy(F.col("s").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("p"), 2).alias("total"),
    )


@query(
    "events_resample",
    oracle="""
        WITH e AS (
            SELECT event_type, epoch_ns(ts) // 600000000000 AS bkt, value
            FROM events),
        agg AS (
            SELECT event_type, bkt, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM e GROUP BY event_type, bkt),
        rng AS (SELECT event_type, min(bkt) AS mn, max(bkt) AS mx
                FROM e GROUP BY event_type),
        grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bkt FROM rng)
        SELECT g.event_type, g.bkt,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n,
               COALESCE(a.sum_value, 0.0) AS sum_value
        FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g.bkt = a.bkt
    """,
)
def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with GAP FILLING: 10-minute buckets per
    event_type from each type's first to last event, empty buckets
    emitted as zero rows — the densify step every downsampling /
    charting / feature-window pipeline needs (plain groupBy silently
    drops empty intervals). Bucket math is integer nanos (`ts_ns div
    600e9`) so Spark and DuckDB agree exactly, no timezone surface.

    Plan: one partial+final agg per (type, bucket); the dense grid
    comes from sequence()+explode of each type's [min, max] bucket
    range — |types| rows exploding to |types| x |buckets|, NEVER a
    per-event explode; the gap-fill join is keyed on (type, bucket)
    and broadcastable when the grid is small. At 100 TB the grid size
    is timespan-bound (~52.6k 10-minute buckets/year x |types|),
    independent of event count."""
    # integer `div`, not `/`: ts_ns ~ 1.7e18 exceeds double's exact
    # integer range, so float division would misplace bucket edges
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts_ns div 600000000000").alias("bkt"), "value"
    )
    agg = e.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    grid = (
        e.groupBy("event_type")
        .agg(F.min("bkt").alias("mn"), F.max("bkt").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("bkt"))
    )
    return grid.join(agg, ["event_type", "bkt"], "left").select(
        "event_type",
        "bkt",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
    )


@query(
    "events_locf_impute",
    oracle="""
        WITH e AS (
            SELECT event_type, epoch_ns(ts) // 3600000000000 AS bkt,
                   CAST(round(value * 1000, 0) AS BIGINT) AS mills
            FROM events),
        agg AS (
            SELECT event_type, bkt,
                   CAST(round(sum(mills) / count(*), 0) AS BIGINT) / 1000.0
                       AS avg_v
            FROM e GROUP BY 1, 2),
        rng AS (SELECT event_type, min(bkt) AS mn, max(bkt) AS mx
                FROM agg GROUP BY 1),
        grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bkt FROM rng)
        SELECT g.event_type, g.bkt,
               last_value(a.avg_v IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS avg_value_locf,
               a.avg_v IS NULL AS filled
        FROM grid g
        LEFT JOIN agg a ON g.event_type = a.event_type AND g.bkt = a.bkt
    """,
)
def q_events_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation over a densified
    hourly grid — the other half of gap handling: `events_resample`
    fills empty buckets with ZEROS (counts), this fills them with the
    LAST OBSERVED value (levels: sensor readings, prices, gauges),
    via the `last_value ... IGNORE NULLS` window surface that no
    other registry entry exercises. `filled` marks imputed rows so
    downstream consumers can weight or exclude them.

    Determinism: bucket averages are computed on exact mills
    (value*1000 as BIGINT — the `_sum_money` discipline), rounded to
    integer mills BEFORE the /1000.0 display divide; rounding a
    3-decimal double directly diverges from DuckDB at half-ulp
    boundaries (Spark rounds the shortest decimal repr, DuckDB the
    scaled double — 32.2925 famously lands on different sides).

    Plan: one partial+final agg per (type, hour) collapses the
    corpus; grid = sequence()+explode per type (timespan-bounded,
    ~8.8k rows/type/year regardless of event count); the LOCF window
    is partitioned per type and runs over the GRID, never the raw
    events — at 100 TB the window input is still |types| x |hours|.
    First grid row per type is min(observed bucket), so no leading
    NULL (LOCF needs no seed row).
    """
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 3600000000000").alias("bkt"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("mills"),
    )
    agg = e.groupBy("event_type", "bkt").agg(
        (F.round(F.sum("mills") / F.count(F.lit(1)), 0).cast("long") / 1000.0)
        .alias("avg_v")
    )
    grid = (
        agg.groupBy("event_type")
        .agg(F.min("bkt").alias("mn"), F.max("bkt").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("bkt"))
    )
    j = grid.join(agg, ["event_type", "bkt"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        "bkt",
        F.last("avg_v", ignorenulls=True).over(w).alias("avg_value_locf"),
        F.col("avg_v").isNull().alias("filled"),
    )


@query(
    "shipmonth_price_percentiles",
    oracle="""
        WITH l AS (
            SELECT l_returnflag,
                   CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
                       AS ship_month,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
            FROM lineitem)
        SELECT l_returnflag, ship_month,
               CAST(count(*) AS BIGINT) AS n,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) / 100.0
                   AS p50_cont,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) / 100.0
                   AS p50_disc,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) / 100.0
                   AS p90_disc
        FROM l GROUP BY 1, 2
    """,
)
def q_shipmonth_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag, ship-month) price percentiles via the SQL:2003
    ORDERED-SET AGGREGATE surface — `percentile_cont / percentile_disc
    ... WITHIN GROUP (ORDER BY ...)` — the one quantile spelling the
    registry didn't cover (`percentile` function form:
    value_percentiles_exact; window cume_dist/percent_rank form:
    priority_price_quantiles; GK sketch: value_percentiles).

    Determinism across engines: percentiles run over exact cents
    BIGINTs. percentile_disc returns an actual data value (exact);
    percentile_cont is pinned to 0.5, whose midpoint interpolation
    (a+b)/2 on integer-valued doubles is exact in IEEE — fractional
    quantiles like 0.9 interpolate with an inexact 0.9*(b-a) term
    whose last ulp differs between engines' formulas, so the tail
    quantile is percentile_disc on purpose.

    Plan (round 12 rewrite): VALUE-HISTOGRAM percentiles. The direct
    `percentile_cont/_disc` aggregates are TypedImperativeAggregates
    that buffer EVERY row's value per cohort — measured quadratic-ish
    on the 256x ladder (8.3 s at 64x -> 146 s at 256x solo; each of
    the three aggregates independently re-buffered the 154M-row scan
    at ~55 s apiece while a plain count agg took 9 s). Exact
    percentiles over a value domain this narrow want the classic
    two-level plan instead: (1) ONE map-side-combinable count agg on
    (cohort, cents) — the histogram, bounded by |cohorts| x |distinct
    prices|, which replication (and real fact growth) barely moves;
    (2) cumulative counts over the tiny histogram (window partitioned
    by the bounded cohort key) and conditional-min lookups for each
    target rank. Identical results: percentile_disc(q) = smallest v
    with cume_dist >= q; percentile_cont(0.5) = midpoint of the two
    middle order statistics, exact in IEEE on integer-valued cents
    (the reason the tail quantile stays disc). At 100 TB the heavy
    stage is the same partial-agg scan a COUNT(*) costs; nothing
    buffers rows. The GK sketch twin remains the mergeable path when
    even the histogram explodes.
    """
    l = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias(
            "ship_month"
        ),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    hist = l.groupBy("l_returnflag", "ship_month", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    coh = Window.partitionBy("l_returnflag", "ship_month")
    cum = (
        F.sum("c")
        .over(coh.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum")
    )
    h = hist.select(
        "l_returnflag",
        "ship_month",
        "cents",
        "c",
        cum,
        F.sum("c").over(coh).alias("n"),
    )
    # Order statistic at 0-indexed position k is the first histogram
    # row whose cumulative count exceeds k; disc(q) is the first row
    # whose cume_dist (cum/n) reaches q. Conditional mins over the
    # cohort-bounded histogram resolve every target rank in one agg.
    v_at = lambda k: F.min(F.when(F.col("cum") >= k + 1, F.col("cents")))
    lo = F.floor((F.col("n") - 1) / 2)
    hi = F.ceil((F.col("n") - 1) / 2)
    # n is cohort-constant; carry it through the agg via grouping.
    return (
        h.groupBy("l_returnflag", "ship_month", "n")
        .agg(
            v_at(lo).alias("v_lo"),
            v_at(hi).alias("v_hi"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("cents"))
            ).alias("d50"),
            F.min(
                F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("cents"))
            ).alias("d90"),
        )
        .select(
            "l_returnflag",
            "ship_month",
            F.col("n").alias("n"),
            ((F.col("v_lo") + F.col("v_hi")) / 2 / 100.0).alias("p50_cont"),
            (F.col("d50") / 100.0).alias("p50_disc"),
            (F.col("d90") / 100.0).alias("p90_disc"),
        )
    )


@query(
    "events_rollup_multires",
    oracle="""
        WITH e AS (
            SELECT event_type,
                   epoch_ns(ts) // 3600000000000 AS b_hour,
                   epoch_ns(ts) // 600000000000 AS b_10min,
                   value
            FROM events)
        SELECT event_type, b_hour, b_10min,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM e GROUP BY ROLLUP(event_type, b_hour, b_10min)
    """,
)
def q_events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: 10-minute,
    hourly, per-type, and grand-total aggregates of the SAME scan in
    ONE pass — ROLLUP over (event_type, hour-bucket, 10min-bucket),
    exploiting that the bucket columns form a hierarchy (10-min
    determines hour), so the grouping sets ARE the resolution ladder
    a continuous-aggregate/downsampling system maintains.

    Plan: a single Expand+HashAggregate — one shuffle total for all
    four resolutions, vs four separate scans+shuffles if computed
    naively. Expand multiplies rows x4 BEFORE partial aggregation, so
    the shuffle still carries only (group, partial) pairs — at 100 TB
    the exchange is bounded by the bucket-grid sizes, not event count.
    Bucket math is integer nanos (`ts_ns div`), engine-exact."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 3600000000000").alias("b_hour"),
        F.expr("ts_ns div 600000000000").alias("b_10min"),
        "value",
    )
    return e.rollup("event_type", "b_hour", "b_10min").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# (column, is_double): doubles are rendered through DECIMAL(18,2)
# rather than a raw string cast — Spark prints doubles >= 1e7 in
# scientific notation ('1.0E7') while DuckDB prints plain
# ('10000000.0'), so a raw cast diverges once the value crosses that
# threshold at larger scale factors. The decimal path is
# threshold-free and renders identically in both engines.
_PROFILE_COLS = (
    ("o_orderkey", False),
    ("o_custkey", False),
    ("o_orderstatus", False),
    ("o_totalprice", True),
)


def _profile_minmax_spark(c: str, is_double: bool, agg_fn) -> "F.Column":
    v = agg_fn(c)
    if is_double:
        v = v.cast("decimal(18,2)")
    return v.cast("string")


def _profile_minmax_sql(c: str, is_double: bool, fn: str) -> str:
    inner = f"{fn}({c})"
    if is_double:
        inner = f"CAST({inner} AS DECIMAL(18,2))"
    return f"CAST({inner} AS VARCHAR)"


@query(
    "profile_table",
    oracle="""
        """ + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
                   CAST(count(*) - count({c}) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                   {_profile_minmax_sql(c, dbl, "min")} AS min_s,
                   {_profile_minmax_sql(c, dbl, "max")} AS max_s
            FROM orders"""
        for c, dbl in _PROFILE_COLS
    ) + """
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep: per-column null count, distinct count,
    and min/max (as strings, type-erased) over a fixed column set —
    the ingest-quality report every pipeline runs before trusting a
    new drop of data.

    One aggregation pass PER COLUMN over the same scan (column
    pruning keeps each scan to its own column) — exact distincts
    can't profitably share one pass: r14 A/B'd the single-scan form
    (4 countDistinct in one agg → Spark's 5-way Expand rewrite) at
    3x SLOWER (0.74 s vs 2.21 s interleaved mins) because Expand
    multiplies every row 5x carrying all four columns, while the
    four column-pruned passes each read one column and run as
    independent concurrent stages (guide §2.6). `profile_table_sketch`
    is the 100 TB form: approx_count_distinct sketches fold the whole
    report into ONE aggregation over one scan with no Expand. min/max
    string casts make the report schema-stable across column types
    (numerics compare numerically BEFORE the cast, so min_s/max_s are
    the true extremes rendered as text; doubles render via DECIMAL so
    the text is engine-stable at any magnitude)."""
    o = _t(spark, sf_dir, "orders")
    parts = []
    for c, dbl in _PROFILE_COLS:
        parts.append(
            o.agg(
                F.lit(c).alias("col_name"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
                _profile_minmax_spark(c, dbl, F.min).alias("min_s"),
                _profile_minmax_spark(c, dbl, F.max).alias("max_s"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query("profile_table_sketch")  # approximate (HLL) — rows-only driver check
def q_profile_table_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of `profile_table`: the whole per-column report
    (null count, approx-distinct, min/max) computed in ONE aggregation
    over ONE scan — approx_count_distinct (HyperLogLog++, default 5%
    rsd) replaces the exact DISTINCT that forced a pass per column.

    The single wide Aggregate emits one row of 4x4 measures; a
    shuffle-free explode unpivots it to the same (col_name, n_null,
    n_distinct, min_s, max_s) shape as the exact twin. At 100 TB this
    is one map-side-combined pass over the table regardless of column
    count; the exact twin's N passes each rescan the table. HLL
    estimates aren't SQL-reproducible in DuckDB → rows-only driver
    check; the pytest bound vs the exact twin is the correctness gate
    (pattern: `value_percentiles`/`_exact`)."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c, dbl in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"null__{c}"),
            F.approx_count_distinct(c).alias(f"nd__{c}"),
            _profile_minmax_spark(c, dbl, F.min).alias(f"min__{c}"),
            _profile_minmax_spark(c, dbl, F.max).alias(f"max__{c}"),
        ]
    one = o.agg(*aggs)
    profiles = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"null__{c}").alias("n_null"),
                F.col(f"nd__{c}").alias("n_distinct"),
                F.col(f"min__{c}").alias("min_s"),
                F.col(f"max__{c}").alias("max_s"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(profiles).alias("p")).select("p.*")


@query(
    "profile_table_sketch_bounds",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
               count(DISTINCT {c}) AS n_distinct_exact,
               true AS within_band FROM orders"""
        for c, _ in _PROFILE_COLS
    ),
)
def q_profile_table_sketch_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracled bracket twin of the rows-only `profile_table_sketch`
    (the `value_percentiles_bounds` pattern): each column's HLL++
    distinct estimate (default rsd=0.05) must land within 3 sigma
    (15%) of the exact count. Emits the exact per-column distincts
    (hash-checked) plus the in-band boolean — sketch drift now fails
    the driver's hash compare, not just a pytest bound. Both sides
    are single wide aggregates over one scan each."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c, _dbl in _PROFILE_COLS:
        aggs += [
            F.countDistinct(c).alias(f"ex__{c}"),
            F.approx_count_distinct(c).alias(f"ap__{c}"),
        ]
    one = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"ex__{c}").alias("n_distinct_exact"),
                (
                    F.abs(F.col(f"ap__{c}") - F.col(f"ex__{c}"))
                    <= 0.15 * F.col(f"ex__{c}")
                ).alias("within_band"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


@query(
    "window_dedup_latest",
    oracle="""
        WITH r AS (
            SELECT user_id, event_id, event_type,
                   epoch_ns(ts) // 1000000000 AS ts_s, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        SELECT user_id, event_id, event_type, ts_s,
               round(value, 3) AS value
        FROM r WHERE rn = 1
    """,
)
def q_window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction: keep each user's most recent
    event (ROW_NUMBER = 1 over ts DESC with event_id tiebreak) — the
    CDC-compaction / snapshot-view primitive that turns an append-only
    changelog into current state. `merge_upsert` applies a delta; this
    collapses the log itself.

    One shuffle on the key; Spark plans the rn=1 filter as a
    WindowGroupLimit, so each partition keeps ONE row per key before
    the window sort — at 100 TB the sort input per key is the group
    limit, not the full history. The unique event_id tiebreak makes
    same-second ties engine-stable."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts_ns div 1000000000").alias("ts_s"),
        # Order at MICROSECOND granularity: DuckDB reads the nanos
        # parquet as a us-truncated TIMESTAMP, so ordering by raw
        # nanos here could break a same-us tie differently than the
        # oracle. The event_id tiebreak then resolves us-ties
        # identically in both engines.
        F.expr("ts_ns div 1000").alias("_ord"),
        "value",
    )
    w = W.partitionBy("user_id").orderBy(F.desc("_ord"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            "ts_s",
            F.round("value", 3).alias("value"),
        )
    )


def _zorder_sql(xc: str, yc: str) -> str:
    """SQL bit-interleave of two 8-bit values (shared by oracle)."""
    return " + ".join(
        f"((({xc} >> {i}) & 1) << {2 * i}) + ((({yc} >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )


def zorder_key(x, y):
    """Morton interleave of two 8-bit bucket Columns → 16-bit z-key
    Column (x in even bits, y in odd). Pure codegen'd bit ops;
    property-tested against a Python bit model."""
    zkey = None
    for i in range(8):
        xbit = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ybit = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        zkey = xbit + ybit if zkey is None else zkey + xbit + ybit
    return zkey


@query(
    "zorder_layout",
    oracle=f"""
        WITH d AS (
            SELECT o_custkey % 256 AS x,
                   datediff('day', TIMESTAMP '1970-01-01', o_orderdate) % 256 AS y
            FROM orders),
        z AS (SELECT x, y, {_zorder_sql('x', 'y')} AS zkey FROM d)
        SELECT zkey // 4096 AS zchunk,
               CAST(count(*) AS BIGINT) AS n,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y
        FROM z GROUP BY zchunk
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two dimensions — customer
    bucket x order-day bucket — plus per-chunk min/max statistics:
    the multi-dimensional clustering primitive behind Delta/Iceberg
    OPTIMIZE ZORDER. Sorting by the interleaved key groups rows so
    EVERY chunk is a small rectangle in BOTH dimensions (the min/max
    spans in the output show it), which is what lets min/max file
    statistics skip files for predicates on EITHER column — a
    1-D sort gives perfect pruning on one column and none on the
    other.

    The interleave is 16 unrolled integer bit ops — pure codegen'd
    projection, shuffle only for the per-chunk stats aggregate
    (bounded by chunk count). At 100 TB this key feeds
    repartitionByRange + sortWithinPartitions at write time; the
    day bucket via datediff keeps both engines timezone-free.
    The pruning claim is proven END-TO-END on written parquet in
    `tests/test_round7_fixes.py::test_zorder_layout_prunes_both_dims`:
    the same single-dimension predicates touch fewer files under the
    z layout than under the opposite single-column sort, and stay
    bounded on both dimensions at once."""
    x = (F.col("o_custkey") % 256).cast("long")
    y = (
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp_ntz")
        ).cast("long")
        % 256
    )
    d = _t(spark, sf_dir, "orders").select(x.alias("x"), y.alias("y"))
    z = d.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("zkey"))
    return z.groupBy(F.expr("zkey div 4096").alias("zchunk")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


@query(
    "outlier_filter_p99",
    oracle="""
        WITH p AS (
            SELECT event_type, round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type)
        SELECT e.event_id, e.event_type,
               round(e.value, 3) AS value, p.p99
        FROM events e JOIN p USING (event_type)
        WHERE e.value > p.p99
    """,
)
def q_outlier_filter_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile outlier filter: events above their type's
    exact p99 — the standard anomaly/trim step of a cleaning pipeline
    (cap sensor spikes, drop abusive request sizes) where the
    threshold is data-derived per group, not a constant.

    Plan: one aggregation computes the per-type thresholds (|types|
    rows → BROADCAST back onto the event stream), so the event scan
    is filtered map-side — no second shuffle, no driver round trip,
    and at 100 TB the big side never repartitions. Both engines
    compare against the threshold ROUNDED to 4 decimals (Spark
    `percentile` and DuckDB `quantile_cont` are both linear
    interpolation; rounding removes last-ulp divergence from the
    filter decision). Exact percentile buffers each group's values;
    at 100 TB swap in `approx_percentile` (GK sketch, constant
    memory — `value_percentiles` demonstrates it) with an epsilon
    guard band on the threshold."""
    e = _t(spark, sf_dir, "events")
    p = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99")
    )
    return (
        e.join(F.broadcast(p), "event_type")
        .filter(F.col("value") > F.col("p99"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 3).alias("value"),
            "p99",
        )
    )


@query(
    "funnel_conversion",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type,
                   epoch_ns(ts) // 1000000000 AS ts_s
            FROM events),
        s1 AS (
            SELECT user_id, event_type, ts_s,
                   min(CASE WHEN event_type = 'view' THEN ts_s END)
                       OVER (PARTITION BY user_id) AS t1
            FROM e),
        s2 AS (
            SELECT *, min(CASE WHEN event_type = 'click' AND ts_s > t1
                               THEN ts_s END)
                       OVER (PARTITION BY user_id) AS t2
            FROM s1),
        s3 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_s > t2
                               THEN ts_s END)
                       OVER (PARTITION BY user_id) AS t3
            FROM s2)
        SELECT user_id,
               max(t1) AS first_view,
               max(t2) AS first_click,
               max(t3) AS first_purchase,
               CASE WHEN max(t3) IS NOT NULL THEN 'purchase'
                    WHEN max(t2) IS NOT NULL THEN 'click'
                    WHEN max(t1) IS NOT NULL THEN 'view'
                    ELSE 'none' END AS reached
        FROM s3 GROUP BY user_id
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): per user,
    the first view, the first click STRICTLY AFTER that view, and the
    first purchase strictly after that click — the conversion-path
    primitive of product analytics, where each stage must respect the
    causal order (a purchase before the first view does not count).

    ONE shuffle total: three chained min-over windows all partition by
    user_id, so Spark plans them as consecutive Window nodes over a
    single Exchange, and the closing per-user aggregate reuses the
    same hash partitioning (plan-asserted). Each window pass is a
    per-partition constant-state scan; at 100 TB the cost is one
    user_id shuffle of (user, type, second) triples — no joins, no
    per-stage re-scans. Epoch-second integer math keeps both engines
    on identical timestamps."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns div 1000000000").alias("ts_s")
    )
    return funnel_stages(e)


def funnel_stages(e: DataFrame) -> DataFrame:
    """Core of `funnel_conversion` over a (user_id, event_type, ts_s)
    frame — separated so property tests can feed synthetic event
    streams; see the query docstring for semantics and plan shape."""
    w = Window.partitionBy("user_id")
    s1 = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts_s"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_s") > F.col("t1")),
                F.col("ts_s"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts_s") > F.col("t2")),
                F.col("ts_s"),
            )
        ).over(w),
    )
    reached = (
        F.when(F.max("t3").isNotNull(), "purchase")
        .when(F.max("t2").isNotNull(), "click")
        .when(F.max("t1").isNotNull(), "view")
        .otherwise("none")
    )
    return s3.groupBy("user_id").agg(
        F.max("t1").alias("first_view"),
        F.max("t2").alias("first_click"),
        F.max("t3").alias("first_purchase"),
        reached.alias("reached"),
    )


@query(
    "event_path_mining",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   lead(event_type, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS e1,
                   lead(event_type, 2) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS e2
            FROM events)
        SELECT event_type || ' > ' || e1 || ' > ' || e2 AS path,
               count(*) AS n
        FROM s WHERE e1 IS NOT NULL AND e2 IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
)
def q_event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path mining: the 20 most common 3-step event-type
    sequences across all users — the journey-analysis primitive
    behind funnel DISCOVERY (funnel_conversion checks one known
    funnel; this surfaces which paths exist and how often).

    Per-user event n-grams via two LEADs over (ts, event_id) — the
    unique event_id tiebreak makes same-timestamp ordering, and hence
    the mined paths, engine-stable. One shuffle on user_id for the
    window; the path count aggregates map-side (the path alphabet is
    |event_types|^3-bounded, tiny regardless of corpus size) and
    top-20 is a TakeOrderedAndProject k-heap, so at 100 TB the only
    full-data exchange is the per-user window everything downstream
    is combiner-sized."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    ).filter(F.col("e1").isNotNull() & F.col("e2").isNotNull())
    return (
        steps.select(
            F.concat_ws(" > ", "event_type", "e1", "e2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@query(
    "trailing_window_sum",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec, value
            FROM events WHERE user_id < 50)
        SELECT user_id, event_id,
               round(sum(value) OVER (
                   PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW), 2)
                   AS trailing_sum
        FROM e
    """,
)
def q_trailing_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-minute sum per user — a RANGE-frame window (frame
    bounds in the ORDER BY column's units, not row counts), the
    time-decayed-feature primitive rows-frames cannot express when
    events are irregularly spaced. RANGE frames are tie-safe by
    construction: all events in the same second share one frame, so
    no unique-tiebreak column is needed (the module invariant applies
    to ROWS frames). Integer-second ordering keeps both engines on
    identical frames; one shuffle on user_id, frame evaluation is a
    per-partition sliding accumulator."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000000000").alias("sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-1800, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("trailing_sum"),
    )


# ---------------------------------------------------------------------------
# Round 5: TPC-H family widening (Q14 / Q16 / Q2 / Q4 shapes)
# ---------------------------------------------------------------------------


@query(
    "tpch_q14_like",
    oracle=f"""
        SELECT round(
            100.0 * {_sum_money_sql(
                "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
            / {_sum_money_sql("l_extendedprice * (1 - l_discount)")}, 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q_tpch_q14_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): share of one month's
    discounted revenue attributable to PROMO-type parts — conditional
    aggregate over a fact⋈dim join. The testdata's `p_type` is a flat
    category (no 'PROMO%' prefixes as in `Part.p_type` of real TPC-H;
    equality replaces LIKE, same plan shape).

    Plan: the date filter pushes to the lineitem scan (one month
    survives), part broadcasts (2k rows; at 100 TB parts are still
    ~millions — broadcastable), then a single no-grouping aggregate:
    zero big shuffles. Both money sums go through integer cents
    (`_sum_money`) so the ratio cannot drift a last ulp under
    partial-agg order."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * _sum_money(promo) / _sum_money(disc), 4
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "tpch_q16_like",
    oracle="""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size < 25
        GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many
    distinct suppliers can furnish parts of each (brand, type, size)
    combination, excluding one brand and one type class. The
    reference schema has no partsupp table, so lineitem serves as the
    observed part⋈supplier bridge (suppliers that actually shipped
    the part); the supplier-complaint NOT IN of real Q16 has no
    analog here.

    Plan: part filters push to its scan, part broadcasts onto
    lineitem, and COUNT(DISTINCT) expands to the standard two-phase
    distinct aggregate — first shuffle on (brand, type, size,
    suppkey) deduplicates with map-side partials, second on the group
    key counts. Group cardinality is bounded by the attr combo space,
    never by fact rows — exactly how it stays cheap at 100 TB."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size") < 25)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(p)
        .join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q2_like",
    oracle="""
        WITH px AS (
            SELECT l_partkey, l_suppkey,
                   round(l_extendedprice / l_quantity, 2) AS unit_price
            FROM lineitem WHERE l_quantity > 0),
        m AS (
            SELECT l_partkey, min(unit_price) AS min_price
            FROM px GROUP BY l_partkey),
        w AS (
            SELECT px.l_partkey, min(px.l_suppkey) AS l_suppkey, m.min_price
            FROM px JOIN m ON px.l_partkey = m.l_partkey
                          AND px.unit_price = m.min_price
            GROUP BY px.l_partkey, m.min_price)
        SELECT p.p_partkey, p.p_name, s.s_name, w.min_price
        FROM w
        JOIN part p ON w.l_partkey = p.p_partkey
        JOIN supplier s ON w.l_suppkey = s.s_suppkey
        WHERE p.p_size < 10
    """,
)
def q_tpch_q2_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for every small part,
    the supplier offering it at the lowest observed unit price. No
    partsupp table exists, so unit price is derived from shipped
    lineitems (extendedprice/quantity, 2-decimal quantized on BOTH
    engines before comparison so the min is taken over identical
    values).

    Plan: the correlated-subquery formulation of real Q2 becomes ONE
    map-side argmin per partkey, then two broadcast dim joins (part,
    supplier). The argmin is a PACKED-BIGINT min — cents * 2^32 +
    suppkey — NOT min(struct(price, suppkey)): a struct-valued min
    has no primitive mutable buffer, so Catalyst plans it as a
    SORT-based aggregate that sorts the entire fact stream by
    partkey (measured alpha ~1.9 on the 256x ladder, 28.4 s warm);
    the packed long keeps the argmin inside HashAggregate with
    map-side partials (4.2 s warm at 256x, alpha ~linear). The
    lexicographic (price, lowest-suppkey) tiebreak survives packing
    exactly: cents and suppkey are non-negative and suppkey < 2^32,
    so packed-min == struct-min (pinned in test_round12_fixes)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    s = _t(spark, sf_dir, "supplier")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 2)
    cents = F.round(unit * 100, 0).cast("long")
    packed = cents * F.lit(1 << 32).cast("long") + F.col("l_suppkey")
    best = (
        li.select("l_partkey", packed.alias("pk"))
        .groupBy("l_partkey")
        .agg(F.min("pk").alias("pk"))
        .select(
            "l_partkey",
            (F.shiftright("pk", 32) / 100.0).alias("min_price"),
            (F.col("pk") % F.lit(1 << 32).cast("long")).alias("l_suppkey"),
        )
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "min_price")
    )


@query(
    "tpch_q4_like",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
)
def q_tpch_q4_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): count per priority
    of one half-year's orders that had at least one LATE line item.
    The reference lineitem carries no commit/receipt dates, so "late"
    is adapted to shipped more than 60 days after the order date —
    the same correlated-EXISTS decorrelating to a left-semi join.

    Plan (round 13 rewrite, adjudicated on the 256x ladder): the
    date filter pushes to the orders scan; the correlated EXISTS
    becomes an inner SHUFFLED HASH join built on the half-year
    orders slice (bounded: key+date+priority per row, ~7% of orders
    after the pushed filter) with the range predicate riding the
    equi-join, then a distinct-orders aggregate over the MATCHED
    rows only (two cheap shuffles of join output, not fact input).

    Two rejected formulations, both measured superlinear at 256x:
    the naive left-semi plans as SMJ sorting the entire lineitem
    stream (LeftSemi shuffled-hash supports only BuildRight =
    hash-building the fact side, so the hint route is closed) —
    solo rung 5.84 -> 60.98 s, alpha ~1.69; decorrelating through a
    per-orderkey max(l_shipdate) pre-agg spends 48 s of that in the
    |orderkeys|-group hash aggregate (measured vs a 2.65 s scan) —
    partial-agg maps at ~5M groups/task hit the spill/sort
    fallback. The winning plan also DERIVES the transitive lower
    bound the optimizer can't infer across the inequality:
    o_orderdate >= window-start AND l_shipdate > o_orderdate + 60d
    implies l_shipdate > window-start + 60d, pruning ~60% of
    lineitem before the shuffle (constant-folded literal, reaches
    the parquet scan as a pushed row-group filter). 256x solo:
    15.1 s, back in the linear class."""
    start, end = "1996-01-01", "1996-07-01"
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate").filter(
        F.col("l_shipdate")
        > F.lit(start).cast("timestamp_ntz") + F.expr("INTERVAL 60 DAYS")
    )
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        li.join(o.hint("shuffle_hash"), cond)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("_nl"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q7_like",
    oracle="""
        SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
               CAST(year(l_shipdate) AS BIGINT) AS ship_year,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS volume
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE n1.n_nationkey <> n2.n_nationkey
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def q_tpch_q7_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): trade volume between every
    distinct (customer nation, supplier nation) pair by ship year —
    the two-role dimension join (nation joined TWICE under different
    aliases) that exercises alias resolution and join reordering.

    Plan: the fact chain shuffles once on the order key; customer,
    supplier, and both nation roles broadcast; the group space is
    |nations|² x years — constant-bounded however large the fact
    side grows. Volume goes through integer cents."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("nk1"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("nk2"))
        .filter(F.col("nk1") != F.col("nk2"))
        .groupBy(
            "cust_nation", "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            _sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("volume")
        )
    )


@query(
    "tpch_q11_like",
    oracle=f"""
        WITH pv AS (
            SELECT l_partkey,
                   {_sum_money_sql("l_extendedprice * (1 - l_discount)")} AS val
            FROM lineitem GROUP BY l_partkey),
        tot AS (
            SELECT round(sum(CAST(round(val * 100, 0) AS BIGINT)) / 100.0, 2) AS t
            FROM pv)
        SELECT l_partkey, val AS part_value,
               round(val / tot.t, 6) AS value_share
        FROM pv CROSS JOIN tot
        WHERE val > 0.001 * tot.t
    """,
)
def q_tpch_q11_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose traded value
    exceeds a FRACTION of the global total — the correlated
    HAVING-over-scalar-subquery pattern (group filter against a
    whole-table aggregate). No partsupp table exists, so part value
    is the lineitem discounted revenue per part.

    Plan: one groupBy(partkey) with map-side partials (integer
    cents), the one-row global total attaches via
    crossJoin(broadcast(agg)) — no driver round trip — then a scan
    filter. Both levels of summation stay in integer cents so the
    0.1% threshold compares identical doubles on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
    )
    tot = pv.agg(
        F.round(
            F.sum(F.round(F.col("val") * 100, 0).cast("long")) / 100.0, 2
        ).alias("t")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") > 0.001 * F.col("t"))
        .select(
            "l_partkey",
            F.col("val").alias("part_value"),
            F.round(F.col("val") / F.col("t"), 6).alias("value_share"),
        )
    )


@query(
    "event_cooccurrence_lift",
    oracle="""
        WITH s AS (
            SELECT DISTINCT user_id,
                   epoch_ns(ts) // 3600000000000 AS hr, event_type
            FROM events),
        n AS (SELECT count(DISTINCT (user_id, hr)) AS n_slots FROM s),
        c AS (SELECT event_type, count(*) AS c FROM s GROUP BY event_type),
        p AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS c_ab
            FROM s a JOIN s b
              ON a.user_id = b.user_id AND a.hr = b.hr
             AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type)
        SELECT p.type_a, p.type_b, CAST(p.c_ab AS BIGINT) AS n_cooccur,
               round(p.c_ab * 1.0 * n.n_slots / (ca.c * cb.c), 4) AS lift
        FROM p
        JOIN c ca ON p.type_a = ca.event_type
        JOIN c cb ON p.type_b = cb.event_type
        CROSS JOIN n
    """,
)
def q_event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over event types: for every type pair, how
    much more often they land in the same (user, hour) slot than
    independence predicts — lift = p(ab)/(p(a)p(b)) over slots, the
    association measure behind basket analysis and co-click audits.

    Plan: one distinct over (user, hour, type) — after which the
    slot table is |slots| x |types|-bounded — then a self-join keyed
    on the slot (never all-pairs: candidates are within-slot only,
    and a slot holds at most |types| rows), a pair-space aggregate
    (|types|² rows), and broadcast attachment of the marginals. Lift
    is an exact integer ratio — engine-stable without log math."""
    e = _t(spark, sf_dir, "events")
    # r13: the distinct slot table feeds four consumers (slot count,
    # marginals, both self-join sides) — materialize the one
    # event-sized distinct instead of running it per reference.
    s = materialize(e.select(
        "user_id",
        F.expr("ts_ns div 3600000000000").alias("hr"),
        "event_type",
    ).distinct())
    n = s.select("user_id", "hr").distinct().agg(
        F.count(F.lit(1)).alias("n_slots")
    )
    c = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = s.select("user_id", "hr", F.col("event_type").alias("type_a"))
    b = s.select(
        F.col("user_id").alias("u2"),
        F.col("hr").alias("h2"),
        F.col("event_type").alias("type_b"),
    )
    p = (
        a.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("hr") == F.col("h2"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))
    return (
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").alias("n_cooccur"),
            F.round(
                F.col("c_ab") * F.col("n_slots") / (F.col("c_a") * F.col("c_b")),
                4,
            ).alias("lift"),
        )
    )


@query(
    "orders_rfm_segments",
    oracle="""
        WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
        base AS (
            SELECT o_custkey,
                   date_diff('day', max(o_orderdate), mx.mxd) AS recency_days,
                   count(*) AS frequency,
                   round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
                       AS monetary
            FROM orders CROSS JOIN mx
            GROUP BY o_custkey, mx.mxd)
        SELECT o_custkey,
               CAST(recency_days AS BIGINT) AS recency_days,
               CAST(frequency AS BIGINT) AS frequency, monetary,
               CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)
                   AS r_score,
               CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
                   AS f_score,
               CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)
                   AS m_score
        FROM base
    """,
)
def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    against the corpus max date), frequency (order count), monetary
    (integer-cents lifetime spend), each quartile-scored with
    ntile(4) — the classic marketing-analytics segmentation, 1 =
    best quartile.

    Determinism: ntile assigns by ROW POSITION, so every ORDER BY
    carries the custkey tiebreak — without it, equal-frequency
    customers could land in different quartiles per engine (the
    module's windows-need-total-order invariant).

    Plan — three quartile ranks, ONE range exchange: melt the
    customer-level base into 3n (metric, val, custkey) rows where
    val is sign-adjusted so every metric ranks ASC (recency asc;
    -frequency and -monetary-cents for the DESC metrics), take a
    single distributed global row_number over (metric, val, custkey)
    (`ranking._with_partition_offsets` — the range-exchange recipe,
    never a single-partition window), then recover each metric's
    1-based rank as rn - metric_index * n, since every metric
    contributes exactly n rows and metrics are ordered first. The
    chained-3x-ntile form this replaces paid three range shuffles and
    ~13 local jobs; this is one range shuffle of 3n narrow rows plus
    one custkey hash shuffle to fold the three scores back — at
    100 TB the difference between one wide sort pass and three."""
    from hadoop_wordcount_spark.operators.ranking import (
        _LRN,
        _OFF,
        _ntile_bucket,
        _with_partition_offsets,
    )

    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "mxd")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            _sum_money(F.col("o_totalprice")).alias("monetary"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("mxd"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # Melt: metric sort order 'f' < 'm' < 'r' fixes each metric's
    # block position in the single global ordering. Monetary ranks by
    # exact cents (monetary is cents/100, so -cents asc == monetary
    # desc with no float-comparison hazard).
    mv = F.explode(
        F.array(
            F.struct(
                F.lit("f").alias("metric"),
                (-F.col("frequency")).cast("long").alias("val"),
            ),
            F.struct(
                F.lit("m").alias("metric"),
                (-F.round(F.col("monetary") * 100, 0)).cast("long").alias("val"),
            ),
            F.struct(
                F.lit("r").alias("metric"),
                F.col("recency_days").cast("long").alias("val"),
            ),
        )
    ).alias("mv")
    melted = base.select(
        "o_custkey", "recency_days", "frequency", "monetary", mv
    ).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.col("mv.metric").alias("metric"),
        F.col("mv.val").alias("val"),
    )
    r = _with_partition_offsets(
        melted, [("metric", False), ("val", False), ("o_custkey", False)]
    )
    # n attaches as a broadcast scalar off the (cached) ranked rows:
    # 3n melted rows / 3.
    n_total = r.agg((F.count(F.lit(1)) / 3).cast("long").alias("_t"))
    r = r.crossJoin(F.broadcast(n_total))
    rn_in_metric = (
        F.col(_LRN)
        + F.col(_OFF)
        - F.when(F.col("metric") == "f", F.lit(0))
        .when(F.col("metric") == "m", F.lit(1))
        .otherwise(F.lit(2))
        * F.col("_t")
    )
    bucket = _ntile_bucket(rn_in_metric, F.col("_t"), 4).cast("long")
    scored = r.withColumn("_score", bucket)
    return scored.groupBy("o_custkey").agg(
        F.max("recency_days").alias("recency_days"),
        F.max("frequency").alias("frequency"),
        F.max("monetary").alias("monetary"),
        F.max(F.when(F.col("metric") == "r", F.col("_score"))).alias("r_score"),
        F.max(F.when(F.col("metric") == "f", F.col("_score"))).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", F.col("_score"))).alias("m_score"),
    )


@query(
    "tpch_q19_like",
    oracle="""
        SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 35)
           OR (p_type = 'ECONOMY' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q_tpch_q19_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    an OR of three conjunctive brand/size/quantity clauses spanning
    BOTH join sides — the planner test for pushing the
    single-side parts of a disjunction below the join (Catalyst
    extracts `p_size BETWEEN 1 AND 30`-style covers per side) while
    evaluating the cross-side residual after it.

    Plan: part broadcasts; the disjunction's part-only and
    lineitem-only covers prune each scan; one no-grouping aggregate
    in integer cents closes. No shuffle beyond the broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & q.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & q.between(10, 35)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & F.col("p_size").between(1, 10)
            & q.between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q15_like",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {_sum_money_sql("l_extendedprice * (1 - l_discount)")}
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_tpch_q15_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) with maximum
    revenue in one quarter — the view-plus-scalar-subquery pattern
    (real Q15 creates REVENUE as a view; here the aggregate subtree
    is simply shared between the per-supplier table and its max,
    which is what a view compiles to anyway).

    Plan: one groupBy(suppkey) in integer cents, the 1-row max
    attaches via crossJoin(broadcast(agg)) — Catalyst reuses the
    aggregate exchange for both consumers — then an equality filter
    and a broadcast supplier join. Ties (multiple max suppliers) are
    returned on both engines, not arbitrarily broken: revenue is an
    exact cents value, so equality is engine-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "grouping_sets_mix",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
                   AS total_price,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form ROLLUP/CUBE are
    sugar for — `grouping_rollup`/`cube_agg` cover those): the
    (status, priority) matrix plus each one-dimension margin,
    WITHOUT the grand total a CUBE would add — exactly the
    set-list a dashboard's three views need and nothing more.
    `gid` = GROUPING bits disambiguates a NULL group value from a
    rolled-up dimension.

    Plan: one Expand (3 replicas of each row, one per set) feeding
    ONE hash aggregate with map-side partials — 3 aggregations for
    the price of one shuffle; money in integer cents. Expressed via
    spark.sql because the DataFrame API has rollup/cube but no
    general grouping-sets builder."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0D, 2)
                   AS total_price,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
    """)


@query(
    "sql_recursive_cte",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bi AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM toks WHERE len(tk) >= 2),
        bg AS (
            SELECT string_split(p, ' ')[1] AS w1, string_split(p, ' ')[2] AS w2,
                   count(*) AS c
            FROM bi GROUP BY 1, 2
            ORDER BY c DESC, w1, w2 LIMIT 200),
        seed AS (
            SELECT w1 AS word FROM (SELECT w1, sum(c) AS s FROM bg GROUP BY w1)
            ORDER BY s DESC, w1 LIMIT 1),
        reach(word, level) AS (
            SELECT word, 0 FROM seed
            UNION ALL
            SELECT bg.w2, r.level + 1
            FROM reach r JOIN bg ON bg.w1 = r.word WHERE r.level < 3)
        SELECT word, CAST(min(level) AS BIGINT) AS hops
        FROM reach GROUP BY word
    """,
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new SQL surface in Spark 4):
    BFS reachability over the word-transition graph — hop distance
    from the highest-out-degree word through the top-200 bigram
    edges, depth-capped at 3. The declarative twin of the iterative
    DataFrame loop `dedup_clusters` hand-rolls: the engine owns the
    fixpoint, the query states only the step.

    Both engines run the SAME recursion structure (tie-safe edge cut:
    count DESC, w1, w2; min-level aggregate AFTER expansion makes
    duplicate paths harmless). Plan: per iteration one join of the
    frontier against the 200-row MATERIALIZED edge table — frontier
    rows, not corpus rows, drive the cost; the corpus-sized stage is
    the one bigram aggregate, run exactly once. The edge cut and the
    seed are checkpointed before the recursion (r13): Spark's
    UnionLoop replans the recursion step each iteration, so leaving
    the corpus-sized CTE inline replayed the bigram aggregate once
    per level (guide §2.4 — the same subtree executed 4x). At 100 TB
    recursion depth bounds the iteration count exactly like
    dedup_clusters' convergence loop."""
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents_rcte")
    bg = materialize(spark.sql("""
        WITH toks AS (
            SELECT array_remove(split(text, ' ', -1), '') AS tk
            FROM documents_rcte),
        bi AS (
            SELECT explode(transform(sequence(1, size(tk) - 1),
                           i -> struct(element_at(tk, i) AS w1,
                                       element_at(tk, i + 1) AS w2))) AS e
            FROM toks WHERE size(tk) >= 2)
        SELECT e.w1 AS w1, e.w2 AS w2, count(*) AS c
        FROM bi GROUP BY e.w1, e.w2
        ORDER BY c DESC, w1, w2 LIMIT 200
    """))
    bg.createOrReplaceTempView("bg_rcte")
    return spark.sql("""
        WITH RECURSIVE seed AS (
            SELECT w1 AS word
            FROM (SELECT w1, sum(c) AS s FROM bg_rcte GROUP BY w1)
            ORDER BY s DESC, w1 LIMIT 1),
        reach(word, level) AS (
            SELECT word, 0 FROM seed
            UNION ALL
            SELECT bg.w2, r.level + 1
            FROM reach r JOIN bg_rcte bg ON bg.w1 = r.word WHERE r.level < 3)
        SELECT word, CAST(min(level) AS BIGINT) AS hops
        FROM reach GROUP BY word
    """)


@query(
    "batch_session_window",
    oracle="""
        WITH t AS (
            SELECT user_id, event_id, epoch_ns(ts) AS ns FROM events),
        gaps AS (
            SELECT user_id, event_id, ns,
                   CASE WHEN ns - lag(ns) OVER w >= 1800000000000
                        OR lag(ns) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ns, event_id)),
        sess AS (
            SELECT user_id, ns,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ns, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM gaps)
        SELECT user_id,
               min(ns) // 1000000000 AS session_start_s,
               max(ns) // 1000000000 AS session_last_s,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
    """,
)
def q_batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` in BATCH mode: Spark's built-in
    gap-based session assignment (30-minute inactivity gap) used as a
    groupBy key over a static table — the one-liner twin of
    `batch_sessionize`'s hand-rolled lag+cumsum idiom, and the same
    function `streaming_session_windows` uses with state. Having both
    formulations oracle-checked pins that they agree on boundary
    semantics (a gap of EXACTLY the window size starts a new
    session).

    Plan: one shuffle on user_id, then Spark's dedicated
    session-window aggregation (sort + merge within partition) —
    no second window pass, which is precisely what the built-in
    buys over the idiom. Outputs derive from integer nanos, not
    the session-TZ-dependent window struct."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window(F.col("ts"), "30 minutes").alias("w")
        )
        .agg(
            (F.min("ts_ns") / 1_000_000_000).cast("long").alias("session_start_s"),
            (F.max("ts_ns") / 1_000_000_000).cast("long").alias("session_last_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_s", "session_last_s", "n_events")
    )


@query(
    "event_xml_roundtrip",
    oracle="""
        SELECT event_id, event_type AS t, round(value, 3) AS v
        FROM events WHERE user_id < 50
    """,
)
def q_event_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML functions (Spark 4 built-in `to_xml`/`from_xml`): serialize
    each event to an XML fragment and parse it back with a schema —
    the lossless-roundtrip contract, oracle-checked against the
    original columns (the oracle needs no XML support: if parsing
    returns anything but the source values, the hash breaks). Covers
    the third serialization surface next to JSON (`event_props_json`)
    and VARIANT (`event_props_variant`).

    Plan: two codegen'd projections (StructsToXml, XmlToStructs) —
    shuffle-free, scan-pruned to three columns. At 100 TB this is the
    shape of XML feed ingest: schema-on-read projection, no UDFs."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    xml = e.select(
        "event_id",
        F.to_xml(
            F.struct(
                F.col("event_type").alias("t"),
                F.round("value", 3).alias("v"),
            )
        ).alias("x"),
    )
    parsed = xml.select(
        "event_id", F.from_xml("x", "t STRING, v DOUBLE").alias("p")
    )
    return parsed.select("event_id", "p.t", "p.v")


@query(
    "orders_abc_pareto",
    oracle=f"""
        WITH pv AS (
            SELECT l_partkey,
                   {_sum_money_sql("l_extendedprice * (1 - l_discount)")} AS val
            FROM lineitem GROUP BY l_partkey),
        tot AS (
            SELECT sum(CAST(round(val * 100, 0) AS BIGINT)) AS t_c FROM pv),
        ranked AS (
            SELECT l_partkey, val,
                   CAST(round(val * 100, 0) AS BIGINT) AS val_c,
                   sum(CAST(round(val * 100, 0) AS BIGINT))
                       OVER (ORDER BY val DESC, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run_c
            FROM pv),
        cls AS (
            SELECT l_partkey,
                   CASE WHEN (run_c - val_c) / tot.t_c < 0.8 THEN 'A'
                        WHEN (run_c - val_c) / tot.t_c < 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   val
            FROM ranked CROSS JOIN tot)
        SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
               round(sum(CAST(round(val * 100, 0) AS BIGINT)) / 100.0, 2)
                   AS class_value
        FROM cls GROUP BY abc_class
    """,
)
def q_orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, classed A
    (first 80% of cumulative value), B (to 95%), C (tail) — the
    inventory-analytics standard built on a running-share window. A
    part is classed by the share BEFORE it (run - val), so the part
    that crosses a boundary still belongs to the upper class — the
    textbook convention, identical on both engines because the
    running sum adds exact cents in a (val DESC, partkey) total
    order.

    Plan: one groupBy(partkey) in integer cents (the only
    fact-sized stage), then the DISTRIBUTED running sum over parts
    (`operators/ranking.py`'s range exchange + parallel local
    cumsums + broadcast offsets — never a single-partition window;
    and the running sum itself adds integer CENTS, so partial order
    cannot drift an ulp) and a 3-row class aggregate; the global
    total attaches by broadcast."""
    from hadoop_wordcount_spark.operators.ranking import global_cumsum

    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
    ).withColumn("val_c", F.round(F.col("val") * 100, 0).cast("long"))
    # r13: the per-part rollup feeds both the global total and the
    # distributed running sum — materialize the one fact-sized
    # aggregate instead of running it per consumer.
    pv = materialize(pv)
    tot = pv.agg(F.sum("val_c").alias("t_c"))
    # small_threshold=0: the per-partkey rollup is data-sized (parts
    # scale with SF), so pin the distributed path and skip the probe.
    ranked = global_cumsum(
        pv, [("val", True), ("l_partkey", False)], "val_c", out="run_c",
        small_threshold=0,
    )
    share_before = (F.col("run_c") - F.col("val_c")) / F.col("t_c")
    cls = ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "val",
        F.when(share_before < 0.8, "A")
        .when(share_before < 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            F.sum(F.round(F.col("val") * 100, 0).cast("long")) / 100.0, 2
        ).alias("class_value"),
    )


@query(
    "tpch_q13_like",
    oracle="""
        WITH co AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey)
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM co GROUP BY c_count
    """,
)
def q_tpch_q13_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): the histogram of
    orders-per-customer INCLUDING zero-order customers — the
    double-aggregate over a LEFT OUTER join (count(o_orderkey)
    counts non-null matches, so customers with no orders land in the
    c_count=0 bucket instead of vanishing, the exact trap an INNER
    join would spring).

    Plan: one outer join shuffled on the customer key, a
    per-customer count with map-side partials, then a
    histogram-of-counts aggregate whose group space is the max order
    count — constant-bounded. At 100 TB the only fact-sized stage is
    the join; both aggregates shrink monotonically."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q22_like",
    oracle="""
        WITH avg_bal AS (
            SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
        SELECT substr(c_name, 1, 9) AS name_prefix,
               CAST(count(*) AS BIGINT) AS n_cust,
               round(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0, 2)
                   AS total_bal
        FROM customer CROSS JOIN avg_bal
        WHERE c_acctbal > avg_bal.ab
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY substr(c_name, 1, 9)
    """,
)
def q_tpch_q22_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average account balance who have NEVER ordered — the
    scalar-subquery threshold (average over a filtered scan) feeding
    a NOT EXISTS anti-join, grouped by a name prefix (standing in
    for Q22's phone country code; the schema has no phone column).

    Plan: the 1-row average attaches via crossJoin(broadcast(agg));
    the NOT EXISTS decorrelates to a left-anti join on the customer
    key (Catalyst can flip it to broadcast when the distinct
    order-customer set fits); one prefix-bounded aggregate closes.
    Balance sums go through integer cents. The avg threshold is a
    single double on both engines — comparison-stable because the
    avg is computed over the identical value multiset (DuckDB and
    Spark both use compensated/exact-intermediate summation for
    avg(double) at this scale; hash-green since r01 for the stats
    family)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 1, 9).alias("name_prefix"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _sum_money(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@query(
    "tpch_q8_like",
    oracle="""
        WITH vol AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                        AS BIGINT) AS cents,
                   n2.n_name AS supp_nation
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_2'
                              THEN cents ELSE 0 END) * 1.0 / sum(cents), 6)
                   AS mkt_share
        FROM vol GROUP BY o_year
    """,
)
def q_tpch_q8_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the share of one
    supplier nation's volume inside a region's trade in one part
    type, by order year — the eight-way join with nation in TWO
    roles (customer-side restricts the market to the region;
    supplier-side labels the share target) feeding a conditional-sum
    ratio.

    Plan: part/supplier/customer/nation(x2)/region all broadcast;
    the only fact-sized shuffle is orders⋈lineitem on the order key,
    and the conditional numerator folds into the same partial
    aggregate as the denominator (one pass, map-side combine).
    Group space is |years| — constant. Both volume sums ride integer
    cents so the share ratio divides identical longs on both
    engines. Ref: reference has no joins (SURVEY.md §2.3); this is
    north-star surface."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_regionkey").alias("rk1")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("nk1"))
        .join(F.broadcast(r), F.col("rk1") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("nk2"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("cents"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", F.col("cents"))
                    .otherwise(F.lit(0))
                )
                * 1.0
                / F.sum("cents"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_like",
    oracle="""
        SELECT n_name AS supp_nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               round(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                     - 0.5 * p_retailprice * l_quantity) * 100, 0)
                              AS BIGINT)) / 100.0, 2) AS sum_profit
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
    """,
)
def q_tpch_q9_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per-supplier-nation,
    per-year profit on parts whose name matches a pattern. The
    schema has no partsupp.ps_supplycost, so unit cost is proxied as
    half the part's retail price (deterministic, part-level — the
    same join shape and sign-mixing arithmetic as Q9's
    supplycost*quantity term; documented deviation).

    Plan: part (name-filtered), supplier, and nation broadcast; the
    fact chain shuffles once on the order key as a SHUFFLED HASH
    join built on orders (round 13: the default SMJ sorts the
    lineitem stream — the confirmed alpha~1.7 fact-sort class from
    range_join_lineitem; solo 256x rung read 113 s SMJ vs ~15 s
    class SHJ. Per shuffle partition the orders build side is
    bounded — key+date only, TPC-H-flat keys, AQE-right-sized —
    while the probe stream stays sort-free). The LIKE filter
    reaches the part scan as a pushed StringContains. Profit rides
    integer cents (the 0.5*retailprice*qty term is exact at 3
    decimal digits, so cents-rounding is engine-stable). Group space
    |nations| x |years| — constant."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_sum_money(profit).alias("sum_profit"))
    )


@query(
    "tpch_q17_like",
    oracle="""
        WITH pavg AS (
            SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
            FROM lineitem GROUP BY l_partkey)
        SELECT p_brand,
               round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     / 100.0 / 7.0, 2) AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN pavg ON pavg.l_partkey = lineitem.l_partkey
        WHERE p_brand = 'Brand#23' AND p_size < 15
          AND l_quantity < qty_cut
        GROUP BY p_brand
    """,
)
def q_tpch_q17_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue lost
    to small orders — lines whose quantity is under 20% of the
    part's average order quantity, for one brand (p_size stands in
    for Q17's p_container; the schema has no container column).

    Plan: the correlated scalar subquery decorrelates into a
    per-part average (one groupBy(partkey) with map-side partials)
    joined back to the fact on the part key; the brand filter
    broadcasts from the part dim and ALSO prunes the re-joined
    average via the same key. The 0.2*avg threshold is a fractional
    double compared against integer-valued quantities, so the
    predicate cannot sit on an ulp boundary. Revenue rides integer
    cents; /7.0 happens after the exact sum."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    pavg = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg((0.2 * F.avg("l_quantity")).alias("qty_cut"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pavg, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
                / 100.0
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@query(
    "basket_part_pairs",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
        pc AS (SELECT l_partkey, count(*) AS n FROM op GROUP BY l_partkey),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS n_both
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey)
        SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
               round(n_both * n.n_orders * 1.0 / (ca.n * cb.n), 4) AS lift
        FROM pairs
        JOIN pc ca ON ca.l_partkey = part_a
        JOIN pc cb ON cb.l_partkey = part_b
        CROSS JOIN n
        ORDER BY n_both DESC, part_a, part_b LIMIT 20
    """,
)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same
    order, ranked by support, with the association lift
    P(a,b)/(P(a)P(b)) — the classic affinity-analysis query, run on
    the order/part bipartite projection of lineitem.

    Plan (r13 rewrite): ONE exchange on the fact — groupBy(order)
    with collect_set(part) builds each basket directly (the set dedupes
    like the former DISTINCT projection, guide §2.3 aggregate before
    you shuffle) — then pairs expand JVM-side inside the sorted basket
    array (i < j over a sorted distinct set ≡ the former self-join's
    part_a < part_b), bounded because basket width is bounded (TPC-H
    lineitem is <=7 lines/order; a 100x corpus adds orders, not basket
    width). The former plan shuffled the (order, part) projection
    three more times: DISTINCT, then both sides of a self equi-join on
    the order key. Per-part counts and the global order count now
    derive from the basket table (order-sized, no second fact scan) —
    dimension-sized -> broadcast back onto the pair table. The
    ORDER BY .. LIMIT compiles to TakeOrderedAndProject, so only 20
    rows reach the driver."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = materialize(
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pc = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ps = F.col("ps")
    pairs = (
        baskets.filter(F.size(ps) >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.size(ps) - 1),
                        lambda i: F.transform(
                            F.sequence(i + F.lit(1), F.size(ps)),
                            lambda j: F.struct(
                                F.element_at(ps, i).alias("part_a"),
                                F.element_at(ps, j).alias("part_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
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


@query(
    "orders_forecast_ma",
    oracle=f"""
        WITH m AS (
            SELECT date_trunc('month', o_orderdate) AS mon,
                   {_sum_money_sql("o_totalprice")} AS revenue
            FROM orders GROUP BY 1),
        f AS (
            SELECT mon, revenue,
                   round(avg(revenue) OVER (ORDER BY mon
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 2)
                       AS forecast,
                   count(*) OVER (ORDER BY mon
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n_hist
            FROM m)
        SELECT CAST(strftime(mon, '%Y-%m') AS VARCHAR) AS mon,
               revenue, forecast,
               round(abs(revenue - forecast) / revenue, 4) AS abs_pct_err
        FROM f WHERE n_hist = 3
    """,
)
def q_orders_forecast_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-moving-average forecast with backtest error: each
    month's revenue predicted as the mean of the prior 3 months, and
    the absolute percentage error reported — the baseline every
    demand-forecasting stack is judged against, evaluated entirely
    in-engine (a rolling backtest, not a fit-once model).

    Plan: one month-keyed aggregate (integer cents, map-side
    partials) shrinks the fact table to |months| rows; the trailing
    window then sorts that dimension-sized series only. The frame
    excludes the current row (3 PRECEDING .. 1 PRECEDING), so the
    forecast never leaks the value it predicts; months without 3
    full history rows are dropped by the frame-count guard, not by a
    fragile date literal. The forecast is avg of three
    2-decimal-exact values rounded at 2 — identical on both
    engines."""
    o = _t(spark, sf_dir, "orders")
    # Cached: the sorted-series array and the main branch both read
    # the |months|-row rollup.
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon")).agg(
        _sum_money(F.col("o_totalprice")).alias("revenue")
    ).cache()
    # The trailing frame runs window-free on the dimension-bounded
    # month series: collect the (mon, revenue) series ONCE, sorted
    # ascending (array_sort on the struct orders by mon — unique), and
    # broadcast it; each row slices its last-3-strictly-before months.
    # The fold adds revenues in the same mon-ascending order the
    # window frame did, so the double arithmetic is bit-identical.
    series = m.agg(
        F.array_sort(F.collect_list(F.struct("mon", "revenue"))).alias("_ms")
    )
    prior = F.filter(F.col("_ms"), lambda x: x["mon"] < F.col("mon"))
    win = F.slice(prior, F.greatest(F.size(prior) - 2, F.lit(1)), 3)
    hist_sum = F.aggregate(win, F.lit(0.0), lambda a, x: a + x["revenue"])
    f = m.crossJoin(F.broadcast(series)).select(
        "mon",
        "revenue",
        F.round(hist_sum / F.size(win), 2).alias("forecast"),
        F.size(win).cast("long").alias("n_hist"),
    )
    return f.filter(F.col("n_hist") == 3).select(
        F.date_format("mon", "yyyy-MM").alias("mon"),
        "revenue",
        "forecast",
        F.round(F.abs(F.col("revenue") - F.col("forecast")) / F.col("revenue"), 4)
            .alias("abs_pct_err"),
    )


@query(
    "event_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events GROUP BY event_type),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS ad
            FROM events e JOIN med m USING (event_type)),
        mad AS (
            SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type)
        SELECT d.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(max(d.med), 4) AS med,
               round(max(m2.mad), 4) AS mad,
               CAST(sum(CASE WHEN d.ad > 3 * 1.4826 * m2.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m2 USING (event_type)
        GROUP BY d.event_type
    """,
)
def q_event_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by median absolute deviation: per
    event type, flag values whose absolute deviation from the median
    exceeds 3 robust sigmas (1.4826*MAD) — the outlier gate that
    survives the heavy tails that break mean/stddev z-scores.

    Plan: two exact-median aggregates (median = exact interpolated
    percentile in both engines), each one shuffle keyed on the event
    type; the per-type median/MAD tables are dimension-sized →
    broadcast back onto the value stream; the final flag count is a
    conditional aggregate with map-side partials. At 100 TB exact
    per-group medians are the one genuinely memory-heavy stage
    (sort-based within groups); the engine's `value_percentiles`
    (GK sketch) is the documented approximate fallback when a group
    outgrows a partition."""
    e = _t(spark, sf_dir, "events")
    # r14: checkpoint the two |types|-row median tables — `dev` is
    # referenced by BOTH the MAD aggregate and the final flag count,
    # so a lazy `med` embeds its full events median pass once per
    # reference (guide §5). `dev` itself stays lazy: it is fact-sized
    # and materializing it would be wrong at 100 TB — three events
    # scans is the exact-two-level-median minimum.
    med = materialize(
        e.groupBy("event_type")
        .agg(F.median("value").alias("med"))
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = materialize(
        dev.groupBy("event_type")
        .agg(F.median("ad").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("ad") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@query(
    "discount_elasticity",
    oracle="""
        SELECT p_type,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(covar_samp(l_discount, l_quantity)
                     / var_samp(l_discount), 4) AS slope,
               round(corr(l_discount, l_quantity), 4) AS r,
               round(avg(l_quantity), 4) AS avg_qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_type
    """,
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity by part type: the one-pass least-squares
    slope of quantity on discount (cov/var) with the correlation
    coefficient — in-engine regression via distributive moment
    aggregates, no ML library and no second pass.

    Plan: the part dim broadcasts; covar_samp/var_samp/corr are all
    single-pass distributive moments (sum, sum-of-products), so the
    whole regression is ONE shuffle keyed on p_type with map-side
    partials. Moment aggregates over doubles are the one family
    where engine summation order can drift ulps; at the report's
    4-decimal rounding the drift margin is ~1e9 below the boundary
    (hash-green precedent: `stats_aggregates`, r01)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(
                F.covar_samp("l_discount", "l_quantity")
                / F.var_samp("l_discount"),
                4,
            ).alias("slope"),
            F.round(F.corr("l_discount", "l_quantity"), 4).alias("r"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


@query(
    "tpch_q12_like",
    oracle="""
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                    THEN 'SLOW' ELSE 'FAST' END AS ship_class,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
    """,
)
def q_tpch_q12_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): count
    urgent/high-priority vs other lines per shipping class — the
    conditional CASE-sum split that Q12 runs per shipmode. The
    schema has no l_shipmode/commitdate/receiptdate, so the class is
    derived lateness (ship more than 60 days after order = SLOW),
    preserving Q12's analytical point: does slow shipping correlate
    with priority mix? (documented deviation).

    Plan: one fact-chain shuffle on the order key; the shipdate
    year-window predicate pushes to the lineitem scan; both
    conditional counts fold into ONE partial/final aggregate pass
    over a 2-row group space. Date arithmetic is day-granular
    integer math — identical on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, "SLOW"
            )
            .otherwise("FAST")
            .alias("ship_class"),
            high.alias("high"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(F.col("high"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~F.col("high"), 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
    )


@query(
    "shuffle_hash_join",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     / 100.0, 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
)
def q_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLED HASH join on explicit hint — the join strategy for
    two BIG sides with one comfortably smaller: both sides shuffle
    on the key, but the smaller builds an in-memory hash map per
    partition instead of both sides sort-spilling (SMJ's cost). At
    100 TB this is the right call when the build side's per-partition
    slice fits executor memory and sort order has no downstream
    reuse — the hint pins the strategy so a stats misestimate can't
    silently flip it to SMJ.

    Plan (pinned by test): ShuffledHashJoin, build side = orders
    (the smaller fact), zero sorts below the join. Revenue rides
    integer cents."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            _sum_money(F.col("l_extendedprice")).alias("revenue"),
        )
    )


@query(
    "incremental_agg_maintenance",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mon,
               count(*) AS n_orders,
               {_sum_money_sql("o_totalprice")} AS revenue
        FROM orders GROUP BY 1, 2
    """,
)
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: base state + delta = fresh.

    The per-month revenue rollup is maintained as PARTIAL STATE
    (count + integer-cent sum — both associative and commutative),
    then a delta batch (orders >= 1999-01-01, the "new arrivals") is
    aggregated alone and merged by re-aggregating the union of the
    two partial-state tables. The oracle is the from-scratch rollup
    over everything: maintained == recomputed is exactly the
    algebraic-aggregate contract that makes incremental MV refresh
    sound (the same partial/final split Catalyst plans inside a
    single query, here lifted across batches).

    Scale: the nightly refresh touches ONLY the delta partition plus
    a state table whose size is the group-key cardinality (months —
    tiny), never the historical fact table. avg/stddev maintain the
    same way from (count, sum, sum-of-squares); only true holistic
    aggregates (exact median) force recompute."""
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mon"),
        F.col("o_orderdate"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cutoff = "1999-01-01"
    partial = lambda df: df.groupBy("yr", "mon").agg(  # noqa: E731
        F.count(F.lit(1)).alias("pn"), F.sum("cents").alias("psum")
    )
    # The base/delta split must be EXHAUSTIVE: a NULL o_orderdate
    # fails both `< cutoff` and `>= cutoff`, which would silently drop
    # the row while the from-scratch oracle keeps it — so NULL dates
    # ride in the base branch via coalesce-to-false on the delta test.
    is_delta = F.col("o_orderdate") >= cutoff
    base_state = partial(o.filter(~F.coalesce(is_delta, F.lit(False))))
    delta_state = partial(o.filter(is_delta))
    return (
        base_state.unionByName(delta_state)
        .groupBy("yr", "mon")
        .agg(F.sum("pn").alias("n_orders"), F.sum("psum").alias("cents"))
        .select(
            "yr",
            "mon",
            "n_orders",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        )
    )


@query(
    "redact_digit_runs",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
                   AS n_digit_runs,
               count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g'))
                   AS n_distinct_masked
        FROM events GROUP BY event_type
    """,
)
def q_redact_digit_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction audit: mask digit runs, count what changed.

    The redaction kernel for training corpora — numeric identifiers
    replaced by a mask token — run as pure JVM-side regexp
    expressions (regexp_replace / regexp_extract_all), never a Python
    UDF: per event_type, how many digit runs were masked and how many
    distinct masked shapes remain (the shape census that tells you
    whether a field is free-text or an enum in disguise).

    Scale: per-row projections + one groupBy(event_type); the
    distinct-count is the only memory-bearing agg and its keyspace is
    the masked-pattern space, which masking itself collapses."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), F.lit(0)))
        )
        .cast("long")
        .alias("n_digit_runs"),
        F.countDistinct(
            F.regexp_replace("props", "[0-9]+", "#")
        ).alias("n_distinct_masked"),
    )


# CDC / dimension-history family: the change stream is events
# re-read as a changelog on user_id — signup opens, click/view
# update, error tombstones. ts (+ event_id tiebreak) is the total
# change order both engines replay identically.
_CDC_OP_SQL = """CASE event_type WHEN 'signup' THEN 'I'
                      WHEN 'error' THEN 'D' ELSE 'U' END"""


@query(
    "cdc_apply_changes",
    oracle=f"""
        WITH ch AS (
            SELECT user_id, ts, event_id, value,
                   {_CDC_OP_SQL} AS op
            FROM events),
        last AS (
            SELECT user_id, op, value, n_changes FROM (
                SELECT user_id, op, value,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn,
                       count(*) OVER (PARTITION BY user_id) AS n_changes
                FROM ch) WHERE rn = 1)
        SELECT user_id, round(value, 2) AS last_value,
               CAST(n_changes AS BIGINT) AS n_changes
        FROM last WHERE op <> 'D'
    """,
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply: latest-wins upsert with delete tombstones.

    The MERGE-free way to materialize a snapshot from a change
    stream: one window over (key ORDER BY change-order DESC) keeps
    the newest change per key, and a trailing tombstone ('D') drops
    the key entirely — exactly Delta/Iceberg's `apply_changes` /
    CDF-merge semantics, expressed as rank-1 selection so it needs
    one shuffle on the key, no join against the previous snapshot.

    At 100 TB the nightly variant unions yesterday's snapshot
    (version 0 changes) with today's delta before the same window —
    cost tracks delta + keys, and AQE handles hot keys. The total
    change order (ts, event_id) makes the result layout-independent.
    """
    e = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    w = W.partitionBy("user_id")
    ch = e.select(
        "user_id",
        op.alias("op"),
        "value",
        F.row_number()
        .over(w.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_changes"),
    )
    return (
        ch.filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.round("value", 2).alias("last_value"),
            F.col("n_changes").cast("long").alias("n_changes"),
        )
    )


@query(
    "scd2_dimension",
    oracle="""
        SELECT user_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS version,
               round(value, 2) AS value,
               ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
               (lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
                   AS is_current
        FROM events
    """,
)
def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type 2 build from the change stream.

    Every change opens a dimension version valid [ts, next-change-ts)
    — valid_to comes from LEAD over the per-key change order, the
    open (current) version has valid_to NULL. This is the standard
    warehouse history table built in ONE window pass: no self-join,
    no driver loop, one shuffle on the dimension key; point-in-time
    lookups then join on `valid_from <= t < valid_to` (the range-join
    pattern `range_join_lineitem` already pins).
    """
    e = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.round("value", 2).alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "expectations_report",
    oracle="""
        SELECT 'orders.custkey_refs_customer' AS check_name,
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
                   AS n_violations
        UNION ALL
        SELECT 'documents.doc_id_unique',
               (SELECT CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
                FROM documents)
        UNION ALL
        SELECT 'events.value_non_negative',
               (SELECT count(*) FROM events
                WHERE value IS NULL OR value < 0)
        UNION ALL
        SELECT 'events.event_type_in_enum',
               (SELECT count(*) FROM events
                WHERE event_type NOT IN
                      ('signup', 'click', 'view', 'purchase', 'error'))
        UNION ALL
        SELECT 'documents.n_chars_matches_text',
               (SELECT count(*) FROM documents
                WHERE n_chars <> length(text))
        UNION ALL
        SELECT 'lineitem.discount_in_range',
               (SELECT count(*) FROM lineitem
                WHERE l_discount < 0 OR l_discount > 0.5)
    """,
)
def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations: constraint checks as ONE report.

    The validation gate a pipeline runs before publishing a table —
    referential integrity (orders→customer via LEFT ANTI join, the
    never-broadcast-the-fact shape), key uniqueness, range, enum
    membership, and a derived-column consistency check — each
    reduced to a violation COUNT so the whole suite is a union of
    scalar aggregates. This is the declarative core of
    expectation frameworks (Delta Live Tables expectations, Great
    Expectations) expressed as plain DataFrame ops.

    Scale: ONE pass per checked table (r14; formerly one pass per
    check): a table's checks fold into a single wide aggregate of
    conditional counts — violation counts never prune the scan, so
    two filter+count passes over the same table read it twice for no
    benefit (guide §2.4); the per-table wide row unpivots
    shuffle-free to the report rows. The referential check keeps its
    broadcast LEFT ANTI shape (the one check that needs a second
    relation), and a failed expectation still costs a count, not a
    materialized quarantine copy.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")

    def check(name: str, cnt_df: DataFrame) -> DataFrame:
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    def unpivot(one: DataFrame, names: list[str]) -> DataFrame:
        rows = F.array(
            *[
                F.struct(
                    F.lit(n).alias("check_name"),
                    F.col(f"n__{i}").cast("long").alias("n_violations"),
                )
                for i, n in enumerate(names)
            ]
        )
        return one.select(F.explode(rows).alias("p")).select("p.*")

    ref = check(
        "orders.custkey_refs_customer",
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == c.c_custkey,
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    docs = unpivot(
        d.agg(
            (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("n__0"),
            F.count(
                F.when(F.col("n_chars") != F.length("text"), 1)
            ).alias("n__1"),
        ),
        ["documents.doc_id_unique", "documents.n_chars_matches_text"],
    )
    evs = unpivot(
        e.agg(
            F.count(
                F.when(F.col("value").isNull() | (F.col("value") < 0), 1)
            ).alias("n__0"),
            F.count(
                F.when(
                    ~F.col("event_type").isin(
                        "signup", "click", "view", "purchase", "error"
                    ),
                    1,
                )
            ).alias("n__1"),
        ),
        ["events.value_non_negative", "events.event_type_in_enum"],
    )
    disc = check(
        "lineitem.discount_in_range",
        li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    return ref.unionByName(docs).unionByName(evs).unionByName(disc)


# Module-level handle so tests can read the metrics the last
# q_observed_scan action fired (Observation objects are one-shot and
# scoped to a single query execution).
LAST_OBSERVATION = None


@query(
    "observed_scan",
    oracle="""
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang, source
    """,
)
def q_observed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe()` — pipeline metrics riding the query.

    A CollectMetrics node attached to the scan accumulates row and
    byte counts AS THE QUERY RUNS (no second pass, no extra action):
    the production-monitoring hook (Delta Live Tables event metrics,
    Structured Streaming's observe API) that lets an ingest job
    publish throughput/volume counters for free. The observed
    DataFrame is unchanged — the query result is the per-(lang,
    source) rollup; `tests` assert the fired metrics agree with the
    rollup's totals.

    Scale: observe() is a per-partition accumulator merged on the
    driver — constant overhead per task, no shuffle, no skew
    surface."""
    global LAST_OBSERVATION
    from pyspark.sql import Observation

    d = _t(spark, sf_dir, "documents")
    obs = Observation()
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum("n_chars").cast("long").alias("chars_scanned"),
    )
    LAST_OBSERVATION = obs
    return observed.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


@query(
    "surrogate_keys",
    oracle="""
        WITH existing AS (
            SELECT c_custkey, c_name, c_custkey AS sk
            FROM customer WHERE c_custkey < 1000),
        mx AS (SELECT max(sk) AS mx FROM existing),
        incoming AS (
            SELECT c_custkey, c_name,
                   mx.mx + row_number() OVER (ORDER BY c_name, c_custkey) AS sk
            FROM customer CROSS JOIN mx WHERE c_custkey >= 1000)
        SELECT c_custkey, c_name, CAST(sk AS BIGINT) AS sk, 'existing' AS origin
        FROM existing
        UNION ALL
        SELECT c_custkey, c_name, CAST(sk AS BIGINT) AS sk, 'assigned' AS origin
        FROM incoming
    """,
)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key assignment — the incremental
    dimension load. New members (business keys not yet in the
    dimension — staged here as custkey >= 1000) receive
    max(existing_sk) + global_row_number over the business-key order.

    The point is what this does NOT use: `monotonically_increasing_id`
    (layout-dependent — different cluster, different ids) and
    unpartitioned row_number windows (single-task sort). The rank
    comes from `operators/ranking.py`'s size-adaptive recipe, so the
    assignment is bit-identical on any cluster AND parallel past the
    threshold; max(existing) attaches as a broadcast scalar.

    At 100 TB: the existing dimension never re-keys (stability is the
    whole contract), the incoming batch pays one range exchange —
    cost tracks the DELTA, exactly like `incremental_agg_maintenance`.
    """
    from hadoop_wordcount_spark.operators.ranking import global_row_number

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    existing = c.filter(F.col("c_custkey") < 1000).select(
        "c_custkey",
        "c_name",
        F.col("c_custkey").cast("long").alias("sk"),
        F.lit("existing").alias("origin"),
    )
    # r14: the 1-row max-key scalar is re-embedded in the assigned
    # branch's plan — checkpoint it so the existing-dimension scan
    # behind it runs once, not once per reference (guide §5).
    mx = materialize(existing.agg(F.max("sk").alias("mx")))
    # small_threshold=0 pins the DISTRIBUTED rank: an incoming
    # dimension delta is data-sized by contract (it scales with the
    # batch, never a fixed bound), so the bounded demo path can never
    # be the 100 TB plan — and skipping the cache+count size probe
    # removes two driver-visible jobs per call (the r06 bench measured
    # the probe at ~2x on this query; r6 verdict "what's wrong" #2).
    incoming = global_row_number(
        c.filter(F.col("c_custkey") >= 1000),
        [("c_name", False), ("c_custkey", False)],
        out="rn",
        small_threshold=0,
    )
    assigned = incoming.crossJoin(F.broadcast(mx)).select(
        "c_custkey",
        "c_name",
        (F.col("mx") + F.col("rn")).cast("long").alias("sk"),
        F.lit("assigned").alias("origin"),
    )
    return existing.unionByName(assigned)


@query(
    "ab_test_conversion",
    oracle="""
        WITH arm AS (
            SELECT user_id,
                   (list_reduce(list_transform(
                        string_split_regex(
                            substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15),
                            ''),
                        c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                        (a, d) -> a * 16 + d) % 2) AS arm,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
                   max(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
                       > min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
                       AS converted
            FROM events GROUP BY user_id)
        SELECT arm,
               count(*) AS n_users,
               CAST(sum(CASE WHEN viewed = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_viewed,
               CAST(sum(CASE WHEN viewed = 1 AND converted THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted,
               round(sum(CASE WHEN viewed = 1 AND converted THEN 1 ELSE 0 END)
                     * 1.0
                     / greatest(sum(CASE WHEN viewed = 1 THEN 1 ELSE 0 END), 1),
                     4) AS conv_rate
        FROM arm GROUP BY arm
    """,
)
def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with DETERMINISTIC arm assignment.

    Arm = md5-fold(user_id) mod 2 — the same pure-integer membership
    discipline as `dataset_split`/`weighted_sample_bernoulli`, which
    is exactly how real experiment frameworks bucket users (stable
    under re-runs, joins, and cluster layout; no RNG state anywhere).
    Conversion = a purchase strictly after the user's first view,
    computed from per-user min/max epoch aggregates — one shuffle on
    user_id, no ordering window needed. Per arm: exposure,
    conversions, rate.

    Scale: one user-key aggregation + a 2-row rollup; the integer
    epoch comparison (`lag_event_gap`'s ns discipline) keeps the
    after-first-view rule tz-free and engine-exact.
    """
    e = _t(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = e.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "viewed"
        ),
        (
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts_ns")))
            > F.min(F.when(F.col("event_type") == "view", F.col("ts_ns")))
        ).alias("converted"),
    )
    return per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("viewed") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_viewed"),
        F.sum(F.when((F.col("viewed") == 1) & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.round(
            F.sum(
                F.when((F.col("viewed") == 1) & F.col("converted"), 1).otherwise(0)
            )
            / F.greatest(
                F.sum(F.when(F.col("viewed") == 1, 1).otherwise(0)), F.lit(1)
            ),
            4,
        ).alias("conv_rate"),
    )


@query(
    "peak_concurrency",
    oracle="""
        WITH t AS (
            SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        gaps AS (
            SELECT user_id, event_id, us,
                   CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sess AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id,
                   us
            FROM gaps),
        iv AS (
            SELECT user_id, session_id, min(us) AS s, max(us) + 1 AS e
            FROM sess GROUP BY user_id, session_id),
        pts AS (
            SELECT s AS us, 1 AS delta, user_id, session_id FROM iv
            UNION ALL
            SELECT e AS us, -1 AS delta, user_id, session_id FROM iv),
        sweep AS (
            SELECT us, delta,
                   sum(delta) OVER (ORDER BY us, delta, user_id, session_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS live
            FROM pts)
        SELECT CAST(max(live) AS BIGINT) AS peak_concurrent,
               CAST(min(CASE WHEN live = (SELECT max(live) FROM sweep)
                             THEN us END) // 1000000 AS BIGINT) AS first_peak_s,
               (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_sessions
        FROM sweep
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions — the interval sweep-line, distributed.

    Sessions (batch_sessionize's lag-gap rule, half-open [start,
    end+1) in microseconds) become +1/-1 boundary points; the running
    sum over the global (us, delta, user, session) order is the live
    concurrency curve, and its max + first argmax time is the
    capacity-planning headline. The global running sum uses
    `operators/ranking.py`'s size-adaptive cumsum — past the
    threshold the sweep is range-partitioned and parallel, never a
    one-task sort (deltas are +-1 integers, so partial order cannot
    drift anything).

    Scale: one user-key shuffle for sessionization, one boundary
    table at 2 rows/session, one distributed cumsum over it — every
    stage bounded by session count, not event count.
    """
    from hadoop_wordcount_spark.operators.ranking import global_cumsum

    e = _t(spark, sf_dir, "events").withColumn("us", F.expr("ts_ns div 1000"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_session = F.when(
        (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
        | F.lag("us").over(w).isNull(),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Materialize the interval table once (r13): the boundary union
    # reads it twice and the session count a third time — without
    # this the two-window sessionization pipeline executed three
    # times (plan read 793 lines / 80 Exchanges). Session-count-sized
    # by construction, the table this sweep-line exists to shrink to.
    iv = materialize(
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("s"), (F.max("us") + 1).alias("e"))
    )
    pts = iv.select(
        F.col("s").alias("us"), F.lit(1).alias("delta"), "user_id", "session_id"
    ).unionByName(
        iv.select(
            F.col("e").alias("us"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_id",
        )
    )
    # small_threshold=0: boundary points are 2x sessions — data-sized
    # — so pin the distributed path and skip the probe.
    sweep = global_cumsum(
        pts,
        [("us", False), ("delta", False), ("user_id", False), ("session_id", False)],
        "delta",
        out="live",
        small_threshold=0,
    ).cache()
    peak = sweep.agg(F.max("live").alias("peak"))
    first = (
        sweep.join(F.broadcast(peak), sweep.live == peak.peak)
        .agg(F.min("us").alias("first_us"))
    )
    n_sess = iv.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        peak.crossJoin(F.broadcast(first))
        .crossJoin(F.broadcast(n_sess))
        .select(
            F.col("peak").cast("long").alias("peak_concurrent"),
            F.floor(F.col("first_us") / 1_000_000)
            .cast("long")
            .alias("first_peak_s"),
            F.col("n_sessions").cast("long").alias("n_sessions"),
        )
    )


@query(
    "null_semantics_audit",
    oracle="""
        WITH sub AS (SELECT nullif(c_nationkey, 13) AS k FROM customer),
        probe AS (SELECT o_orderkey, o_custkey % 25 AS x FROM orders)
        SELECT (SELECT count(*) FROM probe) AS n_probe,
               (SELECT count(*) FROM probe
                WHERE x NOT IN (SELECT k FROM sub)) AS not_in_count,
               (SELECT count(*) FROM probe p
                WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = p.x))
                   AS not_exists_count,
               (SELECT count(*) FROM probe p
                WHERE NOT EXISTS (SELECT 1 FROM sub s
                                  WHERE s.k IS NOT DISTINCT FROM p.x))
                   AS null_safe_count
    """,
)
def q_null_semantics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic audit: NOT IN vs NOT EXISTS vs null-safe.

    The classic silent-wrong-answer trap, pinned as a query: the
    subquery's key set contains a NULL (nationkey 13 nulled out), so
    `x NOT IN (subquery)` returns ZERO rows — each comparison against
    NULL is UNKNOWN and poisons the conjunction — while `NOT EXISTS`
    with an equality predicate treats the NULL as never-matching and
    returns the true anti-set, and the null-safe variant
    (`<=>` / IS NOT DISTINCT FROM) additionally lets a NULL probe
    match the NULL member. All three counts in one row; both engines
    implement the identical ANSI semantics, which is exactly what
    this query proves.

    Plan note: Spark compiles the NOT IN into a null-aware anti join
    (BroadcastHashJoin ... NAAJ) — the expensive-but-correct physical
    strategy the trap forces, visible in the explain output.
    """
    from hadoop_wordcount_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        WITH sub AS (SELECT nullif(c_nationkey, 13) AS k FROM customer),
        probe AS (SELECT o_orderkey, o_custkey % 25 AS x FROM orders)
        SELECT (SELECT count(*) FROM probe) AS n_probe,
               (SELECT count(*) FROM probe
                WHERE x NOT IN (SELECT k FROM sub)) AS not_in_count,
               (SELECT count(*) FROM probe p
                WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = p.x))
                   AS not_exists_count,
               (SELECT count(*) FROM probe p
                WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k <=> p.x))
                   AS null_safe_count
    """)


@query(
    "snapshot_diff_report",
    oracle=f"""
        WITH a AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   count(*) AS n,
                   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
            GROUP BY 1),
        b AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   count(*) AS n,
                   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
            FROM orders GROUP BY 1)
        SELECT COALESCE(a.yr, b.yr) AS yr,
               COALESCE(b.n, 0) - COALESCE(a.n, 0) AS added_orders,
               round((COALESCE(b.cents, 0) - COALESCE(a.cents, 0)) / 100.0, 2)
                   AS revenue_delta
        FROM a FULL OUTER JOIN b ON a.yr = b.yr
    """,
)
def q_snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot diff — the time-travel audit, predicate
    form. Two snapshot states (as-of 2000-01-01 vs current) reduce to
    partial aggregates per year, then one FULL OUTER join of two
    TINY agg tables yields per-year added rows and revenue delta —
    the report a lakehouse `VERSION AS OF` diff produces, computed
    without reading either snapshot twice (the deltas come from the
    aggregates, integer cents throughout). With a real Delta/Iceberg
    runtime (env-gated here, `sources/lakehouse.py`) the same shape
    reads two snapshot ids; the predicate form is the portable twin.

    Scale: both states aggregate map-side to |years| rows before the
    join; the diff never materializes row-level differences.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderdate"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    agg = lambda df: df.groupBy("yr").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    )
    a = agg(o.filter(F.col("o_orderdate") < "2000-01-01")).select(
        "yr", F.col("n").alias("na"), F.col("cents").alias("ca")
    )
    b = agg(o).select("yr", F.col("n").alias("nb"), F.col("cents").alias("cb"))
    return a.join(b, "yr", "full_outer").select(
        "yr",
        (F.coalesce("nb", F.lit(0)) - F.coalesce("na", F.lit(0))).alias(
            "added_orders"
        ),
        F.round(
            (F.coalesce("cb", F.lit(0)) - F.coalesce("ca", F.lit(0))) / 100.0, 2
        ).alias("revenue_delta"),
    )


@query(
    "aqe_skew_join",
    oracle=f"""
        SELECT p.p_brand,
               count(*) AS n_rows,
               {_sum_money_sql("l.l_extendedprice")} AS revenue
        FROM lineitem l JOIN part p
          ON p.p_partkey = CASE WHEN l.l_partkey % 5 < 3
                                THEN 1 ELSE l.l_partkey END
        GROUP BY p.p_brand
    """,
)
def q_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact-dim shuffle join left to ADAPTIVE skew handling:
    ~60% of lineitem rows collapse onto one hot join key (partkey 1),
    the classic hot-partition shape, and the plan pins the
    shuffle-merge path (`hint("merge")`) WITHOUT hand-salting — at
    cluster scale AQE's OptimizeSkewedJoin detects the oversized
    partition at runtime and splits it across reducers, each split
    joining a duplicated copy of the matching dim rows. This is the
    mechanism a 1000-executor job actually relies on for unforeseen
    skew; `skew_salted_join` is the explicit always-works twin for
    when the skew is known in advance. Correctness is
    AQE-independent (the oracle is the plain join), and
    `tests/test_plan_quality.py::test_aqe_skew_join_split_fires`
    executes this query under test-scale skew thresholds and asserts
    the AQE-rewritten join carries `skew=true`."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    hot = F.when(F.col("l_partkey") % 5 < 3, F.lit(1)).otherwise(
        F.col("l_partkey")
    )
    fact = li.select(hot.alias("k"), "l_extendedprice")
    return (
        fact.join(p.hint("merge"), fact["k"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_money(F.col("l_extendedprice")).alias("revenue"),
        )
    )


@query(
    "tpch_q1_like",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(round(l_quantity, 0) AS BIGINT))
                    AS BIGINT) AS sum_qty,
               round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     / 100.0, 2) AS sum_base_price,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                    * 10000, 0) AS BIGINT))
                     / 10000.0, 2) AS sum_disc_price,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                    * (1 + l_tax) * 1000000, 0) AS BIGINT))
                     / 1000000.0, 2) AS sum_charge,
               round(sum(CAST(round(l_quantity, 0) AS BIGINT))
                     / count(*), 4) AS avg_qty,
               round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     / 100.0 / count(*), 4) AS avg_price,
               round(sum(CAST(round(l_discount * 100, 0) AS BIGINT))
                     / 100.0 / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1, exact semantics (pricing summary report): per
    (returnflag, linestatus), the full aggregate battery — sum of
    quantity / base price / discounted price / charge, the three
    averages, and the row count — over everything shipped up to a
    cutoff near the end of the data. The canonical query's cutoff is
    "90 days before the last shipdate"; this corpus ships 1995-01 ..
    2001-11, so the cutoff is DATE '2001-09-01' (same ~90-day lead,
    fixed literal so both engines see the identical constant). The
    r6 verdict noted the `agg_multi` family was Q1-SHAPED but the
    suite carried no labeled Q1 — this closes the crosswalk
    (COVERAGE.md "TPC-H crosswalk").

    Plan: the suite's purest map-side-combine test after Q6 — scan
    with the shipdate predicate pushed, partial agg per partition
    over a 4-group key space (so the exchange moves ~4 rows per
    partition), single final agg. At 100 TB this is THE shape AQE
    cannot improve and codegen fully fuses: one pass, no joins, tiny
    shuffle.

    Engine parity: every money product is exact at <= 6 decimals
    (price 2 + discount 2 + tax 2), so each sum rides an integer
    scale (cents / ten-thousandths / millionths as BIGINT) and
    divides back once; averages derive from those integer sums over
    count(*), so no engine-order double drift anywhere (the repo's
    `_sum_money` discipline, DEVNOTES.md decision 1). The millionths ride
    bounds at ~2^37 per row — a 100 TB per-group sum stays inside
    BIGINT headroom (~2^63) through ~2^25 rows per partial-agg slot
    and the final agg adds at most shuffle.partitions terms per
    group; for a corpus where a single group exceeds that, widen the
    ride to DECIMAL(38, 6) — semantics unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.filter(F.col("l_shipdate") <= "2001-09-01")
    qty_l = F.round(F.col("l_quantity"), 0).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_c = F.round(F.col("l_discount") * 100, 0).cast("long")
    disc_price_tt = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    charge_mil = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000,
        0,
    ).cast("long")
    n = F.count(F.lit(1))
    return (
        sel.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_l).alias("sum_qty"),
            F.round(F.sum(price_c) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(disc_price_tt) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.sum(charge_mil) / 1000000.0, 2).alias("sum_charge"),
            F.round(F.sum(qty_l) / n, 4).alias("avg_qty"),
            F.round(F.sum(price_c) / 100.0 / n, 4).alias("avg_price"),
            F.round(F.sum(disc_c) / 100.0 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "tpch_q6_like",
    oracle="""
        SELECT round(sum(CAST(round(l_extendedprice * l_discount * 10000, 0)
                              AS BIGINT)) / 10000.0, 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= DATE '1994-01-01'
          AND l_shipdate < DATE '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def q_tpch_q6_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the pure scan-predicate
    aggregate — one year of shipments, a discount band, small
    quantities, summed revenue delta. The simplest query in the suite
    and the purest pushdown test: every predicate must reach the
    parquet scan as a PushedFilter and the plan is scan → partial agg
    → single-row final agg, zero joins, zero wide shuffles.

    Engine parity: l_extendedprice (2 dec) * l_discount (2 dec) is
    exact at 4 decimals, so the sum rides integer ten-thousandths
    (x10000 as BIGINT — bounded by ~2^50 at 100 TB row counts) and
    divides back once at the end; both engines round identically."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.round(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0)
                .cast("long")
            )
            / 10000.0,
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q20_like",
    oracle="""
        WITH part_tot AS (
            SELECT l_partkey, sum(l_quantity) AS tot_qty
            FROM lineitem GROUP BY l_partkey),
        dominant AS (
            SELECT l.l_suppkey
            FROM lineitem l JOIN part_tot t USING (l_partkey)
            GROUP BY l.l_suppkey, l.l_partkey, t.tot_qty
            HAVING sum(l.l_quantity) > 0.5 * t.tot_qty)
        SELECT s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
        ORDER BY s.s_name
    """,
)
def q_tpch_q20_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who
    dominate a part's supply — shipped more than half of some part's
    total shipped quantity — named with their nation. The schema has
    no partsupp/availqty, so the nested-aggregate threshold runs on
    shipped quantities; the SHAPE is Q20's: an aggregate subquery
    feeding a second HAVING-filtered aggregate, collapsed into the
    outer query through a semi-join chain.

    Plan: per-part totals (one groupBy, map-side partials) join back
    to the fact on the part key (the decorrelated correlated
    subquery); the HAVING filter reduces to a distinct supplier set
    that LEFT SEMI joins the supplier dim — the dim never duplicates
    however many parts a supplier dominates. Nation attaches
    broadcast. Quantities are integer-valued doubles; 0.5*tot is
    exact binary arithmetic — no ulp boundary."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    part_tot = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("tot_qty")
    )
    dominant = (
        li.join(part_tot, li.l_partkey == F.col("pk"))
        .groupBy("l_suppkey", "l_partkey", "tot_qty")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 0.5 * F.col("tot_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@query(
    "tpch_q21_like",
    oracle="""
        WITH late AS (
            SELECT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
            GROUP BY l.l_orderkey, l.l_suppkey)
        SELECT s.s_name,
               count(*) AS numwait
        FROM late l1
        JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        WHERE EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
                SELECT 1 FROM late l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 20
    """,
)
def q_tpch_q21_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per
    (order, supplier), a shipment later than 90 days after the order
    date is "late"; count, per supplier, the multi-supplier orders
    where that supplier was the ONLY late one. The schema has no
    commit/receipt dates, so lateness derives from
    shipdate - orderdate; the SHAPE is Q21's signature: one EXISTS
    and one NOT EXISTS, both correlated on the outer row with a
    supplier-inequality — the hardest decorrelation pattern in the
    suite.

    Plan: EXISTS plans as LEFT SEMI and NOT EXISTS as LEFT ANTI, both
    equi-joins on l_orderkey with the <> as a join residual — never a
    per-row subquery. The late set is pre-deduplicated to
    (order, supplier) grain so multi-line lateness can't double-count
    a wait; the supplier dim broadcasts; the final top-20 is a
    TakeOrderedAndProject k-heap."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .cache()  # read three times: outer, and both correlated sides
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("ok3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "priority_price_quantiles",
    oracle="""
        WITH r AS (
            SELECT o_orderpriority AS pri,
                   strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
                   o_totalprice,
                   cume_dist() OVER (PARTITION BY o_orderpriority,
                                     date_trunc('month', o_orderdate)
                                     ORDER BY o_totalprice) AS cd,
                   percent_rank() OVER (PARTITION BY o_orderpriority,
                                        date_trunc('month', o_orderdate)
                                        ORDER BY o_totalprice) AS pr
            FROM orders)
        SELECT pri, mon,
               count(*) AS n_orders,
               min(CASE WHEN cd >= 0.5 THEN o_totalprice END) AS p50,
               min(CASE WHEN cd >= 0.9 THEN o_totalprice END) AS p90,
               max(CASE WHEN pr <= 0.25 THEN o_totalprice END) AS q1_max
        FROM r GROUP BY pri, mon
    """,
)
def q_priority_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-cohort price quantiles via the two DISTRIBUTION
    window functions (cume_dist, percent_rank) — the registry's other
    rank functions (row_number/rank/dense_rank/ntile/lag/lead) all
    have entries; these two complete the SQL window-function surface.
    Per (priority, order-month) cohort: exact p50/p90 as the smallest
    price whose cumulative distribution reaches the target, and the
    bottom-quartile max by percent_rank.

    Plan: ONE shuffle on the cohort key, a per-cohort sort, then the
    group-by collapses cohorts — the window partition key is
    deliberately (priority x month), hundreds of bounded cells that
    parallelize, never PARTITION BY priority alone (5 giant
    single-task sorts at 100 TB) and never an unpartitioned window.
    Exact-by-construction where approx_percentile is not; ties and
    single-row cohorts (percent_rank = 0) follow identical SQL
    semantics in both engines, and prices are exact 2-decimal
    doubles."""
    o = _t(spark, sf_dir, "orders")
    mon = F.date_trunc("month", "o_orderdate")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        mon.alias("mon_ts"),
        "o_totalprice",
    )
    w = Window.partitionBy("pri", "mon_ts").orderBy("o_totalprice")
    r = base.select(
        "pri",
        "mon_ts",
        "o_totalprice",
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )
    return r.groupBy("pri", "mon_ts").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.when(F.col("cd") >= 0.5, F.col("o_totalprice"))).alias("p50"),
        F.min(F.when(F.col("cd") >= 0.9, F.col("o_totalprice"))).alias("p90"),
        F.max(F.when(F.col("pr") <= 0.25, F.col("o_totalprice"))).alias("q1_max"),
    ).select(
        "pri",
        F.date_format("mon_ts", "yyyy-MM").alias("mon"),
        "n_orders",
        "p50",
        "p90",
        "q1_max",
    )


@query(
    "orders_cohort_retention",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   min(date_trunc('month', o_orderdate)) AS cohort
            FROM orders GROUP BY o_custkey),
        activity AS (
            SELECT DISTINCT o.o_custkey, f.cohort,
                   datediff('month', f.cohort,
                            date_trunc('month', o.o_orderdate)) AS months_since
            FROM orders o JOIN firsts f USING (o_custkey)),
        sizes AS (
            SELECT cohort, count(*) AS cohort_size FROM firsts GROUP BY cohort)
        SELECT strftime(a.cohort, '%Y-%m') AS cohort,
               CAST(a.months_since AS BIGINT) AS months_since,
               count(*) AS n_active,
               max(s.cohort_size) AS cohort_size,
               round(count(*) * 1.0 / max(s.cohort_size), 4) AS retention
        FROM activity a JOIN sizes s USING (cohort)
        WHERE a.months_since <= 6
        GROUP BY a.cohort, a.months_since
    """,
)
def q_orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order
    month, tracked for 6 months — the (cohort x months-since) active
    share every growth/retention dashboard is built on.

    Plan: first-order month per customer is one groupBy(custkey) min
    (map-side partials); it joins back onto orders keyed on custkey —
    at 100 TB both sides shuffle once on the SAME key, and months_since
    derives row-local. The DISTINCT collapses to (customer, month)
    grain before counting so a customer ordering twice in a month
    counts once, and cohort sizes attach from the firsts table —
    |cohorts| rows, broadcast. Output is a bounded matrix
    (|months| x 7), retention an exact integer-count ratio rounded
    at 4."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    mon = F.date_trunc("month", "o_orderdate")
    firsts = o.groupBy("o_custkey").agg(F.min(mon).alias("cohort")).cache()
    activity = (
        o.join(firsts, "o_custkey")
        .select(
            "o_custkey",
            "cohort",
            F.months_between(mon, F.col("cohort")).cast("long").alias("months_since"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        activity.filter(F.col("months_since") <= 6)
        .join(F.broadcast(sizes), "cohort")
        .groupBy("cohort", "months_since")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.max("cohort_size").alias("cohort_size"),
        )
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort"),
            "months_since",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
    )


@query(
    "lateral_topn_orders",
    oracle="""
        WITH r AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey)
                       AS rn
            FROM orders)
        SELECT c.c_custkey, c.c_name, r.o_orderkey, r.o_totalprice
        FROM customer c JOIN r ON r.o_custkey = c.c_custkey
        WHERE r.rn <= 2
    """,
)
def q_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: each
    customer's top-2 orders — the SQL:2016 lateral-join surface
    (every "top-N related rows per outer row" ask). The oracle states
    the equivalent window form; the interesting part is the PLAN:
    Catalyst decorrelates the per-customer LIMIT into a
    WindowGroupLimit above one shuffle plus a broadcast join — never
    the naive nested-loop re-execution per outer row
    (`tests/test_plan_quality.py::test_lateral_topn_decorrelates`
    pins NestedLoop out and WindowGroupLimit in). At 100 TB that is
    the difference between one pass over orders and |customers|
    query executions."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """)


@query(
    "sql_udf_pricing",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n_lines,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                              AS BIGINT)) / 100.0, 2) AS disc_total,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                    * 100, 0) AS BIGINT)) / 100.0, 2) AS charged_total
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (Spark 4 CREATE FUNCTION ... RETURN expr):
    the pricing formulas live as named catalog functions
    (disc_price, charged_price) and the query calls them like
    built-ins — the governed-semantics layer warehouses standardize
    on (one definition of "charged price", not N copies of the
    expression). Because the body is a SQL expression, Catalyst
    INLINES it: the plan is identical to writing the arithmetic
    in-place — whole-stage codegen, partial aggregation, no
    black-box function-call barrier (the opposite of a Python UDF).
    Integer-cents sums keep both engines bit-identical."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_price(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    return spark.sql("""
        SELECT l_returnflag,
               count(*) AS n_lines,
               round(sum(CAST(round(disc_price(l_extendedprice, l_discount) * 100, 0)
                              AS BIGINT)) / CAST(100 AS DOUBLE), 2) AS disc_total,
               round(sum(CAST(round(charged_price(l_extendedprice, l_discount, l_tax)
                                    * 100, 0) AS BIGINT)) / CAST(100 AS DOUBLE), 2)
                   AS charged_total
        FROM lineitem GROUP BY l_returnflag
    """)


@query(
    "sql_pivot_clause",
    oracle="""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
                   AS open_n,
               round(sum(CASE WHEN o_orderstatus = 'O'
                              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              ELSE 0 END) / 100.0, 2) AS open_total,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
                   AS finished_n,
               round(sum(CASE WHEN o_orderstatus = 'F'
                              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              ELSE 0 END) / 100.0, 2) AS finished_total,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
                   AS pending_n,
               round(sum(CASE WHEN o_orderstatus = 'P'
                              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              ELSE 0 END) / 100.0, 2) AS pending_total
        FROM orders GROUP BY o_orderpriority
    """,
)
def q_sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (vs `pivot_status`'s DataFrame pivot):
    order counts AND integer-cents revenue per (priority x status)
    cell, two aggregates per pivot column in one pass. Catalyst
    compiles PIVOT to exactly the conditional-aggregation plan the
    oracle states — one shuffle on the group key, map-side partials,
    fixed output width (the IN list is explicit, so no driver-side
    distinct-value discovery pass at 100 TB)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders)
        PIVOT (count(*) AS n, round(sum(cents) / 100.0, 2) AS total
               FOR o_orderstatus IN ('O' AS open, 'F' AS finished, 'P' AS pending))
    """).select(
        "o_orderpriority",
        F.coalesce("open_n", F.lit(0)).alias("open_n"),
        F.coalesce("open_total", F.lit(0.0)).alias("open_total"),
        F.coalesce("finished_n", F.lit(0)).alias("finished_n"),
        F.coalesce("finished_total", F.lit(0.0)).alias("finished_total"),
        F.coalesce("pending_n", F.lit(0)).alias("pending_n"),
        F.coalesce("pending_total", F.lit(0.0)).alias("pending_total"),
    )


@query(
    "interval_overlap_pairs",
    oracle="""
        WITH iv AS (
            SELECT event_id, event_type,
                   epoch_ns(ts) // 1000 AS s,
                   epoch_ns(ts) // 1000
                       + CAST(round(value * 60000000, 0) AS BIGINT) AS e
            FROM events)
        SELECT a.event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
                   AS overlap_us,
               CAST(max(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
                   AS max_overlap_us
        FROM iv a JOIN iv b
          ON a.event_type = b.event_type AND a.event_id < b.event_id
         AND a.s < b.e AND b.s < a.e
        GROUP BY a.event_type
    """,
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed interval self-join: concurrent same-type event
    pairs. Each event is an activity interval [start, start +
    value-minutes); the report counts overlapping pairs per type with
    total and max overlap — the concurrency-audit twin of
    `peak_concurrency`'s sweep-line (that one counts HOW MANY run at
    once; this one enumerates WHICH pairs collide and for how long).

    The non-equi overlap predicate (a.s < b.e AND b.s < a.e) has no
    hash key, so the naive plan is a per-type cross join — quadratic.
    The distributed recipe: explode each interval into the 1-hour
    buckets it spans, equi-join on (type, bucket) so candidates are
    bucket collisions only, then keep a pair ONLY in the bucket
    containing its overlap start — the standard dedup-FREE interval
    join (no distinct shuffle; each true pair survives in exactly one
    bucket). Candidates scale with sum-of-bucket-occupancy^2, i.e.
    with actual temporal density, never with |events|^2; the bucket
    width is the tuning knob (match it to median interval length).
    The oracle states the naive non-equi join — correct at sf, the
    quadratic form this plan exists to avoid."""
    H = 3_600_000_000  # 1-hour buckets, microseconds
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("s"),
        (
            F.expr("ts_ns div 1000")
            + F.round(F.col("value") * 60_000_000, 0).cast("long")
        ).alias("e"),
    )
    iv = e.withColumn(
        "bucket",
        F.explode(F.sequence(F.expr(f"s div {H}"), F.expr(f"e div {H}"))),
    )
    a, b = iv.alias("a"), iv.alias("b")
    ov_start = F.greatest(F.col("a.s"), F.col("b.s"))
    ov_end = F.least(F.col("a.e"), F.col("b.e"))
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("a.s") < F.col("b.e"))
        & (F.col("b.s") < F.col("a.e")),
    ).filter(F.expr(f"a.bucket = (greatest(a.s, b.s) div {H})"))
    pairs = pairs.withColumn("ov_us", ov_end - ov_start)
    return pairs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ov_us").alias("overlap_us"),
        F.max("ov_us").alias("max_overlap_us"),
    )


@query(
    "interval_overlap_skew",
    oracle="""
        WITH iv AS (
            SELECT event_id, event_type,
                   epoch_ns(ts) // 1000 AS s,
                   epoch_ns(ts) // 1000
                       + CAST(round(value * 60000000, 0) AS BIGINT) AS e
            FROM events)
        SELECT a.event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
                   AS overlap_us,
               CAST(max(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
                   AS max_overlap_us
        FROM iv a JOIN iv b
          ON a.event_type = b.event_type AND a.event_id < b.event_id
         AND a.s < b.e AND b.s < a.e
        GROUP BY a.event_type
    """,
)
def q_interval_overlap_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened interval self-join: the same concurrent-pair
    relation as `interval_overlap_pairs`, computed in the HOT-KEY
    regime. `interval_overlap_pairs` equi-joins on (type, 1-hour
    bucket); its per-task work is occupancy² of the hottest bucket,
    and AQE's skew split cannot always save it — OptimizeSkewedJoin
    splits oversized shuffle PARTITIONS, but a single pathological
    key (one bucket holding 10-100x the median, the flash-crowd /
    boilerplate-timestamp shape) still lands its whole candidate
    square on however many task slices cover one partition. This
    variant makes the hot-key case structural: 1-DAY buckets (so
    per-bucket occupancy is ~24x the hourly plan's — genuine planted
    skew at any SF) tamed by pair-preserving SALTING:

    * side A carries salt = crc32(event_id) % S,
    * side B explodes all S salt values,
    * the join adds salt equality.

    Every unordered pair (x, y) with x.id < y.id matches in EXACTLY
    one (bucket, salt) cell — the cell where salt = x's salt — so the
    relation is unchanged (the oracle is the naive non-equi join,
    identical to `interval_overlap_pairs`'s), while the hottest
    cell's candidate count drops from m² to m²/S: max-task work is
    bounded by the salt factor, the knob you turn when occupancy
    spikes. S = 8 here; at 100 TB size S ~ hot-occupancy /
    target-task-rows. Replication cost is S on the exploded side
    ONLY for rows in the joined projection (id, type, s, e — ~40
    bytes), the standard skew-salting trade. Cross-check:
    `tests/test_round7_fixes.py` plants one bucket at >= 10x median
    occupancy and asserts the salted cells stay bounded while the
    output matches the unsalted plan row-for-row."""
    S = 8  # salt factor: hottest-cell candidates = occupancy^2 / S
    D = 86_400_000_000  # 1-day buckets, microseconds
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("s"),
        (
            F.expr("ts_ns div 1000")
            + F.round(F.col("value") * 60_000_000, 0).cast("long")
        ).alias("e"),
    )
    iv = e.withColumn(
        "bucket",
        F.explode(F.sequence(F.expr(f"s div {D}"), F.expr(f"e div {D}"))),
    )
    # crc32 of the id decouples the salt from any id-ordering pattern
    # (event_id % S would put a strided id range all in one cell).
    a = iv.withColumn(
        "salt", (F.crc32(F.col("event_id").cast("string")) % S).cast("int")
    ).alias("a")
    b = iv.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    ).withColumn("salt", F.col("salt").cast("int")).alias("b")
    ov_start = F.greatest(F.col("a.s"), F.col("b.s"))
    ov_end = F.least(F.col("a.e"), F.col("b.e"))
    # SHUFFLED HASH hint, built on the UNEXPLODED A side (round 13;
    # was hint("merge")). The hint exists because Catalyst's size
    # estimate can BROADCAST the 8x-exploded B side at mid scales
    # (measured: the 4x scale probe ran 3x slower than 16x because 4x
    # sat under the broadcast estimate) — but merge bought that
    # no-broadcast guarantee by SORTING both shuffled streams,
    # including the 8x-exploded B side (~2B rows at the 256x rung:
    # the fact-sort spill class, solo alpha 1.36, 33.5 -> 220.3 s).
    # SHJ keeps the mandatory shuffle on (type, bucket, salt), builds
    # the per-task hash from A only — per cell that is occupancy/S
    # rows, exactly the quantity the salting design bounds — and
    # streams B sort-free. Solo post-fix: 35.5/87.3 s at 64/256x
    # (alpha 0.65 — the linear-by-construction days x occupancy^2
    # profile, scan-dominated at these occupancies).
    pairs = a.hint("shuffle_hash").join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("a.s") < F.col("b.e"))
        & (F.col("b.s") < F.col("a.e")),
    ).filter(F.expr(f"a.bucket = (greatest(a.s, b.s) div {D})"))
    pairs = pairs.withColumn("ov_us", ov_end - ov_start)
    return pairs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ov_us").alias("overlap_us"),
        F.max("ov_us").alias("max_overlap_us"),
    )


@query(
    "interval_event_lookup",
    oracle="""
        WITH t AS (
            SELECT event_type, user_id,
                   epoch_ns(ts) // 1000 AS us,
                   (epoch_ns(ts) // 1000) // 86400000000 AS day
            FROM events),
        wins AS (
            SELECT event_type AS win_type, day AS wday,
                   min(us) AS w_s, max(us) + 1 AS w_e
            FROM t GROUP BY event_type, day)
        SELECT w.win_type, f.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users
        FROM t f JOIN wins w
          ON f.day = w.wday AND f.event_type <> w.win_type
         AND f.us >= w.w_s AND f.us < w.w_e
        GROUP BY w.win_type, f.event_type
    """,
)
def q_interval_event_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-interval-dimension lookup join: for each event type's
    daily active window [first event, last event], count how many
    events of every OTHER type (and distinct users) land inside it —
    the calendar-window / IP-range-lookup join shape.

    Scale design: the dimension (|types| x |days| windows) stays tiny
    at any corpus size, so it BROADCASTS; the join key is the coarse
    equi-key (day) with the range containment as a residual filter —
    Catalyst plans a broadcast HASH join on day, never the
    BroadcastNestedLoopJoin a bare non-equi predicate would force.
    One pass over the fact table, no fact shuffle before the
    aggregate. This is the canonical pattern for any
    point-in-interval enrichment at 100 TB: coarse-bucket equi-key +
    residual range predicate + broadcast dimension."""
    t = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.expr("ts_ns div 1000").alias("us"),
        F.expr("(ts_ns div 1000) div 86400000000").alias("day"),
    )
    wins = t.groupBy(
        F.col("event_type").alias("win_type"), F.col("day").alias("wday")
    ).agg(
        F.min("us").alias("w_s"), (F.max("us") + 1).alias("w_e")
    )
    j = t.join(
        F.broadcast(wins),
        (F.col("day") == F.col("wday"))
        & (F.col("event_type") != F.col("win_type"))
        & (F.col("us") >= F.col("w_s"))
        & (F.col("us") < F.col("w_e")),
    )
    return j.groupBy("win_type", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "mode_median_by_type",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(round(value, 0) AS BIGINT) AS b,
                   count(*) AS cnt
            FROM events GROUP BY event_type, b),
        r AS (
            SELECT event_type, b AS mode_bucket, cnt,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cnt DESC, b) AS rn
            FROM c),
        m AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 3) AS median_value,
                   count(*) AS n
            FROM events GROUP BY event_type)
        SELECT m.event_type, r.mode_bucket,
               CAST(r.cnt AS BIGINT) AS mode_n,
               m.median_value,
               CAST(m.n AS BIGINT) AS n
        FROM m JOIN r ON m.event_type = r.event_type AND r.rn = 1
    """,
)
def q_mode_median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-tendency report per event type: deterministic MODE of
    the rounded value (ties broken toward the smallest bucket — mode
    without a tie rule is nondeterministic across engines, the reason
    Spark's own `mode()` is unusable for cross-engine parity) plus
    the exact interpolated median and group count.

    Plan: the mode is a two-level aggregation — count per (type,
    bucket), then a map-side struct-argmax per type: max(struct(cnt,
    -bucket)) picks the highest count and the smallest bucket on
    ties, with NO window sort over the counts. The median branch is
    one `percentile` pass; the two 5-row branches broadcast-join on
    type. Both stages are partial-aggregating shuffles on keys with
    |types| x |buckets| cardinality — never a global sort."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type", F.round("value", 0).cast("long").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    mode = counts.groupBy("event_type").agg(
        F.max(F.struct(F.col("cnt"), (-F.col("b")).alias("nb"))).alias("mx")
    ).select(
        "event_type",
        (-F.col("mx.nb")).alias("mode_bucket"),
        F.col("mx.cnt").alias("mode_n"),
    )
    med = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 3).alias("median_value"),
        F.count(F.lit(1)).alias("n"),
    )
    return med.join(F.broadcast(mode), "event_type").select(
        "event_type", "mode_bucket", "mode_n", "median_value", "n"
    )


@query(
    "try_arithmetic_audit",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_div_null,
               CAST(sum(CAST(round(value / NULLIF(event_id % 7, 0) * 1000, 0)
                             AS BIGINT)) AS BIGINT) AS safe_milli_sum,
               CAST(sum(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_parsed
        FROM events GROUP BY event_type
    """,
)
def q_try_arithmetic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling: the `try_*` function family. Spark 4
    runs ANSI mode by default, where division by zero and malformed
    casts are RUNTIME ERRORS — one dirty row kills a 100 TB job at
    hour three. `try_divide` / `try_cast` return NULL instead,
    turning per-row failures into auditable data: this report counts,
    per event type, the divide-by-zero rows (event_id % 7 == 0), the
    surviving safe-division sum (milli-units, integer), and how many
    mixed-content strings parsed as ints (numeric strings parse; the
    type names never do). The oracle states the same semantics with
    NULLIF/CASE — the portable definition of what try_* computes.
    Everything stays in whole-stage codegen: try_* are JVM
    expressions, not UDFs."""
    e = _t(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 3 == 0, F.col("event_type")
    ).otherwise(F.col("event_id").cast("string"))
    safe_div = F.expr("try_divide(value, event_id % 7)")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(safe_div.isNull(), 1).otherwise(0)).alias("n_div_null"),
        F.sum(F.round(safe_div * 1000, 0).cast("long")).alias("safe_milli_sum"),
        F.sum(
            F.when(mixed.try_cast("int").isNotNull(), 1).otherwise(0)
        ).alias("n_parsed"),
    )


@query(
    "collated_word_groups",
    oracle="""
        WITH w AS (
            SELECT word FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
            WHERE word <> '' AND regexp_matches(word, '^[A-Za-z]+$'))
        SELECT lower(min(word)) AS grp,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT word) AS BIGINT) AS n_case_variants
        FROM w GROUP BY lower(word)
    """,
)
def q_collated_word_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): alphabetic
    tokens grouped under UTF8_LCASE — 'The', 'THE' and 'the' fold
    into one group at COMPARISON level, without rewriting the data
    through lower(). Collations matter at 100 TB because they push
    into the ENGINE: a collated groupBy hashes/compares with the
    collation inside codegen, composes with every aggregate, and —
    unlike wrapping every reference in lower() — keeps the original
    column usable in the same pass (min(word) here is the BINARY
    min over the original strings, computed beside the collated
    key). Output is keyed by lower(min(word)) so the result itself
    is collation-free and portable; the oracle is the classic
    lower()-rewrite stating identical semantics."""
    from hadoop_wordcount_spark.operators.wordcount import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tokens_col(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[A-Za-z]+$"))
    collated = words.select(
        "word", F.collate(F.col("word"), "UTF8_LCASE").alias("k")
    )
    return collated.groupBy("k").agg(
        F.lower(F.min("word")).alias("grp"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("word").alias("n_case_variants"),
    ).drop("k")


@query(
    "parameterized_sql_lookup",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
                   AS total
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01'
        GROUP BY o_orderpriority
    """,
)
def q_parameterized_sql_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4): named parameter markers plus the
    IDENTIFIER() clause — the injection-safe template surface. The
    table name binds through IDENTIFIER(:tbl) (identifiers cannot be
    value parameters; this clause is the sanctioned dynamic-table
    path, the SQL-injection fix for f-string query assembly) and the
    cutoff binds as a typed DATE parameter, not interpolated text.
    Catalyst sees fully-bound literals at analysis time, so pruning
    and pushdown are identical to the static query — the oracle IS
    the static form."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    import datetime

    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     / CAST(100 AS DOUBLE), 2) AS total
        FROM IDENTIFIER(:tbl)
        WHERE o_orderdate >= :cutoff
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "cutoff": datetime.date(1996, 1, 1)},
    )


@query(
    "sql_listagg_nation_top",
    oracle="""
        WITH ranked AS (
            SELECT n.n_name, c.c_name, c.c_acctbal,
                   row_number() OVER (
                       PARTITION BY n.n_name
                       ORDER BY c.c_acctbal DESC, c.c_name
                   ) AS rk
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
        SELECT n_name,
               string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name)
                   AS top_customers,
               CAST(count(*) AS BIGINT) AS n_listed
        FROM ranked WHERE rk <= 5
        GROUP BY n_name ORDER BY n_name
    """,
)
def q_sql_listagg_nation_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (Spark 4.0's new ordered string
    aggregation) over a top-k-per-group cut: each nation's 5
    highest-balance customers as one ordered CSV cell — the
    denormalized report/export shape (one row per dim key, the
    detail folded in). The WITHIN GROUP order makes the cell
    deterministic — an unordered collect_list + concat would be
    partition-order-dependent and hash-unstable.

    Scale: the rank <= 5 cut plans as WindowGroupLimit (map-side
    k-heaps before the nation shuffle), so listagg aggregates at
    most 5 short strings per group — cell width is BOUNDED by
    construction; never listagg an unbounded group at 100 TB (a
    single cell must fit in one row buffer). DuckDB twin:
    string_agg(expr, sep ORDER BY ...)."""
    from hadoop_wordcount_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "nation"))
    return spark.sql("""
        WITH ranked AS (
            SELECT n.n_name, c.c_name, c.c_acctbal,
                   row_number() OVER (
                       PARTITION BY n.n_name
                       ORDER BY c.c_acctbal DESC, c.c_name
                   ) AS rk
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
        SELECT n_name,
               listagg(c_name, ',')
                   WITHIN GROUP (ORDER BY c_acctbal DESC, c_name)
                   AS top_customers,
               CAST(count(*) AS BIGINT) AS n_listed
        FROM ranked WHERE rk <= 5
        GROUP BY n_name ORDER BY n_name
    """)


@query(
    "sql_group_by_all_report",
    oracle="""
        SELECT o_orderpriority,
               year(o_orderdate) AS order_year,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     / 100.0, 2) AS total
        FROM orders
        GROUP BY o_orderpriority, year(o_orderdate)
        ORDER BY o_orderpriority, order_year
    """,
)
def q_sql_group_by_all_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4 dialect): the analyst
    shorthand that derives the grouping set from the non-aggregate
    select items — so adding a dimension to the SELECT list cannot
    silently desynchronize from a hand-maintained GROUP BY clause
    (the classic copy-paste bug in wide rollups). Catalyst expands it
    to the explicit form at analysis time; the oracle IS that
    explicit form, proving the expansion picks exactly the
    non-aggregate items. Money rides integer cents per the repo
    discipline."""
    from hadoop_wordcount_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderpriority,
               year(o_orderdate) AS order_year,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     / 100e0, 2) AS total
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """)


@query(
    "events_ohlc_hourly",
    oracle="""
        WITH t AS (
            SELECT event_type,
                   epoch_ns(ts) AS ns,
                   (epoch_ns(ts) // 1000) // 3600000000 AS hour_bucket,
                   round(value, 3) AS v
            FROM events)
        SELECT event_type,
               CAST(hour_bucket AS BIGINT) AS hour_bucket,
               arg_min(v, ns) AS open,
               round(max(v), 3) AS high,
               round(min(v), 3) AS low,
               arg_max(v, ns) AS close,
               CAST(count(*) AS BIGINT) AS n_events
        FROM t GROUP BY event_type, hour_bucket
        HAVING count(*) >= 3
    """,
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (event_type, hour),
    the opening value (earliest event), high, low, close (latest) and
    the bar's event count — the resample step every metrics/trading
    pipeline runs before charting or modeling, keeping bars with >= 3
    points. open/close use min_by/max_by (Spark) == arg_min/arg_max
    (DuckDB) keyed on the event-time nanos; the fixture guarantees
    (event_type, ts_ns) is UNIQUE (pinned for every SF in
    tests/test_round7_fixes.py), which makes the argmin/argmax row
    well-defined in both engines — the production contract is an
    ingestion sequence number as the total order.

    Scale: single groupBy with map-side partial min_by/max_by (each
    partial carries one (value, key) pair per group — constant state,
    same as min/max), one shuffle on (type, hour), no window, no
    join. Values are rounded to the table's 3-decimal precision
    BEFORE aggregation so the selected extrema cannot straddle an
    engine ulp."""
    e = _t(spark, sf_dir, "events")
    v = F.round(F.col("value"), 3)
    b = e.select(
        "event_type",
        F.col("ts_ns").alias("ns"),
        F.expr("(ts_ns div 1000) div 3600000000").alias("hour_bucket"),
        v.alias("v"),
    )
    return (
        b.groupBy("event_type", "hour_bucket")
        .agg(
            F.min_by("v", "ns").alias("open"),
            F.round(F.max("v"), 3).alias("high"),
            F.round(F.min("v"), 3).alias("low"),
            F.max_by("v", "ns").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") >= 3)
    )


@query(
    "orders_priority_transpose",
    oracle="""
        WITH agg AS (
            SELECT o_orderpriority,
                   CAST(count(*) AS DOUBLE) AS n_orders,
                   round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                         / 100.0, 2) AS total
            FROM orders GROUP BY o_orderpriority)
        SELECT 'n_orders' AS key,
               sum(n_orders) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
               sum(n_orders) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
               sum(n_orders) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
               sum(n_orders) FILTER (o_orderpriority = '4-NOT SPECIFIED')
                   AS "4-NOT SPECIFIED",
               sum(n_orders) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
        FROM agg
        UNION ALL
        SELECT 'total',
               sum(total) FILTER (o_orderpriority = '1-URGENT'),
               sum(total) FILTER (o_orderpriority = '2-HIGH'),
               sum(total) FILTER (o_orderpriority = '3-MEDIUM'),
               sum(total) FILTER (o_orderpriority = '4-NOT SPECIFIED'),
               sum(total) FILTER (o_orderpriority = '5-LOW')
        FROM agg
    """,
)
def q_orders_priority_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (new in Spark 4.0): flip a tall per-priority
    aggregate into the metrics-as-rows / priorities-as-columns layout
    a report or spreadsheet expects — the index column's VALUES become
    the output columns (sorted), each remaining column becomes one
    row keyed by its name. The oracle hand-builds the identical
    transposed relation with conditional aggregates, pinning both the
    cell values and the derived column names.

    Scale: transpose collects the frame to derive the output schema —
    by contract it is a DIMENSION-SIZED operation (here 5 rows x 3
    cols from a first-stage aggregate); the corpus-sized work is the
    upstream groupBy. Never transpose a fact table — the column count
    IS the row count. Metrics are cast to a uniform DOUBLE up front:
    transpose requires one least-common type across melted columns,
    so mixing raw longs and doubles would otherwise widen
    implicitly."""
    o = _t(spark, sf_dir, "orders")
    agg = (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                / 100.0,
                2,
            ).alias("total"),
        )
        .orderBy("o_orderpriority")
    )
    return agg.transpose()


@query(
    "sql_unpivot_clause",
    oracle="""
        SELECT o_orderpriority, 'open_n' AS metric,
               CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS v
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT o_orderpriority, 'finished_n',
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT)
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT o_orderpriority, 'pending_n',
               CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT)
        FROM orders GROUP BY o_orderpriority
    """,
)
def q_sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNPIVOT clause (the dialect twin of `unpivot_status`'s
    DataFrame melt, completing the PIVOT/UNPIVOT SQL pair with
    `sql_pivot_clause`): widen per-status counts into columns with a
    conditional aggregate, then melt them back to (priority, metric,
    v) rows — the round-trip every BI export/import pipeline runs.
    Catalyst plans UNPIVOT as Expand (each input row emits one row
    per melted column) — a projection, not a shuffle; the only
    exchange is the upstream groupBy."""
    from hadoop_wordcount_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        WITH wide AS (
            SELECT o_orderpriority,
                   CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS open_n,
                   CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS finished_n,
                   CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS pending_n
            FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, metric, v
        FROM wide UNPIVOT (v FOR metric IN (open_n, finished_n, pending_n))
    """)


@query(
    "bitmap_exact_distinct",
    oracle="""
        SELECT o_orderpriority AS priority,
               count(DISTINCT o_custkey) AS n_distinct_cust,
               count(*) AS n_orders
        FROM orders GROUP BY 1
        UNION ALL
        SELECT 'ALL', count(DISTINCT o_custkey), count(*) FROM orders
    """,
)
def q_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5
    `bitmap_bucket_number` / `bitmap_bit_position` /
    `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`).

    The scalable exact-COUNT(DISTINCT) design: each key id maps to
    (bucket = id >> 15, bit = id & 32767); per (group, bucket) a
    4 KB fixed-size bitmap absorbs every id in one partial+final
    agg — the classic roaring-style decomposition. Distinct count =
    sum over buckets of popcount. Two merge levels shown here:
    per-priority counts sum bucket popcounts directly (a custkey
    lands in exactly one bucket), while the ALL row first ORs the
    per-priority bitmaps bucket-wise (`bitmap_or_agg`) so customers
    appearing under several priorities are not double-counted —
    bitmap OR is the union semantic COUNT(DISTINCT) needs.

    Scale: a plain COUNT(DISTINCT key) GROUP BY g shuffles every
    (g, key) pair; this shuffles at most one 4 KB bitmap per
    (g, bucket) cell after map-side combine — cardinality-bounded,
    not row-bounded, and the merge is embarrassingly associative.
    Exactness costs nothing here (unlike HLL/theta estimates in
    `approx_distinct_words` / `sketch_theta_source_overlap`); the
    trade is that ids must be integral and bounded (64-bit here —
    bucket count tracks the id domain actually populated).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "bitmap_orders"
    )
    return spark.sql("""
        WITH b AS (
            SELECT o_orderpriority AS priority,
                   bitmap_bucket_number(o_custkey) AS bkt,
                   bitmap_construct_agg(bitmap_bit_position(o_custkey))
                       AS bm,
                   count(*) AS n
            FROM bitmap_orders GROUP BY 1, 2),
        per AS (
            SELECT priority,
                   CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_distinct_cust,
                   CAST(sum(n) AS BIGINT) AS n_orders
            FROM b GROUP BY priority),
        glob AS (
            SELECT 'ALL' AS priority,
                   CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_distinct_cust,
                   CAST(sum(n) AS BIGINT) AS n_orders
            FROM (SELECT bkt, bitmap_or_agg(bm) AS bm, sum(n) AS n
                  FROM b GROUP BY bkt))
        SELECT * FROM per UNION ALL SELECT * FROM glob
    """)


@query(
    "user_engagement_ewma",
    oracle="""
        WITH per AS (
            SELECT user_id,
                   list(value ORDER BY ts, event_id) AS vs
            FROM events GROUP BY user_id)
        SELECT user_id, len(vs) AS n_events,
               round(list_reduce(vs, (acc, x) -> 0.75 * acc + 0.25 * x),
                     6) AS ewma
        FROM per
    """,
)
def q_user_engagement_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value
    (alpha = 0.25, seeded with the first observation) — the decayed
    engagement score every activity ranker keeps per entity.

    The fold runs as an in-engine array reduction: one shuffle to
    (user), `sort_array` over (ts_ns, event_id, value) structs for a
    deterministic tie-broken event order, then `F.aggregate` folds
    acc*0.75 + x*0.25 left-to-right. Both engines execute the
    identical IEEE double sequence (DuckDB `list_reduce` seeds with
    the first element exactly like the slice(2..)+element_at(1)
    form), so the oracle matches to the last rounded digit.

    Scale: per-key state is the user's own event list — bounded by
    per-entity activity, not corpus size (max 86 events/user here).
    For genuinely unbounded keys the EWMA recurrence is LINEAR, so a
    segment folds to a (multiplier, offset) = (0.75^k, partial) pair
    and segments compose associatively — i.e., it partial-aggregates
    map-side like any algebraic agg; `streaming_stateful_counter` is
    the incremental form of the same shape. The array fold is the
    right plan while per-key cardinality is memory-bounded, and it
    keeps the whole operator inside Tungsten codegen (zero Python).
    """
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts_ns", "event_id", "value"))
        ).alias("seq")
    )
    vs = F.transform(F.col("seq"), lambda s: s["value"])
    per = per.select(
        "user_id",
        F.size("seq").alias("n_events"),
        F.round(
            F.aggregate(
                F.slice(vs, 2, F.size("seq") - 1),
                F.element_at(vs, 1),
                lambda acc, x: acc * 0.75 + x * 0.25,
            ),
            6,
        ).alias("ewma"),
    )
    return per


@query(
    "sql_scripting_threshold_report",
    oracle="""
        WITH t AS (
            SELECT CAST(round(
                       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       / count(*), 0) AS BIGINT) AS thr
            FROM orders)
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_above,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     / 100.0, 2) AS revenue_above,
               thr / 100.0 AS threshold
        FROM orders, t
        WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > thr
        GROUP BY o_orderpriority, thr
    """,
)
def q_sql_scripting_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 BEGIN…END) + session variables
    (DECLARE / SET): compute a data-driven scalar into a variable,
    then report against it — the procedural compute-then-use shape
    that stored-procedure migrations arrive with. The last statement
    of the compound is the script's result relation.

    The variable holds the mean order price in EXACT integer cents
    (the repo's rounding discipline — an inexact double threshold
    would make borderline `>` comparisons engine-dependent); the
    oracle is the same logic as one static CTE, which is also the
    honest performance note: a script executes its statements
    SEQUENTIALLY (the SET runs a separate scalar job before the main
    query plans), so at 100 TB prefer the scalar-subquery form when
    one optimizer pass can see the whole plan — scripting buys
    control flow, not speed. Catalyst still optimizes each statement
    fully; the threshold arrives as a bound literal, so pushdown in
    the final SELECT matches the static query.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_script_v")
    return spark.sql(
        """
        BEGIN
          DECLARE thr BIGINT;
          SET thr = (SELECT CAST(round(
                         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                         / count(*), 0) AS BIGINT)
                     FROM orders_script_v);
          SELECT o_orderpriority,
                 count(*) AS n_above,
                 round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       / CAST(100 AS DOUBLE), 2) AS revenue_above,
                 thr / CAST(100 AS DOUBLE) AS threshold
          FROM orders_script_v
          WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > thr
          GROUP BY o_orderpriority;
        END
        """
    )


@query(
    "event_csv_roundtrip",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE contains(props, ','))
                    AS BIGINT) AS n_quoted,
               CAST(count(*) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    """,
)
def q_event_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scalar codecs (`to_csv` / `from_csv`) — the fourth and last
    embedded-record serialization surface next to JSON
    (event_props_json), VARIANT (event_props_variant) and XML
    (event_xml_roundtrip): serialize (event_id, event_type, props,
    mills) to one CSV line per event, parse it back with an explicit
    DDL schema, and audit fidelity per type. The interesting rows are
    `n_quoted`: props is a JSON string full of commas and quotes, so
    to_csv must quote/escape it and from_csv must undo both — the
    audit counts a row as exact only if every parsed field equals its
    source (the oracle claims n_exact = n; one mangled quote breaks
    the hash). Value travels as exact integer mills so float
    formatting round-trips losslessly.

    Plan: two codegen'd projections (StructsToCsv, CsvToStructs) and
    one partial+final agg — shuffle carries |types| rows. At 100 TB
    this is the cheap path for CSV-embedded columns in logs;
    schema_of_csv covers inference on a sampled row when the layout
    is unknown (not used here: production parses with pinned DDL).
    """
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "props",
        F.round(F.col("value") * 1000, 0).cast("long").alias("mills"),
    )
    line = F.to_csv(F.struct("event_id", "event_type", "props", "mills"))
    parsed = e.select(
        "event_id", "event_type", "props", "mills", line.alias("line")
    ).select(
        "event_id",
        "event_type",
        "props",
        "mills",
        F.from_csv(
            F.col("line"),
            F.lit("event_id BIGINT, event_type STRING, props STRING, mills BIGINT"),
        ).alias("p"),
    )
    exact = (
        (F.col("p.event_id") == F.col("event_id"))
        & (F.col("p.event_type") == F.col("event_type"))
        & (F.col("p.props") == F.col("props"))
        & (F.col("p.mills") == F.col("mills"))
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("props").contains(",").cast("long")).alias("n_quoted"),
        F.sum(exact.cast("long")).alias("n_exact"),
    )


@query(
    "event_value_autocorr",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bkt,
                   avg(value) AS v
            FROM events GROUP BY event_type, date_trunc('hour', ts)),
        lagged AS (
            SELECT event_type, v,
                   lag(v)    OVER (PARTITION BY event_type ORDER BY bkt)
                       AS v1,
                   lag(v, 2) OVER (PARTITION BY event_type ORDER BY bkt)
                       AS v2
            FROM hourly)
        SELECT event_type,
               CAST(count(*) AS BIGINT)    AS n_buckets,
               round(corr(v, v1), 4)       AS ac1,
               round(corr(v, v2), 4)       AS ac2
        FROM lagged GROUP BY event_type
    """,
)
def q_event_value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/lag-2 autocorrelation of the hourly mean `value` series
    per event type — the standard time-series diagnostic (is the
    metric momentum-driven or white noise?) that anomaly detectors
    and forecasters (`orders_forecast_ma`, `event_anomaly_mad`) need
    before choosing a model. Pearson corr of the series against its
    own lag over aligned hourly buckets; the first k rows of each
    series drop out as NULL lag pairs, matching the textbook ACF
    denominator-(n-k) variant both engines implement via corr().

    Plan: one (event_type, hour) partial+final agg collapses the
    fact table to a bounded series (<= types x hours rows), THEN the
    window lag and the corr agg run on the collapsed series — the
    window never sees fact-grain data, so the single-partition-risk
    of `ORDER BY bkt` applies to ~9k rows/type-year, not 100 TB of
    events. At scale: the hourly rollup is the only big shuffle
    (map-side combined); everything after is dimension-sized. Longer
    lags or daily grains are parameter swaps on the same plan.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("bkt"))
        .agg(F.avg("value").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("bkt")
    lagged = hourly.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
    )
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.corr("v", "v1"), 4).alias("ac1"),
        F.round(F.corr("v", "v2"), 4).alias("ac2"),
    )


@query(
    "orders_seasonality_index",
    oracle="""
        WITH monthly AS (
            SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                   sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                       AS rev_cents
            FROM orders GROUP BY 1, 2),
        mom AS (
            SELECT mo, sum(rev_cents) AS tot_cents, count(*) AS n_years
            FROM monthly GROUP BY mo),
        g AS (SELECT avg(tot_cents * 1.0 / n_years) AS grand FROM mom)
        SELECT mo AS month,
               CAST(n_years AS BIGINT)             AS n_years,
               CAST(tot_cents AS BIGINT)           AS total_rev_cents,
               round((tot_cents * 1.0 / n_years) / grand, 4)
                   AS seasonality_index
        FROM mom, g
    """,
)
def q_orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index — classical multiplicative
    seasonal decomposition's seasonal factor: average revenue of each
    calendar month across years, divided by the grand mean of those
    12 averages. Demand planners read index > 1 as a peak month;
    `orders_forecast_ma` smooths the trend, this extracts the
    seasonal shape the smoother removes.

    Money is integer-scaled to cents before any aggregation (the
    `tpch_q1_like` exactness pattern) so every quantity up to the
    final index division is exact integer arithmetic — double-sum
    order divergence at a .xx5 rounding boundary broke the penny
    column's oracle compare at sf0.001 before this; totals are
    published in exact cents instead of a rounded average.

    Plan: fact-grain (year, month) partial+final agg (the only big
    shuffle, map-side combined to <= years x 12 rows), then a 12-row
    month agg, then the 1-row grand mean broadcast back as a literal
    join — no window, no second fact pass. At 100 TB: one shuffle of
    ~96 rows of partials per task; the index table is
    dimension-sized by construction. Weekly or daily indices are a
    grain swap on the same plan."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(cents).alias("rev_cents"))
    mom = monthly.groupBy("mo").agg(
        F.sum("rev_cents").alias("tot_cents"),
        F.count(F.lit(1)).alias("n_years"),
    )
    grand = mom.agg(
        F.avg(F.col("tot_cents") / F.col("n_years")).alias("grand")
    )
    return mom.crossJoin(F.broadcast(grand)).select(
        F.col("mo").alias("month"),
        F.col("n_years").cast("long").alias("n_years"),
        F.col("tot_cents").cast("long").alias("total_rev_cents"),
        F.round(
            (F.col("tot_cents") / F.col("n_years")) / F.col("grand"), 4
        ).alias("seasonality_index"),
    )


@query(
    "value_ks_drift",
    oracle="""
        WITH binned AS (
            SELECT event_type,
                   least(CAST(floor(value / 5.0) AS BIGINT), 99) AS bin,
                   CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END   AS we
            FROM events),
        cells AS (
            SELECT event_type, bin,
                   sum(1 - we) AS n_wd, sum(we) AS n_we
            FROM binned GROUP BY event_type, bin),
        cum AS (
            SELECT event_type,
                   sum(n_wd) OVER w AS c_wd,
                   sum(n_we) OVER w AS c_we,
                   sum(n_wd) OVER (PARTITION BY event_type) AS t_wd,
                   sum(n_we) OVER (PARTITION BY event_type) AS t_we
            FROM cells
            WINDOW w AS (PARTITION BY event_type ORDER BY bin))
        SELECT event_type,
               CAST(max(t_wd) AS BIGINT) AS n_weekday,
               CAST(max(t_we) AS BIGINT) AS n_weekend,
               round(max(abs(c_wd * 1.0 / t_wd - c_we * 1.0 / t_we)), 4)
                   AS ks_stat
        FROM cum GROUP BY event_type
    """,
)
def q_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the
    weekday and weekend `value` distributions per event type — the
    standard distribution-shift gate a training pipeline runs before
    mixing data from two regimes (here a deterministic calendar
    split; in production last-month vs this-month). KS = max gap
    between the two empirical CDFs, computed on a fixed 100-bin grid
    (width 5, clamped at 99) so the statistic is exact on binned
    values and every quantity is integer arithmetic until the final
    division — bit-identical across engines.

    Plan: fact rows collapse to <= types x 100 cells in ONE
    partial+final agg (the only fact-grain shuffle); the CDF cumsums
    run as windows over the bounded cell table (its re-shuffle to
    event_type moves <= types x 100 rows — dimension-sized), and the
    max-gap agg reuses that partitioning with no further exchange.
    At 100 TB the plan is scan + one shuffle of
    ~100 rows/type of partials — the refinement knob (more bins) only
    grows the bounded table. isodow is weekday(ts)+1, pinned
    identical to DuckDB's isodow in tests."""
    e = load_table(spark, sf_dir, "events")
    binned = e.select(
        "event_type",
        F.least(F.floor(F.col("value") / 5.0).cast("long"), F.lit(99)).alias(
            "bin"
        ),
        (F.expr("weekday(ts) + 1") >= 6).cast("long").alias("we"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.sum(1 - F.col("we")).alias("n_wd"), F.sum("we").alias("n_we")
    )
    w = Window.partitionBy("event_type").orderBy("bin")
    tot = Window.partitionBy("event_type")
    cum = cells.select(
        "event_type",
        F.sum("n_wd").over(w).alias("c_wd"),
        F.sum("n_we").over(w).alias("c_we"),
        F.sum("n_wd").over(tot).alias("t_wd"),
        F.sum("n_we").over(tot).alias("t_we"),
    )
    return cum.groupBy("event_type").agg(
        F.max("t_wd").cast("long").alias("n_weekday"),
        F.max("t_we").cast("long").alias("n_weekend"),
        F.round(
            F.max(
                F.abs(
                    F.col("c_wd") / F.col("t_wd")
                    - F.col("c_we") / F.col("t_we")
                )
            ),
            4,
        ).alias("ks_stat"),
    )


@query(
    "orders_repeat_survival",
    oracle="""
        WITH gaps AS (
            SELECT date_diff('day', o_orderdate,
                       lead(o_orderdate) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)) AS gap
            FROM orders),
        binned AS (
            SELECT least(CAST(floor(gap / 30.0) AS BIGINT), 12) AS gap_bucket
            FROM gaps WHERE gap IS NOT NULL),
        cells AS (
            SELECT gap_bucket, count(*) AS n_gaps
            FROM binned GROUP BY gap_bucket),
        cum AS (
            SELECT gap_bucket, n_gaps,
                   sum(n_gaps) OVER (ORDER BY gap_bucket) AS c,
                   sum(n_gaps) OVER ()                    AS t
            FROM cells)
        SELECT gap_bucket,
               CAST(n_gaps AS BIGINT)        AS n_gaps,
               round(1.0 - c * 1.0 / t, 4)   AS survival_frac
        FROM cum
    """,
)
def q_orders_repeat_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase survival curve — the Kaplan-Meier-flavored
    retention table: distribution of day-gaps between a customer's
    consecutive orders, binned to 30-day buckets (clamped at 12 =
    'a year or more'), with survival_frac = share of inter-order
    gaps LONGER than the bucket's upper edge. Retention modeling and
    churn-window choice read directly off this curve;
    `customer_cohort_retention` slices by cohort, this is the
    marginal curve.

    Exactness: gaps are integer days (datediff), buckets integer,
    counts integer; the single survival division happens on exact
    integers and rounds at 4dp.

    Plan: the lead() window partitions by o_custkey — fact-grain but
    keyed on the high-cardinality customer key, so it parallelizes
    as one hash exchange + per-customer sorts of ~order-count rows
    (the same audited shape as `lag_event_gap`); gaps then collapse
    to <= 13 cells in a partial+final agg, and the survival cumsum
    runs WINDOW-FREE through `ranking.global_cumsum`'s bounded path
    (broadcast count-ahead fold — the repo's no-single-partition-
    window rule, SCALE.md) with the grand total broadcast from a
    1-row agg. At 100 TB: one customer-key shuffle, everything after
    is constant-size."""
    from hadoop_wordcount_spark.operators.ranking import global_cumsum

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")).alias(
            "gap"
        )
    ).filter(F.col("gap").isNotNull())
    # r14: the <=13-row bucket census feeds BOTH the cumsum and the
    # grand total — materialize it once so the customer-key window
    # pass over orders runs once, not once per reference (guide §5).
    cells = materialize(
        gaps.select(
            F.least(
                F.floor(F.col("gap") / 30.0).cast("long"), F.lit(12)
            ).alias("gap_bucket")
        )
        .groupBy("gap_bucket")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )
    cum = global_cumsum(
        cells, [("gap_bucket", False)], "n_gaps", out="c", size_hint=13
    )
    tot = cells.agg(F.sum("n_gaps").alias("t"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "gap_bucket",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.round(1.0 - F.col("c") / F.col("t"), 4).alias("survival_frac"),
    )


@query(
    "pareto_skyline_customers",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                       AS spend_cents,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey)
        SELECT c.o_custkey              AS custkey,
               CAST(c.spend_cents AS BIGINT) AS spend_cents,
               CAST(c.n_orders AS BIGINT)    AS n_orders
        FROM cust c
        WHERE NOT EXISTS (
            SELECT 1 FROM cust o
            WHERE o.spend_cents >= c.spend_cents
              AND o.n_orders   >= c.n_orders
              AND (o.spend_cents > c.spend_cents
                   OR o.n_orders > c.n_orders))
    """,
)
def q_pareto_skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator — customers not dominated
    on (total spend, order count): no other customer is >= on both
    axes and strictly better on one. The classic multi-criteria
    'best customers' query that no single ORDER BY can answer;
    `orders_abc_pareto` ranks one axis, this intersects two.

    The naive skyline is an all-pairs NOT EXISTS — quadratic and
    banned by this repo's scale rules. Implemented instead as the
    standard two-phase distributed skyline:
      1. GRID PRUNE: bucket spend_cents into fixed $100k cells; a
         1-row-per-bucket table of max(n_orders) (tiny) yields, via
         a strictly-upper-triangle self-join on that dimension-sized
         table (window-free — the no-single-partition-window rule,
         SCALE.md), the best order-count in any STRICTLY higher
         spend bucket. Any customer at or below that count is
         dominated (higher bucket => strictly more spend) and drops
         before the expensive phase. Survivors ~ skyline size +
         boundary effects, not corpus size.
      2. EXACT: the surviving candidates (broadcast-sized) go
         through the exact dominance LEFT ANTI self-join. Soundness:
         domination chains terminate at an unpruned maximal row, so
         pruned rows can never be needed as witnesses — candidates
         vs candidates decides the true skyline.
    All quantities are exact integers (cents, counts) — no FP in any
    comparison. At 100 TB phase 1 is one customer agg + one
    dimension-sized broadcast; phase 2's nested-loop join touches
    only the pruned frontier band."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    # r13: the per-customer rollup feeds the bucket-max table and the
    # candidate filter; the pruned frontier feeds both sides of the
    # dominance anti-join — checkpoint both so the fact aggregate and
    # the pruning pass run once each.
    cust = materialize(o.groupBy("o_custkey").agg(
        F.sum(cents).alias("spend_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    ))
    bucket = F.floor(F.col("spend_cents") / F.lit(10_000_000)).alias("bkt")
    bmax = cust.select(bucket, "n_orders").groupBy("bkt").agg(
        F.max("n_orders").alias("bkt_max")
    )
    upper = bmax.select(
        F.col("bkt").alias("u_bkt"), F.col("bkt_max").alias("u_max")
    )
    higher = (
        bmax.join(
            F.broadcast(upper), F.col("u_bkt") > F.col("bkt"), "left"
        )
        .groupBy("bkt")
        .agg(F.max("u_max").alias("max_higher"))
    )
    cand = materialize(
        cust.withColumn("bkt", bucket)
        .join(F.broadcast(higher), "bkt")
        .filter(
            F.col("max_higher").isNull()
            | (F.col("n_orders") > F.col("max_higher"))
        )
        .select("o_custkey", "spend_cents", "n_orders")
    )
    other = cand.select(
        F.col("spend_cents").alias("o_spend"),
        F.col("n_orders").alias("o_n"),
    )
    dominated = (
        (F.col("o_spend") >= F.col("spend_cents"))
        & (F.col("o_n") >= F.col("n_orders"))
        & (
            (F.col("o_spend") > F.col("spend_cents"))
            | (F.col("o_n") > F.col("n_orders"))
        )
    )
    return cand.join(F.broadcast(other), dominated, "left_anti").select(
        F.col("o_custkey").alias("custkey"),
        F.col("spend_cents").cast("long").alias("spend_cents"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


@query(
    "events_entropy_rate",
    oracle="""
        WITH seq AS (
            SELECT event_type AS a,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS b
            FROM events),
        pairs AS (
            SELECT a, b, count(*) AS n_ab
            FROM seq WHERE b IS NOT NULL GROUP BY a, b),
        marg AS (
            SELECT a, n_ab, sum(n_ab) OVER (PARTITION BY a) AS n_a,
                   sum(n_ab) OVER () AS n
            FROM pairs)
        SELECT CAST(sum(n_ab) AS BIGINT) AS n_transitions,
               CAST(count(*) AS BIGINT)  AS n_distinct_pairs,
               round(-sum((n_ab * 1.0 / n)
                          * ln(n_ab * 1.0 / n_a)), 4) AS entropy_rate_nats
        FROM marg
    """,
)
def q_events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate of the per-user event-type process —
    H(next | current) = -sum p(a,b) ln p(b|a) over observed
    transitions. The sequence-mining complement to
    `event_path_mining` (which lists top paths): one number saying
    how PREDICTABLE user behavior is; feeds session-model choice and
    anomaly baselines the way `ngram_entropy` does for tokens.

    Exactness: transition counts are integers; probabilities are
    single divisions of exact integers evaluated inside one final
    1-row agg, so the only FP summation is the entropy sum itself —
    over |event_types|^2 (= dozens) terms, far below 4dp rounding
    sensitivity.

    Plan: lead() partitions on the high-cardinality user_id (the
    audited `lag_event_gap` shape: one hash exchange, per-user
    sorts), transitions collapse to a <= |types|^2 pair table in a
    partial+final agg; the row-marginal is a window PARTITIONED on
    `a` and the joint total a broadcast 1-row agg (no partitionless
    window — the SCALE.md rule), finishing in a 1-row agg. At
    100 TB: one user shuffle + one types^2-sized table — the
    entropy arithmetic never touches fact grain."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    # r13: the |types|² transition census feeds the total and the
    # entropy aggregate — checkpoint the one event-sized aggregate.
    pairs = materialize(
        seq.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    wa = Window.partitionBy("a")
    tot = pairs.agg(F.sum("n_ab").alias("n"))
    marg = pairs.select(
        "n_ab", F.sum("n_ab").over(wa).alias("n_a")
    ).crossJoin(F.broadcast(tot))
    return marg.agg(
        F.sum("n_ab").cast("long").alias("n_transitions"),
        F.count(F.lit(1)).alias("n_distinct_pairs"),
        F.round(
            -F.sum(
                (F.col("n_ab") / F.col("n"))
                * F.log(F.col("n_ab") / F.col("n_a"))
            ),
            4,
        ).alias("entropy_rate_nats"),
    )


@query(
    "lineitem_regr_family",
    oracle="""
        SELECT l_returnflag,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)
                   AS n,
               round(regr_slope(l_extendedprice, l_quantity), 4)
                   AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 4)
                   AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 4)
                   AS r2,
               round(regr_avgx(l_extendedprice, l_quantity), 4)
                   AS avg_qty,
               round(regr_avgy(l_extendedprice, l_quantity), 4)
                   AS avg_price
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_lineitem_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI regression-aggregate FAMILY (regr_slope / intercept /
    r2 / count / avgx / avgy) — in-database OLS of extended price on
    quantity per return flag. `discount_elasticity` builds the same
    statistic from covar/var primitives by hand; this entry covers
    the dedicated SQL surface both engines ship, the one BI tools
    emit. (regr_* also defines the pairwise NULL contract: a row
    drops when EITHER side is NULL — regr_count exposes exactly
    that, which avg()-based reconstructions silently get wrong.)

    Plan: all six are distributive moment aggregates — one
    partial+final agg keyed on the 3-value flag, map-side combined;
    the shuffle carries a handful of moment tuples per task. At
    100 TB this is the cheapest statistical query shape there is;
    adding regressors = more moment columns, same single pass."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("long").alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
        F.round(F.regr_avgx(y, x), 4).alias("avg_qty"),
        F.round(F.regr_avgy(y, x), 4).alias("avg_price"),
    )


@query(
    "events_changepoint_cusum",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bkt,
                   count(*) AS x
            FROM events GROUP BY 1, 2),
        tot AS (
            SELECT event_type, bkt, x,
                   count(*) OVER (PARTITION BY event_type) AS n,
                   sum(x)   OVER (PARTITION BY event_type) AS total
            FROM hourly),
        cus AS (
            SELECT event_type, bkt, n, total,
                   sum(n * x - total) OVER (
                       PARTITION BY event_type ORDER BY bkt) AS cusum_scaled
            FROM tot),
        ranked AS (
            SELECT event_type, bkt, n, cusum_scaled,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(cusum_scaled) DESC, bkt) AS rn
            FROM cus)
        SELECT event_type,
               CAST(n AS BIGINT)                      AS n_buckets,
               CAST(epoch(bkt) AS BIGINT)             AS changepoint_epoch_s,
               round(abs(cusum_scaled) * 1.0 / n, 4)  AS max_abs_cusum
        FROM ranked WHERE rn = 1
    """,
)
def q_events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the hourly event-rate series
    per event type — the classic level-shift detector (max |cumsum
    of deviations from the mean|, its argmax marking the most likely
    shift point). Monitoring pipelines run exactly this to decide
    whether a data feed changed regime mid-corpus;
    `event_anomaly_mad` flags point outliers, this finds the shift.

    EXACT-integer core: the deviation is scaled to n*x_i - total
    (both integers), so the running CUSUM, its |argmax| and the
    tie-break are integer arithmetic — engines cannot diverge on the
    changepoint location even where window summation orders differ
    (DuckDB segment-tree vs Spark running frame). Only the final
    rescale by 1/n is FP, rounded at 4dp.

    Plan: fact rows collapse to the bounded (type, hour) series in
    one partial+final agg; the count/total/CUSUM windows and the
    argmax row_number all run on that dimension-sized table
    partitioned by the same key. At 100 TB: one fact shuffle, then
    ~9k-row series per type — the detector itself is free."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bkt")
    ).agg(F.count(F.lit(1)).alias("x"))
    wt = Window.partitionBy("event_type")
    wc = Window.partitionBy("event_type").orderBy("bkt")
    cus = hourly.select(
        "event_type",
        "bkt",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum(
            F.col("x") * F.count(F.lit(1)).over(wt)
            - F.sum("x").over(wt)
        )
        .over(wc)
        .alias("cusum_scaled"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.col("bkt").asc()
    )
    return (
        cus.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_buckets"),
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', bkt)"
            )
            .cast("long")
            .alias("changepoint_epoch_s"),
            F.round(F.abs(F.col("cusum_scaled")) / F.col("n"), 4).alias(
                "max_abs_cusum"
            ),
        )
    )


@query(
    "value_decile_bins",
    oracle="""
        WITH binned AS (
            SELECT event_type,
                   least(CAST(floor(value / 5.0) AS BIGINT), 99) AS bin
            FROM events),
        cells AS (
            SELECT event_type, bin, count(*) AS c
            FROM binned GROUP BY 1, 2),
        cum AS (
            SELECT event_type, bin,
                   sum(c) OVER (PARTITION BY event_type ORDER BY bin)
                       AS cc,
                   sum(c) OVER (PARTITION BY event_type) AS t
            FROM cells)
        SELECT event_type,
               CAST(max(t) AS BIGINT) AS n_events,
               CAST(min(CASE WHEN 10 * cc >= 1 * t THEN bin END) AS BIGINT)
                   AS d1,
               CAST(min(CASE WHEN 10 * cc >= 3 * t THEN bin END) AS BIGINT)
                   AS d3,
               CAST(min(CASE WHEN 10 * cc >= 5 * t THEN bin END) AS BIGINT)
                   AS d5,
               CAST(min(CASE WHEN 10 * cc >= 7 * t THEN bin END) AS BIGINT)
                   AS d7,
               CAST(min(CASE WHEN 10 * cc >= 9 * t THEN bin END) AS BIGINT)
                   AS d9
        FROM cum GROUP BY event_type
    """,
)
def q_value_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binned decile mapping per event type — the quantile
    table feature-binning and cross-population quantile NORMALIZATION
    start from: the smallest width-5 value bin whose cumulative count
    reaches each decile boundary. The decile test `10*cum >= d*total`
    is INTEGER arithmetic end to end (no percentile interpolation, no
    FP ranks), so unlike `value_percentiles`' GK sketch or
    percentile_cont's interpolated doubles, the result hash-compares
    exactly by construction at any scale.

    Plan: the `value_ks_drift` shape — fact rows collapse to
    <= types x 100 cells in one partial+final agg; the CDF cumsum and
    the five threshold-min aggregates run on the bounded cell table.
    At 100 TB: one fact-grain shuffle; finer quantiles or bins grow
    only the constant-sized tail. Map a source's values through
    another population's table and you have distribution alignment
    (quantile normalization) with the same two-shuffle budget."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            F.least(
                F.floor(F.col("value") / 5.0).cast("long"), F.lit(99)
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = cells.select(
        "event_type",
        "bin",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(wt).alias("t"),
    )
    aggs = [F.max("t").cast("long").alias("n_events")]
    for d in (1, 3, 5, 7, 9):
        aggs.append(
            F.min(
                F.when(10 * F.col("cc") >= d * F.col("t"), F.col("bin"))
            )
            .cast("long")
            .alias(f"d{d}")
        )
    return cum.groupBy("event_type").agg(*aggs)


@query(
    "events_anova_f",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   count(*) AS ng,
                   sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS sc,
                   sum(CAST(round(value * 100.0, 0) AS BIGINT)
                       * CAST(round(value * 100.0, 0) AS BIGINT)) AS sc2
            FROM events GROUP BY event_type),
        tot AS (
            SELECT sum(ng) AS n, sum(sc) AS s, count(*) AS k FROM g),
        parts AS (
            SELECT k, n,
                   sum(sc * 1.0 * sc / ng) - (s * 1.0 * s) / n AS ssb_c2,
                   sum(sc2 - sc * 1.0 * sc / ng)               AS ssw_c2
            FROM g, tot GROUP BY k, n, s)
        SELECT CAST(k AS BIGINT)                              AS k_groups,
               CAST(n AS BIGINT)                              AS n_rows,
               round((ssb_c2 / (k - 1)) / (ssw_c2 / (n - k)), 4)
                   AS f_stat,
               round(ssb_c2 / (ssb_c2 + ssw_c2), 6)           AS eta_sq
        FROM parts
    """,
)
def q_events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of `value` across event types — the F statistic
    (between-group vs within-group variance) and eta-squared effect
    size: the standard 'does this categorical actually explain the
    metric' test a feature-selection or drift pipeline runs before
    trusting a grouping. Complements `value_ks_drift` (two-sample,
    distribution-free) with the k-group parametric test.

    Exactness discipline: values scale to integer CENTS first, so
    every per-group sum and sum-of-squares is an exact integer; the
    sums of squares (SSB/SSW in cents^2) and the final F are then a
    fixed arithmetic expression over <= |types| exact integers —
    identical in both engines, rounded at 4dp. (cents^2 sums stay
    under 2^63 through ~10^14 rows at this value range — noted, not
    binding here.)

    Plan: ONE partial+final agg keyed on event_type (three
    distributive sums), then a 1-row reduce — the cheapest possible
    statistical shape, same as `lineitem_regr_family`. At 100 TB:
    one scan, one |types|-row shuffle."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100.0, 0).cast("long")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(c).alias("sc"),
        F.sum(c * c).alias("sc2"),
    )
    parts = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sc").alias("s"),
        F.sum(F.col("sc") * 1.0 * F.col("sc") / F.col("ng")).alias("sb_raw"),
        F.sum(F.col("sc2") - F.col("sc") * 1.0 * F.col("sc") / F.col("ng"))
        .alias("ssw_c2"),
    ).select(
        "k",
        "n",
        (F.col("sb_raw") - F.col("s") * 1.0 * F.col("s") / F.col("n")).alias(
            "ssb_c2"
        ),
        "ssw_c2",
    )
    return parts.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (F.col("ssb_c2") / (F.col("k") - 1))
            / (F.col("ssw_c2") / (F.col("n") - F.col("k"))),
            4,
        ).alias("f_stat"),
        F.round(
            F.col("ssb_c2") / (F.col("ssb_c2") + F.col("ssw_c2")), 6
        ).alias("eta_sq"),
    )


@query(
    "chi_square_independence",
    oracle="""
        WITH cell AS (
            SELECT lang, source, count(*) AS o
            FROM documents GROUP BY lang, source),
        rowm AS (SELECT lang, sum(o) AS rn FROM cell GROUP BY lang),
        colm AS (SELECT source, sum(o) AS cn FROM cell GROUP BY source),
        tot AS (SELECT sum(o) AS n FROM cell),
        ex AS (
            SELECT c.o, r.rn * 1.0 * m.cn / t.n AS e
            FROM cell c
            JOIN rowm r USING (lang) JOIN colm m USING (source)
            CROSS JOIN tot t)
        SELECT CAST((SELECT count(*) FROM rowm) AS BIGINT)   AS n_rows_dim,
               CAST((SELECT count(*) FROM colm) AS BIGINT)   AS n_cols_dim,
               CAST((SELECT n FROM tot) AS BIGINT)           AS n_docs,
               round(sum((o - e) * (o - e) / e), 4)          AS chi2
        FROM ex
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between lang and source —
    the categorical-vs-categorical dependence test completing the
    statistical-test trio (`events_anova_f`: categorical->numeric;
    `value_ks_drift`: two-sample numeric). A curation pipeline runs
    exactly this to learn whether language mix is uniform across
    feeds (it shouldn't be — and a chi2 near zero would expose
    synthetic round-robin data); `lang_source_crosstab` renders the
    table, this scores it.

    Exactness: observed and marginal counts are integers; each
    expected count is one multiply/divide of exact integers, so the
    chi2 sum is over |langs|x|sources| deterministic doubles — far
    below 4dp sensitivity.

    Plan: ONE fact-grain (lang, source) agg; marginals re-aggregate
    the ~100-cell table; the expected/observed join is
    dimension-sized and broadcast. At 100 TB: one scan + one
    100-cell shuffle."""
    d = load_table(spark, sf_dir, "documents")
    # r13: the |langs| x |sources| contingency cell table feeds both
    # marginals, the total, and the expected-count join — checkpoint
    # the one fact-sized aggregate.
    cell = materialize(
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rowm = cell.groupBy("lang").agg(F.sum("o").alias("rn"))
    colm = cell.groupBy("source").agg(F.sum("o").alias("cn"))
    tot = cell.agg(F.sum("o").alias("n"))
    ex = (
        cell.join(F.broadcast(rowm), "lang")
        .join(F.broadcast(colm), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (F.col("rn") * 1.0 * F.col("cn") / F.col("n")).alias("e"),
        )
    )
    dims = (
        rowm.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(colm.agg(F.count(F.lit(1)).alias("nc")))
        .crossJoin(tot)
    )
    chi = ex.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            4,
        ).alias("chi2")
    )
    return dims.crossJoin(chi).select(
        F.col("nr").cast("long").alias("n_rows_dim"),
        F.col("nc").cast("long").alias("n_cols_dim"),
        F.col("n").cast("long").alias("n_docs"),
        "chi2",
    )


@query(
    "lineitem_weighted_median",
    oracle="""
        WITH binned AS (
            SELECT l_returnflag AS flag,
                   least(CAST(floor(l_extendedprice / 1000.0) AS BIGINT),
                         199) AS bin,
                   CAST(l_quantity AS BIGINT) AS qty
            FROM lineitem),
        cells AS (
            SELECT flag, bin, sum(qty) AS w
            FROM binned GROUP BY flag, bin),
        cum AS (
            SELECT flag, bin,
                   sum(w) OVER (PARTITION BY flag ORDER BY bin) AS cw,
                   sum(w) OVER (PARTITION BY flag)              AS tw
            FROM cells)
        SELECT flag AS l_returnflag,
               CAST(max(tw) AS BIGINT) AS total_qty,
               CAST(min(CASE WHEN 2 * cw >= tw THEN bin END) AS BIGINT)
                   AS wmedian_bin,
               CAST(min(CASE WHEN 4 * cw >= tw THEN bin END) AS BIGINT)
                   AS wq1_bin,
               CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN bin END) AS BIGINT)
                   AS wq3_bin
        FROM cum GROUP BY flag
    """,
)
def q_lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted price quartiles per return flag — the
    weighted-quantile operator (each price counts by units moved,
    not rows) that revenue-weighted pricing and fair-share analyses
    need; plain `percentile` would let a 1-unit line item count as
    much as a 50-unit one. Same exact-integer binned-CDF machinery
    as `value_decile_bins` (thresholds `2*cum >= total` etc. on
    integer weight sums — no interpolation, engine-exact), extended
    with WEIGHTS: $1000 price bins, quantity as the mass.

    Plan: one fact-grain (flag, bin) agg with map-side combine (the
    only shuffle), CDF + threshold-mins on the <= 3x200-cell table.
    At 100 TB: identical budget; weighting changes the SUM, not the
    plan."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.least(
                F.floor(F.col("l_extendedprice") / 1000.0).cast("long"),
                F.lit(199),
            ).alias("bin"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .groupBy("flag", "bin")
        .agg(F.sum("qty").alias("w"))
    )
    wc = Window.partitionBy("flag").orderBy("bin")
    wt = Window.partitionBy("flag")
    cum = cells.select(
        "flag",
        "bin",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return cum.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.max("tw").cast("long").alias("total_qty"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("bin")))
        .cast("long")
        .alias("wmedian_bin"),
        F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("bin")))
        .cast("long")
        .alias("wq1_bin"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("bin")))
        .cast("long")
        .alias("wq3_bin"),
    )


@query(
    "values_benford_audit",
    oracle="""
        WITH cents AS (
            SELECT CAST(round(value * 100.0, 0) AS BIGINT) AS c
            FROM events),
        digits AS (
            SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
            FROM cents WHERE c >= 1),
        obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
        tot AS (SELECT sum(n) AS t FROM obs)
        SELECT d AS digit,
               CAST(n AS BIGINT)                       AS n_obs,
               round(n * 1.0 / t, 4)                   AS obs_share,
               round(log10(1.0 + 1.0 / d), 4)          AS benford_share
        FROM obs, tot
    """,
)
def q_values_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of the `value` column — the
    first-significant-digit distribution vs log10(1 + 1/d). Fraud
    detection and SYNTHETIC-DATA detection both lean on this:
    organically-scaled quantities follow Benford, while uniform
    generators (like this fixture's) sit near 1/9 per digit — the
    audit quantifies exactly that, which is the point for a
    training-data pipeline screening numeric feeds.

    Exactness trick: the first significant digit of a 2dp value
    equals the first digit of its integer CENTS (scaling by a power
    of 10 preserves the leading digit), so digit extraction is
    integer-cast string slicing — no log10/pow on data values, no
    FP boundary risk at 10.00/100.00; the only doubles are the two
    final share divisions, rounded at 4dp.

    Plan: one projection + a 9-key agg; the 1-row total broadcasts
    back. At 100 TB: scan-speed, nothing else."""
    e = load_table(spark, sf_dir, "events")
    # Filter on the integer CENTS, not `value > 0`: a value in
    # (0, 0.005) rounds to 0 cents, which would yield digit 0 and a
    # 1/0 division in benford_share. Gating on cents >= 1 keeps the
    # digit domain exactly 1-9 on both engines (ADVICE r8).
    cents = e.select(
        F.round(F.col("value") * 100.0, 0).cast("long").alias("c")
    ).filter(F.col("c") >= 1)
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.col("n") * 1.0 / F.col("t"), 4).alias("obs_share"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 4).alias("benford_share"),
    )


@query(
    "supplier_herfindahl_by_type",
    oracle="""
        WITH rev AS (
            SELECT p.p_type AS ptype, l.l_suppkey AS supp,
                   sum(CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT))
                       AS rc
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2),
        tot AS (
            SELECT ptype, sum(rc) AS t, count(*) AS n_supp
            FROM rev GROUP BY ptype)
        SELECT r.ptype AS p_type,
               CAST(max(t.n_supp) AS BIGINT)                 AS n_suppliers,
               CAST(max(t.t) AS BIGINT)                      AS rev_cents,
               round(sum((r.rc * 1.0 / t.t) * (r.rc * 1.0 / t.t)), 6)
                   AS hhi
        FROM rev r JOIN tot t USING (ptype)
        GROUP BY r.ptype
    """,
)
def q_supplier_herfindahl_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each part type — THE market-concentration statistic
    (sum of squared shares: 1/n = perfectly even, 1.0 = monopoly).
    Procurement risk and supply-chain diversification read straight
    off it; `orders_abc_pareto` ranks one tail, HHI summarizes the
    whole share distribution in one number per segment.

    Exactness: revenue in integer cents; each share is one division
    of exact integers against its segment total, squared and summed
    over <= |suppliers| deterministic doubles per type, 6dp.

    Plan: lineitem joins the part dim BROADCAST (dims are fixed-size
    under TPC-H scaling), one (type, supplier) fact agg (the only
    shuffle), then segment totals re-aggregate the bounded
    supplier-share table and broadcast back. At 100 TB: scan +
    broadcast-hash join + one dimension^2-bounded shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
    # r13: the (type, supplier) rollup feeds the per-type totals
    # AND the HHI aggregate — checkpoint the one fact-sized agg.
    rev = materialize(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("ptype"), F.col("l_suppkey").alias("supp"))
        .agg(F.sum(cents).alias("rc"))
    )
    tot = rev.groupBy("ptype").agg(
        F.sum("rc").alias("t"), F.count(F.lit(1)).alias("n_supp")
    )
    share = F.col("rc") * 1.0 / F.col("t")
    return (
        rev.join(F.broadcast(tot), "ptype")
        .groupBy(F.col("ptype").alias("p_type"))
        .agg(
            F.max("n_supp").cast("long").alias("n_suppliers"),
            F.max("t").cast("long").alias("rev_cents"),
            F.round(F.sum(share * share), 6).alias("hhi"),
        )
    )


@query(
    "orders_yoy_growth",
    oracle="""
        WITH m AS (
            SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
                   year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                   sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                       AS rc
            FROM orders GROUP BY 1, 2, 3)
        SELECT cur.ym AS yearmonth,
               CAST(cur.rc AS BIGINT)  AS rev_cents,
               CAST(prev.rc AS BIGINT) AS rev_cents_prior_year,
               round((cur.rc - prev.rc) * 100.0 / prev.rc, 4)
                   AS yoy_growth_pct
        FROM m cur JOIN m prev
          ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo
    """,
)
def q_orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — the reporting staple:
    each month joined to the SAME calendar month one year earlier
    (never lag(12) over a dense-month assumption: a missing month
    must yield no row, not a mis-aligned comparison — the equi-join
    on (year-1, month) encodes exactly that, where an offset window
    silently lies when gaps exist).

    Exactness: integer-cents monthly totals; one growth division,
    4dp.

    Plan: one fact-grain (year, month) agg — map-side combined, the
    only shuffle — then a self-join of the <= years x 12-row table
    (broadcast both sides, trivially). At 100 TB the month table is
    still dimension-sized; adding same-month-two-years-ago is one
    more join on the same bounded table."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(cents).alias("rc"))
    cur = m.select(
        (F.col("yr") * 100 + F.col("mo")).alias("yearmonth"),
        "yr",
        "mo",
        F.col("rc").alias("rev_cents"),
    )
    prev = m.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo").alias("mo"),
        F.col("rc").alias("rev_cents_prior_year"),
    )
    return cur.join(F.broadcast(prev), ["yr", "mo"]).select(
        "yearmonth",
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.col("rev_cents_prior_year").cast("long").alias(
            "rev_cents_prior_year"
        ),
        F.round(
            (F.col("rev_cents") - F.col("rev_cents_prior_year"))
            * 100.0
            / F.col("rev_cents_prior_year"),
            4,
        ).alias("yoy_growth_pct"),
    )


@query(
    "events_gini_user_activity",
    oracle="""
        WITH per_user AS (
            SELECT user_id, count(*) AS x
            FROM events GROUP BY user_id),
        ranked AS (
            SELECT x,
                   row_number() OVER (ORDER BY x, user_id) AS i
            FROM per_user),
        s AS (
            SELECT count(*) AS n, sum(x) AS t, sum(i * x) AS ix
            FROM ranked)
        SELECT CAST(n AS BIGINT)                             AS n_users,
               CAST(t AS BIGINT)                             AS n_events,
               round(2.0 * ix / (n * 1.0 * t)
                     - (n + 1.0) / n, 4)                     AS gini
        FROM s
    """,
)
def q_events_gini_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of per-user event activity — the inequality
    summary (0 = everyone equally active, ->1 = all activity from
    one user) that engagement and abuse teams track; a corpus
    pipeline uses the same number on per-domain document counts to
    see how concentrated a crawl is. Computed by the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over counts sorted
    ascending (ties broken by user_id — the formula is tie-order
    invariant on equal x, so the tie-break only pins determinism).

    The global rank comes from `ranking.global_row_number` — the
    repo's WINDOW-FREE total-order machinery (range exchange +
    partitioned local ranks + broadcast offsets on the distributed
    path), so no single-partition sort ever materializes
    (SCALE.md rule). Everything else is exact integers; one final
    division, 4dp.

    Plan: one user_id fact agg (the real shuffle), the rank
    machinery on the per-user table, a 3-sum reduce. At 100 TB the
    per-user table is big — exactly the case the distributed rank
    path exists for."""
    from hadoop_wordcount_spark.operators.ranking import global_row_number

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    ranked = global_row_number(
        per_user, [("x", False), ("user_id", False)], out="i"
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("i").cast("long") * F.col("x")).alias("ix"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("t").cast("long").alias("n_events"),
        F.round(
            2.0 * F.col("ix") / (F.col("n") * 1.0 * F.col("t"))
            - (F.col("n") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
    )


@query(
    "nation_revenue_share_report",
    oracle="""
        WITH rev AS (
            SELECT n.n_name AS nation, r.r_name AS region,
                   sum(CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT))
                       AS rc
            FROM orders o
            JOIN customer c ON o.o_custkey  = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2),
        reg AS (SELECT region, sum(rc) AS reg_rc FROM rev GROUP BY region),
        tot AS (SELECT sum(rc) AS t FROM rev)
        SELECT v.nation, v.region,
               CAST(v.rc AS BIGINT)                    AS rev_cents,
               round(v.rc * 1.0 / g.reg_rc, 4)         AS share_of_region,
               round(v.rc * 1.0 / tt.t, 4)             AS share_of_total
        FROM rev v JOIN reg g USING (region) CROSS JOIN tot tt
    """,
)
def q_nation_revenue_share_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ratio-to-parent report — each nation's revenue as a share of
    its REGION and of the WORLD: the two-level percent-of-parent
    that every BI drill-down renders (and that `tpch_q5_like`/q8
    only compute for one filtered slice). Exact integer cents up to
    the two share divisions, 4dp.

    Plan: orders -> broadcast customer? No — customer is fact-sized,
    so orders JOIN customer is the one real shuffle join (AQE picks
    the strategy); nation/region broadcast. The share denominators
    re-aggregate the 25-row nation table and broadcast back. At
    100 TB: one fact-fact co-shuffle (bucketable on custkey — the
    `colocated_join` layout removes it entirely), dimension-sized
    everything after."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    # r13: the 25-row nation rollup feeds the region rollup, the
    # grand total AND the report join — checkpoint it so the
    # fact-to-dim join chain runs once.
    rev = materialize(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(cents).alias("rc"))
    )
    reg = rev.groupBy("region").agg(F.sum("rc").alias("reg_rc"))
    tot = rev.agg(F.sum("rc").alias("t"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "region",
            F.col("rc").cast("long").alias("rev_cents"),
            F.round(F.col("rc") * 1.0 / F.col("reg_rc"), 4).alias(
                "share_of_region"
            ),
            F.round(F.col("rc") * 1.0 / F.col("t"), 4).alias(
                "share_of_total"
            ),
        )
    )


@query(
    "orders_customer_acquisition",
    oracle="""
        WITH first_m AS (
            SELECT o_custkey,
                   min(year(o_orderdate) * 100 + month(o_orderdate)) AS ym
            FROM orders GROUP BY o_custkey),
        monthly AS (
            SELECT ym, count(*) AS n_new FROM first_m GROUP BY ym),
        cum AS (
            SELECT ym, n_new,
                   sum(n_new) OVER (ORDER BY ym) AS n_total
            FROM monthly)
        SELECT ym AS yearmonth,
               CAST(n_new AS BIGINT)   AS n_new_customers,
               CAST(n_total AS BIGINT) AS n_customers_to_date
        FROM cum
    """,
)
def q_orders_customer_acquisition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer-acquisition curve — new customers per month (month of
    FIRST order) and the cumulative customer base to date: the growth
    accounting every business review opens with.
    `customer_cohort_retention` tracks cohorts after acquisition;
    this is the acquisition series itself.

    Plan: one fact-grain min-agg on o_custkey (the only shuffle,
    map-side combined — min is distributive), a <= months-sized
    month agg, then the cumulative series WINDOW-FREE through
    `ranking.global_cumsum`'s bounded path (the SCALE.md
    no-partitionless-window rule; the month table is <= years x 12
    BY CONSTRUCTION). All integer counts — hash-exact at any scale.
    At 100 TB the custkey agg is the linear term; bucket orders by
    custkey and even that exchange disappears."""
    from hadoop_wordcount_spark.operators.ranking import global_cumsum

    o = load_table(spark, sf_dir, "orders")
    first_m = o.groupBy("o_custkey").agg(
        F.min(
            F.year("o_orderdate") * 100 + F.month("o_orderdate")
        ).alias("ym")
    )
    monthly = first_m.groupBy("ym").agg(F.count(F.lit(1)).alias("n_new"))
    cum = global_cumsum(
        monthly, [("ym", False)], "n_new", out="n_total", size_hint=120
    )
    return cum.select(
        F.col("ym").alias("yearmonth"),
        F.col("n_new").cast("long").alias("n_new_customers"),
        F.col("n_total").cast("long").alias("n_customers_to_date"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
        WITH qi AS (
            SELECT event_type,
                   (epoch_ns(ts) // 3600000000000) % 24 AS hod,
                   CAST(floor(value / 10.0) AS BIGINT) AS vband
            FROM events),
        cls AS (
            SELECT event_type, hod, vband, count(*) AS n
            FROM qi GROUP BY 1, 2, 3),
        banded AS (
            SELECT CASE WHEN n = 1 THEN 'k=1'
                        WHEN n < 5 THEN 'k=2-4'
                        WHEN n < 20 THEN 'k=5-19'
                        ELSE 'k>=20' END AS k_band,
                   n
            FROM cls),
        hist AS (
            SELECT k_band,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(sum(n) AS BIGINT) AS n_records
            FROM banded GROUP BY k_band),
        tot AS (SELECT sum(n_records) AS t FROM hist)
        SELECT k_band, n_classes, n_records,
               round(n_records * 1.0 / t, 4) AS record_share
        FROM hist, tot
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the events feed (Sweeney 2002, public):
    bucket every record by a quasi-identifier tuple — (event_type,
    hour-of-day, value decaband) — and report how many equivalence
    classes / records sit at each anonymity level (k=1 singletons are
    directly re-identifiable; k<5 is the conventional risk line). A
    training-data pipeline runs exactly this before releasing event
    logs: `pii_scrub_report` removes explicit identifiers, this
    audits the IMPLICIT ones.

    Exactness: hour-of-day is epoch-ns integer math ((ns // 3.6e12)
    % 24, the events_ohlc_hourly discipline); the value band is
    floor(value/10) — integer group keys on both engines, so the
    class census hash-matches exactly.

    Plan: one (type, hod, vband)-keyed count (map-side combined — the
    only corpus-sized exchange), a ≤4-row CASE rollup, and a 1-row
    total broadcast back. At 100 TB: scan + one agg; class count is
    bounded by |types| x 24 x |value bands|, flat in rows."""
    e = load_table(spark, sf_dir, "events")
    qi = e.select(
        "event_type",
        # integer `div`, NOT `/`: ts_ns ~1.7e18 exceeds double's
        # 53-bit exact range, so float division could shift an hour
        # boundary vs DuckDB's exact `//`
        (F.expr("ts_ns div 3600000000000") % 24).alias("hod"),
        F.floor(F.col("value") / 10.0).cast("long").alias("vband"),
    )
    cls = qi.groupBy("event_type", "hod", "vband").agg(
        F.count(F.lit(1)).alias("n")
    )
    banded = cls.select(
        F.when(F.col("n") == 1, "k=1")
        .when(F.col("n") < 5, "k=2-4")
        .when(F.col("n") < 20, "k=5-19")
        .otherwise("k>=20")
        .alias("k_band"),
        "n",
    )
    hist = banded.groupBy("k_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("n").cast("long").alias("n_records"),
    )
    tot = hist.agg(F.sum("n_records").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "k_band",
        "n_classes",
        "n_records",
        F.round(F.col("n_records") * 1.0 / F.col("t"), 4).alias(
            "record_share"
        ),
    )


# Laplace scale for the DP release below: sensitivity 1 (one event
# changes one count by 1) / epsilon 0.5.
_DP_B = 2.0
# Prime modulus for the md5-fold -> (0,1) uniform. (h % P + 1)/(P + 2)
# lies strictly inside (0, 1) and can never hit exactly 0.5, so
# sign(u) and ln(1 - 2|u|) are both always well-defined.
_DP_P = 99991


@query(
    "dp_noisy_histogram",
    oracle=f"""
        WITH per AS (
            SELECT event_type, count(*) AS n_events FROM events
            GROUP BY event_type),
        seeded AS (
            SELECT event_type, n_events,
                   ((list_reduce(list_transform(
                         string_split_regex(
                             substr(md5('dp:' || event_type), 1, 15), ''),
                         c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                         (a, d) -> a * 16 + d) % {_DP_P}) + 1.0)
                       / {_DP_P + 2} - 0.5 AS u
            FROM per)
        SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
               round(-{_DP_B} * sign(u) * ln(1 - 2 * abs(u)), 4) AS noise,
               greatest(round(n_events
                              - {_DP_B} * sign(u) * ln(1 - 2 * abs(u)), 4),
                        0.0) AS released
        FROM seeded
    """,
)
def q_dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (Dwork et al. 2006):
    per-event-type counts with Laplace(b={_DP_B}) noise — sensitivity
    1, epsilon 1/b — via inverse-CDF sampling
    noise = -b * sign(u) * ln(1 - 2|u|), u ~ U(-0.5, 0.5). The
    release a pipeline publishes when usage histograms leave the
    trust boundary (the publication-side complement of
    `k_anonymity_audit`, which measures re-identification risk of
    the raw rows). True counts are reported alongside, making this
    the utility-calibration audit (is the noise small enough for the
    dashboard?), not the release artifact itself.

    Determinism: u derives from the portable md5-fold of the key —
    the `weighted_sample_bernoulli` integer idiom — so the "draw" is
    reproducible across engines, runs, and partitionings (seeded DP,
    as used for audit pipelines; production would rotate the seed).
    The modulus arithmetic keeps u strictly inside (-0.5, 0.5) and
    off 0, so sign/ln never hit an edge. Cross-engine ln ulp noise
    under the 4dp round is the `bigram_logprob` tolerance class.

    Plan: one map-side-combined groupBy(event_type) over the scan;
    noise is a per-group projection on the ~|event_types|-row
    result. At 100 TB: exactly one shuffle of |event_types| cells."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = ((h % _DP_P) + 1.0) / (_DP_P + 2) - 0.5
    noise = -_DP_B * F.signum(u) * F.log(1 - 2 * F.abs(u))
    return per.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(noise, 4).alias("noise"),
        F.greatest(
            F.round(F.col("n_events") + noise, 4), F.lit(0.0)
        ).alias("released"),
    )


# Poisson-bootstrap configuration: B resamples, Poisson(1) weights
# via exact integer thresholds on the md5-fold (cumulative
# probabilities of Poisson(1) scaled to 1000: P(<=k) for k=0..5;
# h >= 999 maps to weight 6). Integer thresholds make the resample
# weights BIT-IDENTICAL across engines — no float RNG to reconcile.
_BS_B = 64
# sqrt(B) blocking: the Spark plan explodes x_BS_BLOCK (b_hi) and
# aggregates _BS_BLOCK weighted-sum pairs per row (b_lo) — see the
# query docstring. Must satisfy _BS_BLOCK * _BS_BLOCK == _BS_B.
_BS_BLOCK = 8
# Thresholds are the Poisson(1) CDF scaled to the PRIME modulus 1009
# (prime so every odd per-resample multiplier is invertible and the
# mixed draws stay uniform): P(<=k), k=0..5; draw >= 1008 -> w=6.
_BS_THRESH = (371, 742, 928, 990, 1005, 1008)
_BS_P1 = 100003  # first reduction prime (keeps the mix overflow-safe)
_BS_P2 = 1009  # draw modulus (prime)
_BS_MIXC = 40503  # additive mixing constant
_BS_DRAW_SQL = f"((e.h0 * (2 * b.b + 1) + {_BS_MIXC} * b.b) % {_BS_P2})"
_BS_W_SQL = " + ".join(
    f"(CASE WHEN {_BS_DRAW_SQL} >= {t} THEN 1 ELSE 0 END)"
    for t in _BS_THRESH
)


def _bs_blocked_means(e: DataFrame) -> DataFrame:
    """The sqrt(B)-blocked per-resample means stream behind
    `bootstrap_ci_poisson`: (event_type, mean_b), exactly _BS_B rows
    per event_type. Module-level so the structural pin
    (tests/test_round11_fixes.py) can assert the stream's result
    invariants directly instead of matching optimized-plan text."""
    h0 = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bs:"), F.col("event_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _BS_P1
    )
    base = e.select(
        "event_type",
        "value",
        h0.alias("h0"),
        F.explode(F.sequence(F.lit(0), F.lit(_BS_BLOCK - 1))).alias("bh"),
    )
    # Plain comparison sums, NOT higher-order array filters: HOFs
    # evaluate interpreted per element; these projections run on the
    # exploded stream — codegen'd comparisons keep the whole stage
    # in WholeStageCodegen.
    aggs = []
    for lo in range(_BS_BLOCK):
        bcol = F.col("bh") * _BS_BLOCK + lo
        draw = (F.col("h0") * (2 * bcol + 1) + _BS_MIXC * bcol) % _BS_P2
        w = sum((draw >= t).cast("int") for t in _BS_THRESH)
        aggs.append(F.sum(w * F.col("value")).alias(f"sv{lo}"))
        aggs.append(F.sum(w).alias(f"sw{lo}"))
    g = base.groupBy("event_type", "bh").agg(*aggs)
    means = F.array(
        *[
            F.round(
                F.col(f"sv{lo}") / F.greatest(F.col(f"sw{lo}"), F.lit(1)), 6
            )
            for lo in range(_BS_BLOCK)
        ]
    )
    return g.select("event_type", F.explode(means).alias("mean_b"))


@query(
    "bootstrap_ci_poisson",
    oracle=f"""
        WITH h AS (
            SELECT event_type, value,
                   (list_reduce(list_transform(
                        string_split_regex(substr(md5(
                            'bs:' || CAST(event_id AS VARCHAR)), 1, 15), ''),
                        c -> CAST(instr('0123456789abcdef', c) - 1
                                  AS BIGINT)),
                    (a, d) -> a * 16 + d) % {_BS_P1}) AS h0
            FROM events),
        expl AS (
            SELECT e.event_type, e.value, b.b,
                   {_BS_W_SQL} AS w
            FROM h e CROSS JOIN (SELECT unnest(range(0, {_BS_B})) AS b) b),
        per AS (
            SELECT event_type, b,
                   round(sum(w * value) / greatest(sum(w), 1), 6) AS mean_b
            FROM expl GROUP BY event_type, b),
        pt AS (
            SELECT event_type, count(*) AS n_events,
                   round(avg(value), 4) AS mean_value
            FROM events GROUP BY event_type)
        SELECT p.event_type, CAST(p.n_events AS BIGINT) AS n_events,
               p.mean_value,
               round(quantile_cont(per.mean_b, 0.025), 4) AS ci_lo,
               round(quantile_cont(per.mean_b, 0.975), 4) AS ci_hi
        FROM per JOIN pt p USING (event_type)
        GROUP BY p.event_type, p.n_events, p.mean_value
    """,
)
def q_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-event-type
    mean (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012 — the bootstrap that actually runs at
    scale): instead of materializing B resamples of n rows, every row
    draws an independent Poisson(1) weight per resample, so the whole
    procedure is ONE pass producing B weighted means per group, and
    the 2.5/97.5 percentiles of those means are the 95% CI.

    Determinism AND hash economy: the portable md5-fold (the
    `weighted_sample_bernoulli` idiom) runs ONCE per row; each
    resample's draw is an exact modular mix of that fold —
    (h0·(2b+1) + 40503·b) mod 1009, both moduli prime so every
    per-resample multiplier is invertible and the draws stay uniform
    — compared against integer Poisson-CDF thresholds. One hash per
    row instead of B ({_BS_B}) cut the 1x ladder rung ~10x; weights
    are bit-identical across engines (pure integer arithmetic).
    Rows are mutually independent per resample (h0 is the random
    element), which is what the bootstrap variance estimate needs;
    the cross-resample mixing within one row is pseudo-random by the
    multiplier family, documented tradeoff vs per-(row,b) hashing.
    Per-resample means round at 6dp (sum-order discipline), CI
    endpoints use the exact interpolated quantile both engines
    define identically (`value_percentiles_exact` precedent) and
    round at 4dp.

    Plan at 100 TB: the B resamples are BLOCKED sqrt(B) x sqrt(B) —
    an x{_BS_BLOCK} row explode (b_hi), each exploded row feeding
    {_BS_BLOCK} weighted-sum aggregate column pairs (b_lo) — so the
    row blowup is {_BS_BLOCK}x instead of the r10 plan's {_BS_B}x
    while the aggregate stays narrow enough ({2 * _BS_BLOCK} buffer
    columns + keys, well under spark.sql.codegen.maxFields=100) for
    full WholeStageCodegen; the measured sf0.1 rung dropped ~3.5x vs
    the x{_BS_B} explode, and the all-columns variant (zero explode,
    {2 * _BS_B} agg columns) measured SLOWER because it breaks
    codegen. One (group, b_hi)-keyed partial agg — B x |groups|
    cells cross the exchange, exactly as before — then the
    {_BS_BLOCK}-wide cells unpivot in-expression (array + explode on
    the tiny aggregated table) into the same (group, b) mean stream.
    Compare the naive bootstrap: B full shuffles of n rows.
    Poisson(1) weights make resample sizes ~Poisson(n), the standard
    large-n approximation to multinomial resampling."""
    e = _t(spark, sf_dir, "events")
    per = _bs_blocked_means(e)
    pt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.avg("value"), 4).alias("mean_value"),
    )
    ci = per.groupBy("event_type").agg(
        F.round(F.percentile("mean_b", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("mean_b", F.lit(0.975)), 4).alias("ci_hi"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n_events", "mean_value", "ci_lo", "ci_hi"
    )


@query(
    "user_gap_regularity",
    oracle="""
        WITH t AS (
            SELECT user_id, event_id, epoch_ns(ts) AS ns FROM events),
        g AS (
            SELECT user_id,
                   (ns - lag(ns) OVER (
                        PARTITION BY user_id
                        ORDER BY ns, event_id)) / 1e9 AS gap_s
            FROM t),
        s AS (
            SELECT user_id, count(gap_s) AS n_gaps,
                   round(avg(gap_s), 4) AS mean_gap_s,
                   round(stddev_samp(gap_s), 4) AS stddev_gap_s
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY user_id HAVING count(gap_s) >= 9)
        SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
               mean_gap_s, stddev_gap_s,
               round(stddev_gap_s / greatest(mean_gap_s, 0.0001), 4) AS cv
        FROM s
        ORDER BY cv ASC, user_id LIMIT 20
    """,
)
def q_user_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot-cadence audit: per user, the coefficient of
    variation of inter-event gaps — humans are bursty (CV ~ 1 for a
    Poisson process), schedulers and scrapers are metronomic (CV near
    0) — reporting the 20 most-regular users with >= 10 events. The
    traffic-hygiene filter a training-data pipeline runs on
    interaction logs before trusting engagement signals
    (`events_entropy_rate` is the content twin; this is the TIMING
    one).

    Determinism: gaps derive from integer epoch-nanos with a
    (ts_ns, event_id) tiebreak in the lag window, converted to
    seconds by the same bigint/1e9 division in both engines
    (identical doubles row-wise); mean/stddev round at 4dp
    (`stats_aggregates` sum-order class) and CV divides the ROUNDED
    pair, so the ranking key is engine-identical; user_id breaks
    ties on the k-heap cut.

    Plan at 100 TB: ONE shuffle (user_id) feeding the lag window —
    gap computation is a single pass per partition; the per-user agg
    combines map-side; top-20 is TakeOrderedAndProject. Cardinality
    bounded by |users| before the cut, never |events|."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    g = e.select(
        "user_id",
        (
            (F.col("ts_ns") - F.lag("ts_ns").over(w)) / F.lit(1e9)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
            F.round(F.stddev_samp("gap_s"), 4).alias("stddev_gap_s"),
        )
        .filter(F.col("n_gaps") >= 9)
    )
    return (
        s.select(
            "user_id",
            "n_gaps",
            "mean_gap_s",
            "stddev_gap_s",
            F.round(
                F.col("stddev_gap_s")
                / F.greatest(F.col("mean_gap_s"), F.lit(0.0001)),
                4,
            ).alias("cv"),
        )
        .orderBy(F.asc("cv"), F.asc("user_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Data-quality / pipeline-observability audits (round 10, batch 4)
# ---------------------------------------------------------------------------

_FK_EDGES: list[tuple[str, str, str, str, bool]] = [
    # (child table, fk col, parent table, pk col, parent_is_fixed_dim)
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("orders", "o_custkey", "customer", "c_custkey", False),
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation", "n_regionkey", "region", "r_regionkey", True),
]


def _fk_edge_sql(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
        SELECT '{child}.{fk}->{parent}.{pk}' AS fk_edge,
               CAST(count(*) AS BIGINT) AS child_rows,
               CAST(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS orphan_rows,
               round(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS orphan_rate
        FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
          ON c.{fk} = p.{pk}
    """


@query(
    "referential_integrity_audit",
    oracle=" UNION ALL ".join(
        _fk_edge_sql(c, fk, p, pk) for c, fk, p, pk, _ in _FK_EDGES
    )
    + " ORDER BY fk_edge",
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan census over every FK edge in the star
    schema — the data-contract check a pipeline runs after every
    ingest/backfill before letting joins loose on the batch (an
    orphan fk silently DROPS rows from inner joins; this audit makes
    the loss visible as a rate per edge). `expectations_report` runs
    ONE RI check inside its mixed-expectation suite; this is the
    dedicated all-edges census with rates. One row per edge:
    child rows, orphan rows (fk with no parent key; a NULL fk counts
    as an orphan — testdata has none, so the strict and SQL-standard
    readings coincide), orphan rate.

    Determinism: pure integer counts + one 6dp integer-ratio round.

    Plan: per edge, one LEFT join of the child's fk column against
    the parent's distinct key, collapsed to a single row by a
    map-side-combined count/sum — Catalyst prunes both sides to the
    key columns (ReadSchema is 1 column per side). The two
    fixed-cardinality dims (nation, region) broadcast; the scaling
    parents (orders/part/supplier/customer at TPC-H SF) shuffle on
    the key — each edge is exactly one key-partitioned exchange of
    key columns only, the minimum any exact RI check can do at
    100 TB. Edges are independent single-row jobs — no barrier, and
    AQE can run them concurrently from one action."""
    out = None
    for child, fk, parent, pk, fixed_dim in _FK_EDGES:
        c = _t(spark, sf_dir, child).select(F.col(fk).alias("__fk"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("__pk")).distinct()
        if fixed_dim:
            p = F.broadcast(p)
        j = c.join(p, F.col("__fk") == F.col("__pk"), "left")
        row = j.agg(
            F.count(F.lit(1)).cast("long").alias("child_rows"),
            F.sum(F.col("__pk").isNull().cast("long"))
            .cast("long")
            .alias("orphan_rows"),
        ).select(
            F.lit(f"{child}.{fk}->{parent}.{pk}").alias("fk_edge"),
            "child_rows",
            "orphan_rows",
            F.round(F.col("orphan_rows") * 1.0 / F.col("child_rows"), 6).alias(
                "orphan_rate"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk_edge")


_ACF_MAX_LAG = 24


@query(
    "events_autocorrelation",
    oracle=f"""
        WITH e AS (
            SELECT epoch_ns(ts) // 3600000000000 AS h FROM events),
        cnt AS (SELECT h, count(*) AS x FROM e GROUP BY h),
        bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM cnt),
        grid AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
        s AS (
            SELECT g.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
            FROM grid g LEFT JOIN cnt c ON g.h = c.h),
        gm AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s1,
                   CAST(sum(x * x) AS BIGINT) AS q
            FROM s),
        lagd AS (
            SELECT k.k AS lag,
                   CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
                   CAST(sum(a.x) AS BIGINT) AS sa,
                   CAST(sum(b.x) AS BIGINT) AS sb
            FROM s a
            CROSS JOIN (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS k) k
            JOIN s b ON b.h = a.h + k.k
            GROUP BY k.k)
        SELECT CAST(lag AS INT) AS lag, m AS n_pairs,
               round((sxy - (s1 * 1.0 / n) * (sa + sb)
                      + m * (s1 * 1.0 / n) * (s1 * 1.0 / n))
                     / (q - n * (s1 * 1.0 / n) * (s1 * 1.0 / n)), 6) AS acf
        FROM lagd CROSS JOIN gm
        ORDER BY lag
    """,
)
def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the hourly event-count series at
    lags 1..24 — the periodicity fingerprint read before building
    time features or anomaly baselines (a daily cycle shows as an
    acf peak at lag 24; load bursts show as high low-lag acf —
    `events_acf_by_type` reads lag-1/2 of each type's hourly MEAN
    metric; this is the full 24-lag spectrum of global LOAD). The
    series is the GAP-FILLED hourly grid (`events_resample`'s
    densify discipline — a plain groupBy would silently skip empty
    hours and shift every lag alignment). Standard sample ACF:
    r_k = sum_t (x_t - mu)(x_{t+k} - mu) / sum_t (x_t - mu)^2 with
    the full-series mean and variance.

    Determinism: counts are integers; every per-lag and global sum
    (sum xy, sum x, sum x^2) is an INTEGER aggregate, and the ACF
    formula expands so mu enters only in single-row arithmetic on
    those integers — no double summation anywhere, 6dp round.

    Plan: one map-side-combined groupBy(hour) — the only event-sized
    exchange; the grid/lag machinery runs on the hour series, whose
    length is CALENDAR-bounded (8.8k rows/year regardless of event
    count, so the lag self-join costs |hours| x 24 rows at 100 TB,
    i.e. nothing); global moments attach by 1-row broadcast."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("ts_ns div 3600000000000").alias("h")
    )
    cnt = e.groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    grid = cnt.agg(F.min("h").alias("lo"), F.max("h").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("h")
    )
    # r13: the calendar-bounded hourly series feeds the global
    # moments and BOTH sides of the lag join — checkpoint it so the
    # event-sized hourly census runs once.
    s = materialize(grid.join(cnt, "h", "left").select(
        "h", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    ))
    glob = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    lags = s.select(
        "h",
        "x",
        F.explode(
            F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))
        ).alias("k"),
    ).withColumn("h2", F.col("h") + F.col("k"))
    b = s.select(F.col("h").alias("h2"), F.col("x").alias("y"))
    lagd = (
        lags.join(b, "h2")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum("x").cast("long").alias("sa"),
            F.sum("y").cast("long").alias("sb"),
        )
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    return (
        lagd.crossJoin(F.broadcast(glob))
        .select(
            F.col("k").cast("int").alias("lag"),
            F.col("m").alias("n_pairs"),
            F.round(
                (F.col("sxy") - mu * (F.col("sa") + F.col("sb")) + F.col("m") * mu * mu)
                / (F.col("q") - F.col("n") * mu * mu),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "l_diversity_audit",
    oracle="""
        WITH qi AS (
            SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hod,
                   CAST(floor(value / 10.0) AS BIGINT) AS vband,
                   event_type
            FROM events),
        cls AS (
            SELECT hod, vband, event_type, count(*) AS c
            FROM qi GROUP BY hod, vband, event_type),
        per AS (
            SELECT hod, vband,
                   CAST(count(*) AS BIGINT) AS l,
                   CAST(sum(c) AS BIGINT) AS m,
                   CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)) * 1000000, 0)
                                 AS BIGINT)) AS BIGINT) AS slc_m
            FROM cls GROUP BY hod, vband)
        SELECT l,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(m) AS BIGINT) AS n_records,
               round(min(exp(ln(CAST(m AS DOUBLE))
                             - slc_m / 1000000.0 / m)), 6)
                   AS min_entropy_l,
               round(max(exp(ln(CAST(m AS DOUBLE))
                             - slc_m / 1000000.0 / m)), 6)
                   AS max_entropy_l
        FROM per GROUP BY l ORDER BY l
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2006 — the
    re-identification defense k-anonymity alone can't give): within
    each quasi-identifier equivalence class — (hour-of-day, value
    decaband), the `k_anonymity_audit` keys MINUS the sensitive
    attribute — how diverse is the SENSITIVE attribute (event_type)?
    A class can be k-large yet reveal everyone's event type if all
    its rows share one value (the homogeneity attack). Reports, per
    distinct-sensitive-count level l: class count, record count, and
    the min/max ENTROPY l-diversity exp(H) (the strictest published
    variant — entropy-l >= l requires near-uniform sensitive mix).

    Determinism: class keys are integer epoch/band math; per-class
    entropy uses H = ln(m) - sum(c*ln c)/m on exact integer counts,
    with each c*ln(c) term quantized to INTEGER MICRO-UNITS
    (round(x*1e6) as bigint, the naive_bayes_langid pattern) so the
    per-class sum is an order-independent integer — no double sum
    anywhere, so partial-aggregation order can never flip a 6dp
    boundary; cross-class rollups use only min/max; 6dp round.

    Plan: one (hod, vband, type)-keyed count (map-side combined, the
    only corpus-sized exchange), one bounded (24 x |bands|)-row
    class rollup, one <=|types|-row report agg. Flat at 100 TB."""
    e = _t(spark, sf_dir, "events")
    qi = e.select(
        (F.expr("ts_ns div 3600000000000") % 24).alias("hod"),
        F.floor(F.col("value") / 10.0).cast("long").alias("vband"),
        "event_type",
    )
    cls = qi.groupBy("hod", "vband", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per = cls.groupBy("hod", "vband").agg(
        F.count(F.lit(1)).cast("long").alias("l"),
        F.sum("c").cast("long").alias("m"),
        F.sum(
            F.round(
                F.col("c") * F.log(F.col("c").cast("double")) * 1000000, 0
            ).cast("long")
        )
        .cast("long")
        .alias("slc_m"),
    )
    el = F.exp(
        F.log(F.col("m").cast("double"))
        - F.col("slc_m") / F.lit(1000000.0) / F.col("m")
    )
    return (
        per.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("m").cast("long").alias("n_records"),
            F.round(F.min(el), 6).alias("min_entropy_l"),
            F.round(F.max(el), 6).alias("max_entropy_l"),
        )
        .orderBy("l")
    )


@query(
    "auc_mann_whitney",
    oracle="""
        WITH s AS (
            SELECT value AS v,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS np,
                   CAST(sum(CASE WHEN event_type <> 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS nn
            FROM events GROUP BY value),
        c AS (SELECT np, nn,
                     sum(nn) OVER (ORDER BY v) - nn AS below
              FROM s),
        t AS (SELECT CAST(sum(np) AS BIGINT) AS p,
                     CAST(sum(nn) AS BIGINT) AS nneg,
                     CAST(sum(CASE WHEN np > 0 AND nn > 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS nt
              FROM s)
        SELECT p AS n_pos, nneg AS n_neg, nt AS n_tie_scores,
               round(sum(2 * np * below + np * nn) * 1.0
                     / (2.0 * p * nneg), 6) AS auc
        FROM c CROSS JOIN t GROUP BY p, nneg, nt
    """,
)
def q_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC by the Mann-Whitney U rank statistic: does the
    event VALUE separate purchases from non-purchases? AUC =
    P(score_pos > score_neg) + 0.5 * P(tie) — computed exactly from
    per-distinct-score (pos, neg) counts and the running count of
    negatives below each score, never from a pairwise join (the
    naive P x N comparison is quadratic; this is the standard
    rank-sum identity). The evaluation primitive every
    classifier/quality-score pipeline needs at corpus scale —
    `quality_score`/`perplexity_bucket_report` rank documents, this
    measures how well any such score ranks a binary label.

    Determinism: everything up to the final division is INTEGER —
    per-score counts, the exclusive prefix sum of negatives
    (`ranking.global_cumsum`, integer fold), and the 2U accumulator
    2*np*below + np*nn (doubled to keep the 0.5-tie term integral);
    one integer-ratio round at 6dp.

    Plan: one groupBy(value) — the only event-sized exchange; the
    prefix sum range-partitions the distinct-score table and
    attaches per-partition offsets via the broadcast count-ahead
    fold (window-free on every path); the totals attach by 1-row
    broadcast; the final reduce is single-row. At 100 TB the
    distinct-score table is the working set — itself distributed,
    never collected."""
    from hadoop_wordcount_spark.operators.ranking import global_cumsum

    e = _t(spark, sf_dir, "events").select("value", "event_type")
    s = e.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("np"),
        F.sum(
            F.when(F.col("event_type") != "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("nn"),
    )
    # r13: the distinct-score table feeds both the prefix-sum chain
    # and the totals aggregate — materialize the one event-sized
    # exchange instead of running it per consumer.
    s = materialize(s)
    c = global_cumsum(s, [("value", False)], "nn", out="cumnn").withColumn(
        "below", F.col("cumnn") - F.col("nn")
    )
    t = s.agg(
        F.sum("np").cast("long").alias("p"),
        F.sum("nn").cast("long").alias("nneg"),
        F.sum(F.when((F.col("np") > 0) & (F.col("nn") > 0), 1).otherwise(0))
        .cast("long")
        .alias("nt"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("p", "nneg", "nt")
        .agg(
            F.round(
                F.sum(
                    2 * F.col("np") * F.col("below") + F.col("np") * F.col("nn")
                )
                * 1.0
                / (2.0 * F.col("p") * F.col("nneg")),
                6,
            ).alias("auc")
        )
        .select(
            F.col("p").alias("n_pos"),
            F.col("nneg").alias("n_neg"),
            F.col("nt").alias("n_tie_scores"),
            "auc",
        )
    )


@query(
    "events_seasonality_profile",
    oracle="""
        WITH e AS (
            SELECT (epoch_ns(ts) // 86400000000000) % 7 AS dow,
                   (epoch_ns(ts) // 3600000000000) % 24 AS hod,
                   event_type
            FROM events),
        cell_type AS (
            SELECT dow, hod, event_type, count(*) AS c
            FROM e GROUP BY dow, hod, event_type),
        cell AS (
            SELECT dow, hod,
                   CAST(sum(c) AS BIGINT) AS n,
                   min(ROW(-c, event_type)) AS top_
            FROM cell_type GROUP BY dow, hod),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cell)
        SELECT CAST(dow AS INT) AS dow, CAST(hod AS INT) AS hod, n,
               top_[2] AS top_type,
               round(n * 1.0 / t, 6) AS pct_of_total,
               round(n * 168.0 / t, 4) AS load_index
        FROM cell CROSS JOIN tot
        ORDER BY dow, hod
    """,
)
def q_events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality grid: event load by (day-of-week,
    hour-of-day) — 168 cells, each with its volume, share,
    LOAD INDEX (observed / uniform expectation; 1.0 = flat,
    capacity planning reads the max) and dominant event type. The
    weekly-period complement to `events_autocorrelation` (which
    detects periodicity; this localizes it) and the baseline grid an
    anomaly detector normalizes against before alerting
    (`orders_seasonality_index` is the month-of-year revenue analogue
    on the orders fact; this is the within-week operational grid).

    Day-of-week is epoch-day mod 7 (day 0 = Thursday 1970-01-01 —
    a fixed, timezone-free labeling both engines compute as integer
    nanos math; a calendar dayofweek() would drag session timezones
    into the key). Counts are integers; share and index are
    integer-ratio single-row math; the dominant type is the
    min(struct(-count, type)) argmax — tie-safe.

    Plan: one (dow, hod, type)-keyed map-side-combined count — the
    only event-sized exchange (the 168-cell rollup and the 1-row
    total broadcast are free). Flat at 100 TB."""
    e = _t(spark, sf_dir, "events").select(
        (F.expr("ts_ns div 86400000000000") % 7).alias("dow"),
        (F.expr("ts_ns div 3600000000000") % 24).alias("hod"),
        "event_type",
    )
    ct = e.groupBy("dow", "hod", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    cell = ct.groupBy("dow", "hod").agg(
        F.sum("c").cast("long").alias("n"),
        F.min(
            F.struct((-F.col("c")).alias("nc"), F.col("event_type").alias("t"))
        )
        .getField("t")
        .alias("top_type"),
    )
    tot = cell.agg(F.sum("n").cast("long").alias("t"))
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hod").cast("int").alias("hod"),
            "n",
            "top_type",
            F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("pct_of_total"),
            F.round(F.col("n") * 168.0 / F.col("t"), 4).alias("load_index"),
        )
        .orderBy("dow", "hod")
    )


def _psi_bin_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed PSI bin census — the per-row decile
    binning as a codegen'd CASE chain closed by one (bin, half)
    count. Split out so `test_psi_binning_is_codegen_not_hof` can pin
    the CASE chain: the registered query checkpoints this table
    (r13), which hides the upstream plan from the final explain."""
    e = _t(spark, sf_dir, "events").select("value", "ts_ns")
    b = e.agg(
        F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi")
    )
    lab = e.crossJoin(F.broadcast(b)).select(
        "value",
        F.when(
            F.col("ts_ns") <= F.expr("(lo + hi) div 2"), "ref"
        )
        .otherwise("cur")
        .alias("half"),
    )
    edges = lab.filter(F.col("half") == "ref").agg(
        F.transform(
            F.percentile(
                "value",
                F.array(*[F.lit(p / 10.0) for p in range(1, 10)]),
            ),
            lambda x: F.round(x, 6),
        ).alias("ed")
    )
    binned = lab.crossJoin(F.broadcast(edges))
    bin_col = F.lit(9)
    for i in range(9, 0, -1):
        bin_col = F.when(
            F.col("value") <= F.col("ed").getItem(i - 1), i - 1
        ).otherwise(bin_col)
    return binned.select(bin_col.alias("bin"), "half").groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )


@query(
    "psi_feature_drift",
    oracle="""
        WITH b AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
                   FROM events),
        lab AS (
            SELECT value,
                   CASE WHEN epoch_ns(ts) <= (b.lo + b.hi) // 2
                        THEN 'ref' ELSE 'cur' END AS half
            FROM events CROSS JOIN b),
        edges AS (
            SELECT list_transform(
                       quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                       e -> round(e, 6)) AS ed
            FROM lab WHERE half = 'ref'),
        binned AS (
            SELECT half,
                   CASE WHEN value <= ed[1] THEN 0
                        WHEN value <= ed[2] THEN 1
                        WHEN value <= ed[3] THEN 2
                        WHEN value <= ed[4] THEN 3
                        WHEN value <= ed[5] THEN 4
                        WHEN value <= ed[6] THEN 5
                        WHEN value <= ed[7] THEN 6
                        WHEN value <= ed[8] THEN 7
                        WHEN value <= ed[9] THEN 8
                        ELSE 9 END AS bin
            FROM lab CROSS JOIN edges),
        cnt AS (
            SELECT bin,
                   CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ref,
                   CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_cur
            FROM binned GROUP BY bin),
        tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
                       CAST(sum(n_cur) AS BIGINT) AS tc FROM cnt)
        SELECT CAST(bin AS INT) AS bin, n_ref, n_cur,
               round((n_ref + 1.0) / (tr + 10), 6) AS p_ref,
               round((n_cur + 1.0) / (tc + 10), 6) AS p_cur,
               round(((n_ref + 1.0) / (tr + 10) - (n_cur + 1.0) / (tc + 10))
                     * ln(((n_ref + 1.0) * (tc + 10))
                          / ((n_cur + 1.0) * (tr + 10))), 6) AS psi_contrib
        FROM cnt CROSS JOIN tot ORDER BY bin
    """,
)
def q_psi_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: split the event feed
    at the midpoint of its time range, bin the CURRENT half's value
    distribution by the REFERENCE half's deciles, and report the
    per-bin PSI contribution (p_ref - p_cur) * ln(p_ref / p_cur) —
    the standard train/serve skew alarm (rule of thumb: total PSI
    < 0.1 stable, > 0.25 retrain). The production-ML companion to
    `events_changepoint_cusum` (which finds WHEN a shift happened;
    this quantifies HOW FAR the distribution moved, bin by bin).

    Determinism: the time split is integer-nanos midpoint math; bin
    edges are exact order-statistic deciles of the reference half
    ROUNDED AT 6dp before any comparison (the `events_mad_outliers`
    discipline); counts are integers; probabilities are
    Laplace-smoothed integer ratios (+1/+10 — also what keeps empty
    bins finite); the log argument is a single integer-product
    ratio, so both engines take ln of bit-identical doubles.

    Plan: one pass for time bounds (min/max partial agg), one
    sort-based decile agg over the reference half, then ONE
    map-side-combined (bin, half) count with the 9 edges attached as
    a broadcast 1-row array — the CASE chain is whole-stage-codegen
    comparisons, not an interpreted HOF (the bootstrap_ci_poisson
    lesson). Flat at 100 TB; swap percentile for the DDSketch census
    when the reference half is itself huge."""
    # r13: the 10-row bin census (see _psi_bin_counts — the CASE-chain
    # binning the plan pin inspects) feeds the totals aggregate and
    # the final report — materialize it so the fact passes (decile
    # agg + bin count) run once, not once per reference.
    cnt = materialize(_psi_bin_counts(spark, sf_dir))
    tot = cnt.agg(
        F.sum("n_ref").cast("long").alias("tr"),
        F.sum("n_cur").cast("long").alias("tc"),
    )
    pr = (F.col("n_ref") + 1.0) / (F.col("tr") + 10)
    pc = (F.col("n_cur") + 1.0) / (F.col("tc") + 10)
    lg = F.log(
        ((F.col("n_ref") + 1.0) * (F.col("tc") + 10))
        / ((F.col("n_cur") + 1.0) * (F.col("tr") + 10))
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_ref",
            "n_cur",
            F.round(pr, 6).alias("p_ref"),
            F.round(pc, 6).alias("p_cur"),
            F.round((pr - pc) * lg, 6).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


@query(
    "conformal_interval_coverage",
    oracle="""
        WITH b AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
                   FROM events),
        lab AS (
            SELECT event_type, value,
                   CASE WHEN epoch_ns(ts) < b.lo + (b.hi - b.lo + 1) // 3
                        THEN 0
                        WHEN epoch_ns(ts) < b.lo + 2 * ((b.hi - b.lo + 1) // 3)
                        THEN 1 ELSE 2 END AS part
            FROM events CROSS JOIN b),
        fit AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_fit,
                   round(sum(CAST(round(value * 100, 0) AS BIGINT))
                         / (100.0 * count(*)), 6) AS mu
            FROM lab WHERE part = 0 GROUP BY event_type),
        cal AS (
            SELECT l.event_type,
                   round(quantile_cont(abs(l.value - f.mu), 0.9), 6) AS q90
            FROM lab l JOIN fit f USING (event_type)
            WHERE l.part = 1 GROUP BY l.event_type),
        test AS (
            SELECT l.event_type,
                   CAST(count(*) AS BIGINT) AS n_test,
                   CAST(sum(CASE WHEN abs(l.value - f.mu) <= c.q90
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM lab l JOIN fit f USING (event_type)
                       JOIN cal c USING (event_type)
            WHERE l.part = 2 GROUP BY l.event_type)
        SELECT t.event_type, f.n_fit, f.mu, c.q90, t.n_test, t.n_covered,
               round(t.n_covered * 1.0 / t.n_test, 6) AS coverage
        FROM test t JOIN fit f USING (event_type) JOIN cal c USING (event_type)
        ORDER BY t.event_type
    """,
)
def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval with empirical coverage
    (Vovk et al.; Lei et al. 2018): three temporal thirds of the
    event feed — FIT a per-type point predictor (the mean) on the
    first, CALIBRATE the 90% nonconformity quantile (q90 of
    |value - mu|) on the second, and report the interval's realized
    COVERAGE on the held-out third. The distribution-free guarantee
    every modern uncertainty pipeline leans on: if the feed is
    exchangeable, coverage lands near 90% REGARDLESS of the
    predictor's quality — and a coverage collapse on the test third
    is itself a drift alarm (the decision-grade companion to
    `psi_feature_drift`'s distribution view).

    Determinism: the 3-way split is integer-nanos boundary math; the
    fit mean is exact integer CENTS over an integer count (values
    are 2dp by construction — `_sum_money` discipline), rounded at
    6dp BEFORE residuals; q90 is an exact order statistic rounded at
    6dp before the coverage comparison (`events_mad_outliers`' —
    now `event_anomaly_mad`'s — rounding-before-reuse rule); counts
    are integers.

    Plan: one bounds agg, then three passes over the fact (fit agg,
    calibration percentile, coverage count), each one
    event_type-keyed map-side-combined exchange with the
    |types|-row fit/cal tables broadcast back. The percentile is
    the one sort-based stage; at 100 TB swap in the DDSketch census
    (`ddsketch_quantiles`) for q90 at a known relative-error cost."""
    e = _t(spark, sf_dir, "events").select("event_type", "value", "ts_ns")
    b = e.agg(F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi"))
    third = F.expr("(hi - lo + 1) div 3")
    lab = e.crossJoin(F.broadcast(b)).select(
        "event_type",
        "value",
        F.when(F.col("ts_ns") < F.col("lo") + third, 0)
        .when(F.col("ts_ns") < F.col("lo") + 2 * third, 1)
        .otherwise(2)
        .alias("part"),
    )
    # r13: the |types|-row fit table is referenced by the cal
    # pass, the test pass AND the final report join — checkpoint
    # it (and cal below) so the fact scan appears once per pass
    # instead of once per reference (plan was 729 lines).
    fit = materialize(
        lab.filter(F.col("part") == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fit"),
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                / (100.0 * F.count(F.lit(1))),
                6,
            ).alias("mu"),
        )
    )
    cal = materialize(
        lab.filter(F.col("part") == 1)
        .join(F.broadcast(fit), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("mu")), F.lit(0.9)), 6
            ).alias("q90")
        )
    )
    test = (
        lab.filter(F.col("part") == 2)
        .join(F.broadcast(fit), "event_type")
        .join(F.broadcast(cal), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (F.abs(F.col("value") - F.col("mu")) <= F.col("q90")).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        test.join(F.broadcast(fit), "event_type")
        .join(F.broadcast(cal), "event_type")
        .select(
            "event_type",
            "n_fit",
            "mu",
            "q90",
            "n_test",
            "n_covered",
            F.round(F.col("n_covered") * 1.0 / F.col("n_test"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "theil_sen_trend",
    oracle="""
        WITH d AS (
            SELECT epoch_ns(ts) // 86400000000000 AS day, count(*) AS x
            FROM events GROUP BY day),
        mn AS (SELECT min(day) AS m0 FROM d),
        s AS (SELECT day - m0 AS t, CAST(x AS BIGINT) AS x
              FROM d CROSS JOIN mn),
        pairs AS (
            SELECT (b.x - a.x) * 1.0 / (b.t - a.t) AS slope
            FROM s a JOIN s b ON b.t > a.t),
        sl AS (SELECT round(quantile_cont(slope, 0.5), 6) AS slope,
                      CAST(count(*) AS BIGINT) AS n_pairs
               FROM pairs)
        SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_days,
               sl.n_pairs, sl.slope,
               round(quantile_cont(s.x - sl.slope * s.t, 0.5), 6)
                   AS intercept
        FROM s CROSS JOIN sl GROUP BY sl.n_pairs, sl.slope
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume: the MEDIAN of
    all pairwise slopes between daily counts (and the median-residual
    intercept) — the trend estimator with a 29% breakdown point,
    immune to the outlier days that wreck an OLS fit
    (`lineitem_regr_family` / `discount_elasticity` are the
    moment-based least-squares family; this is their robust twin,
    exactly as `event_anomaly_mad` is to z-scores).

    Determinism: daily counts are integers on integer epoch-day
    keys; every pairwise slope is an integer-difference ratio
    (bit-identical doubles); both medians are exact order statistics
    rounded at 6dp, with the slope rounded BEFORE the intercept
    residuals reuse it.

    Plan/scale: the pair stage is a self-join of the DAILY series —
    CALENDAR-bounded, not data-bounded (a decade is ~3.7k rows →
    ~6.6M slope pairs, trivially partitionable), so the operator is
    one map-side-combined groupBy(day) over the corpus plus
    bounded-table work; the textbook O(n^2) cost lands on n = days,
    never on events."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("ts_ns div 86400000000000").alias("day")
    )
    # r14: eager checkpoint on the calendar-bounded daily series (was
    # cache() on `s` only): `d` is referenced by BOTH the min-day
    # scalar and `s`, so a lazy `d` ran the events scan+agg twice —
    # the r13 plan showed 10 scans / 27 Exchanges. One materialized
    # ~30-row table pins ONE events pass; everything after (pair
    # self-join, medians, day count) is bounded work over it
    # (guide §5; measured 5x scan cost at the 256x rung uncached).
    d = materialize(
        e.groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    mn = d.agg(F.min("day").alias("m0"))
    s = d.crossJoin(F.broadcast(mn)).select(
        (F.col("day") - F.col("m0")).alias("t"), "x"
    )
    a = s.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = s.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("tb") > F.col("ta")).select(
        ((F.col("xb") - F.col("xa")) * 1.0 / (F.col("tb") - F.col("ta"))).alias(
            "slope"
        )
    )
    sl = pairs.agg(
        F.round(F.percentile("slope", F.lit(0.5)), 6).alias("slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    nd = s.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        s.crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(nd))
        .groupBy("n_days", "n_pairs", "slope")
        .agg(
            F.round(
                F.percentile(
                    F.col("x") - F.col("slope") * F.col("t"), F.lit(0.5)
                ),
                6,
            ).alias("intercept")
        )
        .select("n_days", "n_pairs", "slope", "intercept")
    )


@query(
    "events_linear_interpolate",
    oracle="""
        WITH e AS (
            SELECT event_type, epoch_ns(ts) // 3600000000000 AS bkt,
                   CAST(round(value * 1000, 0) AS BIGINT) AS mills
            FROM events),
        agg AS (
            SELECT event_type, bkt,
                   CAST(round(sum(mills) / count(*), 0) AS BIGINT) AS avg_m
            FROM e GROUP BY 1, 2),
        rng AS (SELECT event_type, min(bkt) AS mn, max(bkt) AS mx
                FROM agg GROUP BY 1),
        grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bkt
                 FROM rng),
        j AS (
            SELECT g.event_type, g.bkt, a.avg_m,
                   last_value(CASE WHEN a.avg_m IS NOT NULL
                                   THEN ROW(g.bkt, a.avg_m) END IGNORE NULLS)
                       OVER (PARTITION BY g.event_type ORDER BY g.bkt
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS pv,
                   first_value(CASE WHEN a.avg_m IS NOT NULL
                                    THEN ROW(g.bkt, a.avg_m) END IGNORE NULLS)
                       OVER (PARTITION BY g.event_type ORDER BY g.bkt
                             ROWS BETWEEN CURRENT ROW
                                      AND UNBOUNDED FOLLOWING) AS nv
            FROM grid g
            LEFT JOIN agg a
              ON g.event_type = a.event_type AND g.bkt = a.bkt)
        SELECT event_type, bkt,
               CASE WHEN avg_m IS NOT NULL THEN 'observed'
                    WHEN pv IS NULL OR nv IS NULL THEN 'edge'
                    ELSE 'interpolated' END AS kind,
               CASE WHEN avg_m IS NOT NULL THEN avg_m / 1000.0
                    WHEN pv IS NULL OR nv IS NULL THEN NULL
                    ELSE ((2 * (pv[2] * (nv[1] - bkt)
                                + nv[2] * (bkt - pv[1]))
                           + (nv[1] - pv[1]))
                          // (2 * (nv[1] - pv[1]))) / 1000.0
               END AS value
        FROM j
    """,
)
def q_events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gaps in the hourly mean-value series —
    the CONTINUOUS gap-fill between `events_resample` (zeros) and
    `events_locf_impute` (step function): missing buckets take the
    straight line between the nearest observed neighbors (pandas'
    `interpolate(method='linear')`, the default for sensor/price
    level series), leading/trailing gaps stay null and are labeled
    `edge` so consumers can trim them.

    Determinism: bucket means follow the LOCF entry's exact-mills
    discipline carried as INTEGER MILLS end-to-end; the neighbor
    carriers are `last/first_value(... IGNORE NULLS)` over structs
    of (bucket, mills), and the interpolation itself is integer
    round-half-up — (2*(pv*(nb-b)+nv*(b-pb)) + D) div (2D) — so no
    double is ever rounded near a decimal boundary (a 4dp round of
    the naive double form flipped a half-boundary at sf0.001); the
    single /1000.0 display divide is exact-mills-to-double.

    Plan: one (type, hour) partial+final agg collapses the corpus;
    both neighbor windows run per type over the CALENDAR-bounded
    grid (|types| x |hours| rows — at 100 TB still thousands), never
    raw events."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 3600000000000").alias("bkt"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("mills"),
    )
    agg = e.groupBy("event_type", "bkt").agg(
        F.round(F.sum("mills") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("avg_m")
    )
    grid = (
        agg.groupBy("event_type")
        .agg(F.min("bkt").alias("mn"), F.max("bkt").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("bkt"))
    )
    j = grid.join(agg, ["event_type", "bkt"], "left")
    carrier = F.when(
        F.col("avg_m").isNotNull(),
        F.struct(F.col("bkt").alias("b"), F.col("avg_m").alias("v")),
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = j.select(
        "event_type",
        "bkt",
        "avg_m",
        F.last(carrier, ignorenulls=True).over(wp).alias("pv"),
        F.first(carrier, ignorenulls=True).over(wn).alias("nv"),
    )
    # integer round-half-up interpolation in exact mills:
    # (2*(pv*(nb-b) + nv*(b-pb)) + D) div (2*D) — no double ever
    # rounds near a decimal boundary (the 32.2925 trap, see LOCF)
    interp_m = F.expr(
        "(2 * (pv.v * (nv.b - bkt) + nv.v * (bkt - pv.b))"
        " + (nv.b - pv.b)) div (2 * (nv.b - pv.b))"
    )
    return j.select(
        "event_type",
        "bkt",
        F.when(F.col("avg_m").isNotNull(), "observed")
        .when(F.col("pv").isNull() | F.col("nv").isNull(), "edge")
        .otherwise("interpolated")
        .alias("kind"),
        F.when(F.col("avg_m").isNotNull(), F.col("avg_m") / 1000.0)
        .when(
            F.col("pv").isNull() | F.col("nv").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(interp_m / 1000.0)
        .alias("value"),
    )


_FORGET_PREFIX = "00"  # md5 bucket ~ 1/256 of customers


@query(
    "delete_cascade_audit",
    oracle=f"""
        WITH fs AS (
            SELECT c_custkey FROM customer
            WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2)
                  = '{_FORGET_PREFIX}'),
        ords AS (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM fs)),
        rows_ AS (
            SELECT 'customer' AS tbl,
                   CAST((SELECT count(*) FROM fs) AS BIGINT) AS n_delete,
                   CAST((SELECT count(*) FROM customer) AS BIGINT)
                       AS n_table
            UNION ALL
            SELECT 'orders',
                   CAST((SELECT count(*) FROM ords) AS BIGINT),
                   CAST((SELECT count(*) FROM orders) AS BIGINT)
            UNION ALL
            SELECT 'lineitem',
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IN
                               (SELECT o_orderkey FROM ords)) AS BIGINT),
                   CAST((SELECT count(*) FROM lineitem) AS BIGINT))
        SELECT tbl, n_delete, n_table,
               round(n_delete * 1.0 / n_table, 6) AS pct_of_table
        FROM rows_ ORDER BY tbl
    """,
)
def q_delete_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: for a deterministic
    forget-set of customers (md5 bucket — the repo's seeded-sampling
    stand-in for a real deletion request list), count the rows that
    a compliant cascade would remove from every table reachable
    along the FK edges (customer -> orders -> lineitem), with each
    table's share. The data-governance PLANNING read before running
    a GDPR/CCPA erasure: how much data moves, which table dominates
    the rewrite, and is the blast radius proportionate to the
    request. Complements `referential_integrity_audit` (the same
    edge graph, walked downward instead of validated upward) and
    `cdc_apply_changes` (the mechanism that applies the tombstones
    this audit sizes).

    Determinism: the forget-set is an md5-prefix bucket; everything
    else is integer counts + one 6dp integer-ratio round.

    Plan: the forget-set and affected-orders key sets are
    key-column-only semi joins (left semi on the fk), each a single
    key-pruned exchange; counts are map-side-combined single-row
    aggs. At 100 TB this is two semi joins and three counts — the
    cheapest possible exact blast-radius measurement."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # r13: each cascade level feeds the NEXT level's semi join AND its
    # own report row — checkpoint the (small, ~0.4%-selected) key sets
    # so each semi join runs once, not once per reference.
    fs = materialize(c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2)
        == _FORGET_PREFIX
    ).select("c_custkey"))
    ords = materialize(
        o.join(fs, o.o_custkey == fs.c_custkey, "left_semi")
        .select("o_orderkey")
    )
    li_hit = li.join(ords, li.l_orderkey == ords.o_orderkey, "left_semi")

    def row(label: str, deleted: DataFrame, table: DataFrame) -> DataFrame:
        # declarative 1-row report: two count aggregates crossed —
        # no driver-side action anywhere (the repo's no-collect rule)
        nd = deleted.agg(F.count(F.lit(1)).cast("long").alias("n_delete"))
        nt = table.agg(F.count(F.lit(1)).cast("long").alias("n_table"))
        return nd.crossJoin(F.broadcast(nt)).select(
            F.lit(label).alias("tbl"), "n_delete", "n_table"
        )

    out = (
        row("customer", fs, c)
        .unionByName(row("orders", ords, o))
        .unionByName(row("lineitem", li_hit, li))
    )
    return out.select(
        "tbl",
        "n_delete",
        "n_table",
        F.round(F.col("n_delete") * 1.0 / F.col("n_table"), 6).alias(
            "pct_of_table"
        ),
    ).orderBy("tbl")


@query(
    "value_moments_by_type",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events),
        m AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS DOUBLE) AS s1,
                   CAST(sum(c * c) AS DOUBLE) AS s2,
                   CAST(sum(c * c * c) AS DOUBLE) AS s3,
                   CAST(sum(CAST(c * c AS HUGEINT)
                            * CAST(c * c AS HUGEINT)) AS DOUBLE) AS s4
            FROM c GROUP BY event_type)
        SELECT event_type, n,
               round(s1 / n / 100.0, 6) AS mean,
               round((s2 / n - (s1 / n) * (s1 / n)) / 10000.0, 6)
                   AS variance,
               round((s3 / n - 3 * (s1 / n) * (s2 / n)
                      + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                     / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6)
                   AS skewness,
               round((s4 / n - 4 * (s1 / n) * (s3 / n)
                      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                     / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6)
                   AS kurtosis_excess
        FROM m ORDER BY event_type
    """,
)
def q_value_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution shape per event type: skewness and
    excess kurtosis alongside mean/variance — the tail-shape report
    (`stats_aggregates` stops at second moments; heavy positive skew
    or kurtosis >> 0 is what says 'p99 thinking required' before any
    percentile is computed). Built-in skewness()/kurtosis() would
    sum DOUBLES in partition order — order-dependent partials — so
    this computes raw moments as EXACT integer sums instead: cents
    up to the 3rd power fit a long per element, the 4th power goes
    through decimal(19)/HUGEINT PRODUCTS (56021 cents^4 = 9.85e18
    overflows a long by 7% — caught by the ladder's full evaluation
    at 1x; a count() smoke had pruned the unused column), and every
    cross-partition sum is decimal(38)/HUGEINT — exact in both
    engines; the central moments derive in single-row arithmetic on
    the identical nearest-double casts. 6dp round.

    Plan: ONE map-side-combined groupBy(event_type) computing five
    sums — a single scan, no second pass, no sort; the moment
    algebra runs on |types| rows. Flat at 100 TB (and mergeable:
    raw-moment sums are the canonical associative aggregation
    state)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    c, c2 = F.col("c"), F.col("c") * F.col("c")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(c2.cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum((c2 * c).cast("decimal(38,0)")).cast("double").alias("s3"),
        F.sum(c2.cast("decimal(19,0)") * c2.cast("decimal(19,0)"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "event_type",
        "n",
        F.round(mu / 100.0, 6).alias("mean"),
        F.round(m2 / 10000.0, 6).alias("variance"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(m2, 2) - 3, 6).alias("kurtosis_excess"),
    ).orderBy("event_type")
