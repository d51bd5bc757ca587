"""Deterministic mergeable sketches: Count-Min and KMV (bottom-k).

At 100 TB you cannot afford an exact pass per question. The two
sketches here answer the two standing questions of corpus curation —
"what are the heavy hitters?" and "how much do these sources
overlap?" — in one map pass plus a constant-size shuffle, and both
are MERGEABLE: per-partition sketches combine associatively, so the
partial-aggregation Spark already does map-side IS the sketch build.

Unlike the seeded sketches (`approx_distinct_words`,
`profile_table_sketch` — rows-only entries), these two are built on
the repo's portable md5 60-bit hash, so every counter and every
bottom-k element is bit-identical in Spark and DuckDB: the sketches
themselves are oracle-checkable, estimates included.

Reference parity: the reference computes exact global counts only
(`WordCount.java:30-42`, one reduce over every key). These operators
are the scale path the reference lacks: error-bounded answers whose
cost is independent of (CMS) or logarithmic in (KMV) the key space.

Scale design:
- CMS: the counter table is a FIXED d x w grid (4 x 256 here; widen w
  at scale). Map-side partial aggregation compresses every partition
  to <= d*w rows before the one shuffle, so update cost is one scan
  regardless of corpus size; point queries broadcast the grid.
- KMV: per-source bottom-k of a 60-bit hash. The distinct+rank shuffle
  carries (source, hash) pairs only — shingle text never moves — and
  the pairwise-combine stage runs on S sketches of k longs (S*k
  values total), broadcastable for any realistic source count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_wordcount_spark.operators.wordcount import tokens_col
from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize

# --------------------------------------------------------------------------
# Portable 60-bit hash (same construction as dedup's simhash chain):
# first 15 hex chars of md5 folded to a signed-64-safe BIGINT in both
# engines.
# --------------------------------------------------------------------------


def _h60(expr: Column) -> Column:
    return F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("long")


def _h60_sql(expr: str) -> str:
    return (
        "list_reduce(list_transform("
        f"string_split_regex(substr(md5({expr}), 1, 15), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a, d) -> a * 16 + d)"
    )


# DuckDB bigram stream (sequence bigrams, StringTokenizer fidelity) —
# same construction as text_analysis.q_bigram_counts.
_BIGRAMS_CTE = """
        tok AS (
            SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bg AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1])) AS bigram
            FROM tok WHERE len(tk) >= 2)
"""

_CMS_D = 4
_CMS_W = 256


@query(
    "heavy_hitters_cms",
    oracle=f"""
        WITH {_BIGRAMS_CTE},
        rc AS (
            SELECT bigram, t.r AS r,
                   {_h60_sql("CAST(t.r AS VARCHAR) || ':' || bigram")}
                       % {_CMS_W} AS c
            FROM bg, unnest(range(0, {_CMS_D})) AS t(r)),
        counters AS (
            SELECT r, c, count(*) AS cnt FROM rc GROUP BY r, c),
        hh AS (
            SELECT bigram, count(*) AS exact_count FROM bg GROUP BY bigram
            ORDER BY exact_count DESC, bigram LIMIT 20),
        cand AS (
            SELECT hh.bigram, hh.exact_count, t.r AS r,
                   {_h60_sql("CAST(t.r AS VARCHAR) || ':' || hh.bigram")}
                       % {_CMS_W} AS c
            FROM hh, unnest(range(0, {_CMS_D})) AS t(r))
        SELECT bigram, exact_count, min(cnt) AS cms_estimate,
               min(cnt) - exact_count AS overestimate
        FROM cand JOIN counters USING (r, c)
        GROUP BY bigram, exact_count
    """,
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the bigram stream, audited against exact.

    Build: every bigram occurrence increments d=4 counters at
    column h_r(bigram) mod w=256 — expressed as explode(4 structs) +
    groupBy(r, c), which Catalyst partial-aggregates map-side down to
    the fixed 4x256 grid before the only shuffle. Query: the top-20
    exact heavy hitters look up min over their 4 counters (broadcast
    hash join against the 1024-row grid); `overestimate` is the CMS
    collision error, >= 0 by construction (one-sided error is the CMS
    guarantee: est >= exact always, est <= exact + eps*N w.h.p.).

    At 100 TB the exact side of this audit is replaced by the sketch
    alone: update cost stays one scan into a w-wide grid whose size
    you pick for the eps you want — independent of corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = F.col("tk")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat(
            F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
        ),
    )
    bg = (
        d.select(tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
    )

    def _rc(key: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (_h60(F.concat(F.lit(f"{r}:"), key)) % _CMS_W).alias("c"),
                )
                for r in range(_CMS_D)
            ]
        )

    counters = (
        bg.select(F.explode(_rc(F.col("bigram"))).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hh = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("bigram"))
        .limit(20)
    )
    cand = hh.select(
        "bigram", "exact_count", F.explode(_rc(F.col("bigram"))).alias("rc")
    ).select("bigram", "exact_count", "rc.r", "rc.c")
    return (
        cand.join(F.broadcast(counters), ["r", "c"])
        .groupBy("bigram", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "bigram",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


_KMV_K = 64
# 2^60 as an exact double literal — hash values are uniform in
# [0, 2^60), so DV ~= (k-1) * 2^60 / kth_smallest_hash.
_TWO60 = float(1 << 60)


@query(
    "kmv_source_overlap",
    oracle=f"""
        WITH tok AS (
            SELECT source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        sh AS (
            SELECT DISTINCT source,
                   unnest(list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
            FROM tok WHERE len(tk) >= 3),
        h AS (SELECT source, s, {_h60_sql("s")} AS h FROM sh),
        rk AS (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h, s) AS rn
            FROM h),
        sk AS (
            SELECT source, list_sort(list(h)) AS sk
            FROM rk WHERE rn <= {_KMV_K} GROUP BY source),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   a.sk AS ska, b.sk AS skb,
                   list_sort(list_distinct(list_concat(a.sk, b.sk))) AS merged
            FROM sk a JOIN sk b ON a.source < b.source),
        est AS (
            SELECT src_a, src_b,
                   len(ska) AS n_a, len(skb) AS n_b,
                   least({_KMV_K}, len(merged)) AS k_eff,
                   len(list_filter(
                       list_slice(merged, 1, least({_KMV_K}, len(merged))),
                       x -> list_contains(ska, x) AND list_contains(skb, x)))
                       AS n_inter,
                   merged[least({_KMV_K}, len(merged))] AS kth
            FROM pairs)
        SELECT src_a, src_b, n_a, n_b, n_inter,
               round(CAST(n_inter AS DOUBLE) / k_eff, 4) AS jaccard_est,
               round((k_eff - 1) * {_TWO60!r} / kth, 1) AS union_dv_est
        FROM est
    """,
)
def q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source overlap from KMV (bottom-k) shingle sketches.

    Per source: the k=64 smallest portable-60-bit hashes of its
    distinct 3-token shingles. The classic KMV identities then give,
    per source pair, from the sketches ALONE: union distinct-value
    estimate DV ~= (k-1) * 2^60 / kth_smallest(union), and Jaccard
    ~= |bottom-k(union) ∩ A ∩ B| / k (Beyer et al., SIGMOD'07;
    Broder's minwise estimator). `source_overlap_matrix` answers the
    same question exactly by moving every shingle; this answers it
    from 20 sketches of 64 longs.

    Scale: the only corpus-sized stages are the distinct (source,
    shingle-hash) shuffle and a per-source bottom-k rank — text never
    moves, and the rank input is already distinct hashes. The
    pairwise stage touches S*k longs (S sources), array-combined
    without re-shuffling; at 1000 sources that is 64k values.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = F.col("tk")
    shingles = F.array_distinct(
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
    sh = (
        d.select("source", tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("source", F.explode(shingles).alias("s"))
        .distinct()
    )
    rk = sh.select("source", "s", _h60(F.col("s")).alias("h")).select(
        "source",
        "h",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("h", "s"))
        .alias("rn"),
    )
    sk = (
        rk.filter(F.col("rn") <= _KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.sk").alias("ska"),
        F.col("b.sk").alias("skb"),
        F.array_sort(F.array_union(F.col("a.sk"), F.col("b.sk"))).alias("merged"),
    )
    k_eff = F.least(F.lit(_KMV_K), F.size("merged"))
    bottom = F.slice(F.col("merged"), 1, k_eff)
    n_inter = F.size(
        F.filter(
            bottom,
            lambda x: F.array_contains(F.col("ska"), x)
            & F.array_contains(F.col("skb"), x),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.size("ska").alias("n_a"),
        F.size("skb").alias("n_b"),
        n_inter.alias("n_inter"),
        F.round(n_inter.cast("double") / k_eff, 4).alias("jaccard_est"),
        F.round(
            (k_eff - 1).cast("double")
            * F.lit(_TWO60)
            / F.element_at(F.col("merged"), k_eff),
            1,
        ).alias("union_dv_est"),
    )


@query(
    "kmv_distinct_per_source",
    oracle=f"""
        WITH tok AS (
            SELECT source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        sh AS (
            SELECT DISTINCT source,
                   unnest(list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
            FROM tok WHERE len(tk) >= 3),
        h AS (SELECT source, s, {_h60_sql("s")} AS h FROM sh),
        rk AS (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h, s) AS rn,
                   count(*) OVER (PARTITION BY source) AS n_exact
            FROM h)
        SELECT source, CAST(max(n_exact) AS BIGINT) AS n_exact,
               CASE WHEN max(n_exact) < {_KMV_K} THEN CAST(max(n_exact) AS DOUBLE)
                    ELSE round(({_KMV_K} - 1) * {_TWO60!r}
                               / max(CASE WHEN rn = {_KMV_K} THEN h END), 1)
               END AS kmv_est,
               CASE WHEN max(n_exact) < {_KMV_K} THEN 0.0
                    ELSE round(abs(({_KMV_K} - 1) * {_TWO60!r}
                                   / max(CASE WHEN rn = {_KMV_K} THEN h END)
                                   - max(n_exact)) / max(n_exact), 4)
               END AS rel_err
        FROM rk GROUP BY source
    """,
)
def q_kmv_distinct_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-shingle cardinality: KMV estimate vs exact.

    The oracle-checkable twin of the seeded `approx_distinct_words`
    sketch: distinct-value estimate DV ~= (k-1) * 2^60 / kth_smallest
    from the same portable bottom-k=64 sketch `kmv_source_overlap`
    builds — plus the exact count and the realized relative error, so
    the output IS the sketch's accuracy audit (expected rel. sd
    ~1/sqrt(k-1) ~ 12.6%). Sources with fewer than k distinct
    shingles report exactly (the sketch holds the whole set).

    Scale: identical to `kmv_source_overlap`'s build — one distinct
    (source, hash) shuffle + per-source bottom-k; the exact column is
    the audit at test scale, the estimator is what ships at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = F.col("tk")
    shingles = F.array_distinct(
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
    sh = (
        d.select("source", tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("source", F.explode(shingles).alias("s"))
        .distinct()
    )
    w = Window.partitionBy("source")
    rk = sh.select("source", "s", _h60(F.col("s")).alias("h")).select(
        "source",
        "h",
        F.row_number().over(w.orderBy("h", "s")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_exact"),
    )
    kth = F.max(F.when(F.col("rn") == _KMV_K, F.col("h")))
    n_exact = F.max("n_exact").cast("long")
    est = F.when(n_exact < _KMV_K, n_exact.cast("double")).otherwise(
        F.round(F.lit(float(_KMV_K - 1)) * F.lit(_TWO60) / kth, 1)
    )
    rel = F.when(n_exact < _KMV_K, F.lit(0.0)).otherwise(
        F.round(
            F.abs(F.lit(float(_KMV_K - 1)) * F.lit(_TWO60) / kth - n_exact)
            / n_exact,
            4,
        )
    )
    return rk.groupBy("source").agg(
        n_exact.alias("n_exact"), est.alias("kmv_est"), rel.alias("rel_err")
    )


@query(
    "skew_key_report",
    oracle="""
        WITH ok AS (
            SELECT l_orderkey AS key, count(*) AS mult FROM lineitem
            GROUP BY l_orderkey),
        uk AS (
            SELECT user_id AS key, count(*) AS mult FROM events
            GROUP BY user_id),
        spec AS (
            SELECT 'lineitem.l_orderkey' AS join_key, mult,
                   count(*) AS n_keys FROM ok GROUP BY mult
            UNION ALL
            SELECT 'events.user_id' AS join_key, mult,
                   count(*) AS n_keys FROM uk GROUP BY mult)
        SELECT join_key, mult AS multiplicity, n_keys,
               CAST(mult * n_keys AS BIGINT) AS n_rows
        FROM spec
    """,
)
def q_skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key multiplicity spectrum — the pre-join skew diagnosis.

    For each candidate join key, the frequency-of-frequencies of its
    per-key row counts (`token_frequency_spectrum`'s shape applied to
    JOIN KEYS): a heavy tail here is the early warning that a plain
    hash join will hot-spot one reducer, i.e. the signal that routes
    a key to `skew_salted_join`'s salting or AQE's skew-join split.

    Scale: two cascaded map-side-combining aggregations per key (the
    second one's keyspace is distinct multiplicities — tiny); nothing
    ever shuffles more than once, and the report size is bounded by
    the multiplicity range, not the key count.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def spectrum(df: DataFrame, key: str, label: str) -> DataFrame:
        per_key = df.groupBy(F.col(key).alias("key")).agg(
            F.count(F.lit(1)).alias("mult")
        )
        return per_key.groupBy("mult").agg(
            F.count(F.lit(1)).alias("n_keys")
        ).select(
            F.lit(label).alias("join_key"),
            F.col("mult").alias("multiplicity"),
            "n_keys",
            (F.col("mult") * F.col("n_keys")).cast("long").alias("n_rows"),
        )

    return spectrum(li, "l_orderkey", "lineitem.l_orderkey").unionByName(
        spectrum(ev, "user_id", "events.user_id")
    )


_BLOOM_M = 4096  # bit positions
_BLOOM_K = 3     # hash functions


@query(
    "bloom_semi_join_audit",
    oracle=f"""
        WITH dim AS (
            SELECT DISTINCT o_orderkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'),
        bits AS (
            SELECT DISTINCT
                   {_h60_sql("CAST(t.r AS VARCHAR) || ':' || CAST(key AS VARCHAR)")}
                       % {_BLOOM_M} AS pos
            FROM dim, unnest(range(0, {_BLOOM_K})) AS t(r)),
        fact AS (SELECT l_orderkey AS key FROM lineitem),
        probe AS (
            SELECT f.key, t.r AS r,
                   {_h60_sql("CAST(t.r AS VARCHAR) || ':' || CAST(f.key AS VARCHAR)")}
                       % {_BLOOM_M} AS pos
            FROM fact f, unnest(range(0, {_BLOOM_K})) AS t(r)),
        cand AS (
            SELECT key FROM (
                SELECT p.key, count(*) AS n_hit
                FROM probe p JOIN bits USING (pos)
                GROUP BY p.key, p.r) q
            GROUP BY key HAVING count(*) = {_BLOOM_K}),
        truth AS (
            SELECT f.key FROM fact f WHERE EXISTS (
                SELECT 1 FROM dim d WHERE d.key = f.key))
        SELECT (SELECT count(*) FROM fact) AS n_fact_rows,
               (SELECT count(*) FROM cand) AS n_candidate_keys,
               (SELECT count(DISTINCT key) FROM truth) AS n_true_keys,
               round(((SELECT count(*) FROM cand)
                      - (SELECT count(DISTINCT key) FROM truth)) * 1.0
                     / (SELECT count(*) FROM cand), 4) AS false_positive_share
    """,
)
def q_bloom_semi_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built Bloom-filter semi-join pre-filter, with its audit.

    Spark's runtime bloom filter never fires at local test scale (its
    application-side threshold is 10 GB), so this op builds the SAME
    mechanism portably: the build side (urgent orders' keys) sets
    k=3 md5-fold bit positions in an m=4096 bloom; the probe side
    keeps a fact key only if ALL its 3 positions are set (a broadcast
    join against the <= m-row position set + a count-3 gate). The
    output is the audit a planner does implicitly: candidate keys vs
    true matching keys = the realized false-positive share (bounded
    w.h.p. by (1 - e^(-kn/m))^k).

    Scale: the bloom is a fixed <= m-row table however large the dim
    grows (positions are DISTINCT) and broadcasts like any runtime
    filter; the fact side never shuffles — probing is a map-side
    explode(k positions) + broadcast hash join + per-key count gate.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )

    def positions(key: Column) -> Column:
        return F.array(
            *[
                _h60(F.concat(F.lit(f"{r}:"), key.cast("string"))) % _BLOOM_M
                for r in range(_BLOOM_K)
            ]
        )

    bits = dim.select(F.explode(positions(F.col("key"))).alias("pos")).distinct()
    fact_keys = li.select(F.col("l_orderkey").alias("key"))
    probe = fact_keys.distinct().select(
        "key", F.posexplode(positions(F.col("key"))).alias("r", "pos")
    )
    cand = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == _BLOOM_K)
    )
    truth = fact_keys.join(F.broadcast(dim), "key", "left_semi").distinct()
    n_fact = li.agg(F.count(F.lit(1)).alias("n_fact_rows"))
    return (
        n_fact.crossJoin(
            F.broadcast(cand.agg(F.count(F.lit(1)).alias("n_candidate_keys")))
        )
        .crossJoin(F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_true_keys"))))
        .select(
            "n_fact_rows",
            "n_candidate_keys",
            "n_true_keys",
            F.round(
                (F.col("n_candidate_keys") - F.col("n_true_keys"))
                / F.col("n_candidate_keys"),
                4,
            ).alias("false_positive_share"),
        )
    )


_THETA_LGK = 14  # nominal 2^14 = 16384 entries; see docstring


@query(
    "sketch_theta_source_overlap",
    oracle="""
        WITH tok AS (
            SELECT source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        sh AS (
            SELECT DISTINCT source,
                   unnest(list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
            FROM tok WHERE len(tk) >= 3),
        c AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
            GROUP BY 1, 2),
        n AS (SELECT source, count(*) AS n FROM sh GROUP BY 1)
        SELECT c.src_a, c.src_b, na.n AS n_a, nb.n AS n_b, c.n_inter,
               na.n + nb.n - c.n_inter AS n_union,
               round(CAST(c.n_inter AS DOUBLE)
                     / (na.n + nb.n - c.n_inter), 4) AS jaccard
        FROM c
        JOIN n na ON na.source = c.src_a
        JOIN n nb ON nb.source = c.src_b
    """,
)
def q_sketch_theta_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source overlap from native Theta sketches (Spark 4.1
    `theta_sketch_agg` / `theta_intersection` / `theta_union` — the
    Apache DataSketches Theta family).

    Same question as `kmv_source_overlap` (which hand-rolls a
    bottom-k sketch) and `source_overlap_matrix` (which moves every
    shingle): how many distinct 3-token shingles do two sources
    share? Theta sketches answer it with SET ALGEBRA ON SKETCHES —
    per source one mergeable sketch, then |A∩B| and |A∪B| estimated
    from the 20 sketches alone, no re-scan of the corpus.

    Correctness contract: a Theta update sketch is EXACT (samples
    nothing, theta = 1) until it holds 2^lgK nominal entries; with
    lgK = 14 every per-source shingle set at the oracle SFs is far
    below 16384, so estimates are exact integers and the DuckDB
    oracle can count the truth with plain joins. Beyond capacity the
    sketch degrades gracefully to ~1/sqrt(2^lgK) relative error —
    at 100 TB you'd raise lgK (space is 8 bytes/entry) and accept
    the documented +-0.8%% band; the pipeline shape is unchanged.

    Scale: the only corpus-sized stages are the distinct (source,
    shingle) shuffle and one partial+final sketch agg (sketches are
    mergeable, so map-side combine applies). The pairwise stage is a
    broadcast self-join over S dimension rows; set ops run on
    sketch payloads (S^2 * 16 KB at capacity) — never on data.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = F.col("tk")
    shingles = F.array_distinct(
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
    sh = (
        d.select("source", tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("source", F.explode(shingles).alias("s"))
        .distinct()
    )
    # r14: the |sources|-row sketch table feeds BOTH self-join sides —
    # one side broadcast, one shuffled, so ReuseExchange cannot dedupe
    # them and the corpus-sized distinct + sketch agg ran TWICE
    # (before-plan: 4 corpus scans / 10 Exchanges). Checkpoint the
    # ~20 sketch payloads (~16 KB each at capacity) so the corpus is
    # read once (guide §5).
    sk = materialize(
        sh.groupBy("source")
        .agg(F.theta_sketch_agg("s", _THETA_LGK).alias("sk"))
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.theta_sketch_estimate(F.col("a.sk")).alias("n_a"),
        F.theta_sketch_estimate(F.col("b.sk")).alias("n_b"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("a.sk"), F.col("b.sk"))
        ).alias("n_inter"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("a.sk"), F.col("b.sk"), F.lit(_THETA_LGK))
        ).alias("n_union"),
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        F.round(F.col("n_inter") / F.col("n_union"), 4).alias("jaccard"),
    )


_ATK_K = 4096  # items returned by the sketch; >= |parts| at test SFs
_ATK_TRACKED = 8192  # sketch capacity; exact while distinct <= this


@query(
    "heavy_hitters_parts",
    oracle="""
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_partkey
        ORDER BY cnt DESC, l_partkey LIMIT 25
    """,
)
def q_heavy_hitters_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most-ordered parts via Spark 4.1's native frequent-items
    sketch (`approx_top_k`) — the third native DataSketches surface
    after HLL (`approx_distinct_words`'s exact twin family) and Theta
    (`sketch_theta_source_overlap`), and the engine-provided answer to
    the question `cms_heavy_hitters` hand-rolls with Count-Min.

    Correctness contract (the Theta trick again): a frequent-items
    sketch is EXACT while no eviction has happened, i.e. while the
    number of distinct keys stays <= maxItemsTracked. lineitem at the
    oracle SFs has ~2k distinct part keys << 8192, so every (item,
    count) pair in the sketch is the true count and the DuckDB oracle
    is a plain GROUP BY. Beyond capacity the counts become
    err <= n/maxItemsTracked overestimates — at 100 TB you either
    widen the budget (space is O(maxItemsTracked)) or accept the
    documented band; the plan shape is unchanged.

    The sketch's own output order is arbitrary under count ties, so
    the query re-ranks deterministically (cnt DESC, key ASC) before
    the LIMIT — never trust sketch emission order in a result
    contract.

    Scale: ONE aggregation with map-side partial sketches (the sketch
    is mergeable, so each partition ships one O(maxItemsTracked)
    buffer — raw keys never shuffle, unlike the exact GROUP BY twin
    whose shuffle is |distinct keys| rows per partition). The explode
    + re-rank runs on <= k rows on the driver-side-sized tail.
    Reference parity: WordCount.java:30-42 is the exact-count shape;
    this is its bounded-memory heavy-hitter stand-in at corpus scale.
    """
    l = load_table(spark, sf_dir, "lineitem")
    sk = l.agg(
        F.expr(
            f"approx_top_k(l_partkey, {_ATK_K}, {_ATK_TRACKED})"
        ).alias("tk")
    )
    items = sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("l_partkey"), F.col("e.count").alias("cnt")
    )
    return items.orderBy(F.desc("cnt"), "l_partkey").limit(25)


_HLL_LGK = 14  # coupon-list (exact) regime holds through ~500 distinct


@query(
    "hll_distinct_users",
    oracle="""
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL' AS event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
    """,
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type PLUS the overall distinct count,
    both answered from per-type HLL sketches alone — Spark 3.5's
    native DataSketches HLL surface (`hll_sketch_agg` /
    `hll_union_agg` / `hll_sketch_estimate`), completing the native
    sketch families (Theta: sketch_theta_source_overlap; frequent
    items: heavy_hitters_parts; bitmap: bitmap_exact_distinct).

    The point is the ALL row: it is the UNION of the five per-type
    sketches — users active in several types are counted once (150,
    not 5x150 here) — computed WITHOUT rescanning events. That is the
    rollup-from-sketches pattern: materialize per-cell sketches once,
    then answer any coarser distinct-count grouping by merging
    payloads. COUNT(DISTINCT) does not compose this way; sketches do.

    Correctness contract (pinned by
    test_hll_exactness_precondition): a DataSketches HLL_8 sketch
    stays in its coupon-list/set mode — EXACT, no estimation — until
    a few hundred distinct items at lgK=14 (empirically exact through
    500, off-by-a-few at 2000); user cardinality at the oracle SFs is
    15/150, inside a >3x margin, so the DuckDB oracle is plain
    COUNT(DISTINCT). Past the regime the estimate degrades to the
    documented ~0.8% band at lgK=14 (space 2^14 bytes); at 100 TB
    that band IS the product — the exact twin is a two-level
    shuffle, the sketch is one map pass of mergeable 16 KB buffers.

    Scale: one partial+final sketch agg per type (mergeable ->
    map-side combine ships O(2^lgK) buffers, never user ids); the
    union stage merges |types| sketch payloads — constant work.
    """
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk")
    )
    per_est = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("n_users")
    )
    all_est = per.agg(F.hll_union_agg("sk").alias("u")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("u").alias("n_users"),
    )
    return per_est.unionAll(all_est)


@query(
    "heavy_hitters_incremental",
    oracle="""
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
        ORDER BY cnt DESC, user_id LIMIT 20
    """,
)
def q_heavy_hitters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-active users computed through the frequent-items
    SKETCH-STATE lifecycle (`approx_top_k_accumulate` →
    `approx_top_k_combine` → `approx_top_k_estimate`) rather than the
    one-shot agg `heavy_hitters_parts` uses: one sketch STATE per
    daily batch, then the standing answer from combining the ~30 day
    states — the incremental-analytics pattern where tonight's batch
    only accumulates tonight's events and history is never rescanned
    (persist the per-day states to a parquet `binary` column; each
    nightly refresh costs one new accumulate + one combine over
    O(days) constant-size payloads).

    Exactness contract is heavy_hitters_parts' no-eviction regime
    applied per batch AND post-combine: distinct users (150 at
    sf0.01) stay far under maxItemsTracked=8192, so combined counts
    are exact and the oracle is a plain GROUP BY; the re-rank before
    LIMIT again neutralizes tie-arbitrary sketch emission order.

    Scale: the per-day accumulate is a mergeable partial agg (raw
    user ids never shuffle); the combine stage moves |days| payloads
    of O(maxItemsTracked) — independent of event count. This is the
    batch twin of what a streaming `transformWithState` accumulator
    would hold; it needs no always-on job.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 86400000000000").alias("day"), "user_id"
    )
    per_day = e.groupBy("day").agg(
        F.expr(f"approx_top_k_accumulate(user_id, {_ATK_TRACKED})").alias("st")
    )
    merged = per_day.agg(F.expr("approx_top_k_combine(st)").alias("st"))
    items = merged.select(
        F.explode(F.expr(f"approx_top_k_estimate(st, {_ATK_K})")).alias("e")
    ).select(F.col("e.item").alias("user_id"), F.col("e.count").alias("cnt"))
    return items.orderBy(F.desc("cnt"), "user_id").limit(20)


_DD_GAMMA = 1.02  # relative accuracy alpha = (gamma-1)/(gamma+1) ~ 0.0099


DD_ORACLE = f"""
        WITH v AS (SELECT value AS x FROM events),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        b AS (
            SELECT CAST(ceil(ln(x) / ln({_DD_GAMMA})) AS BIGINT) AS bkt,
                   count(*) AS c
            FROM v GROUP BY 1),
        cum AS (SELECT bkt, sum(c) OVER (ORDER BY bkt) AS cum FROM b),
        q AS (
            SELECT pct, (pct * n + 99) // 100 AS rq, n
            FROM n, (VALUES (50), (95), (99)) t(pct))
        SELECT CAST(pct AS INT) AS pct, q.n AS n,
               CAST(rq AS BIGINT) AS rank_target,
               CAST(min(bkt) AS BIGINT) AS bucket,
               round(2 * pow({_DD_GAMMA}, min(bkt)) / ({_DD_GAMMA} + 1), 6)
                   AS est
        FROM cum CROSS JOIN q WHERE cum >= rq
        GROUP BY pct, rq, q.n ORDER BY pct
    """


@query("ddsketch_quantiles", oracle=DD_ORACLE)
def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantile estimates (Masson, Rim & Lee, VLDB'19) over
    the events value column: log-gamma buckets (gamma = 1.02) give a
    RELATIVE-error guarantee alpha = (gamma-1)/(gamma+1) ~ 0.99% at
    every quantile — the property GK/t-digest style rank sketches
    don't have. Unlike `value_percentiles`' GK sketch this one is
    FULLY deterministic and ANSI-expressible, so it carries a hash
    oracle (the bucket census IS the sketch); pytest separately pins
    the realized relative error vs exact quantiles under alpha.

    Determinism: bucket = ceil(ln(x)/ln(gamma)) on bit-identical
    parquet doubles — both engines take libm ln of the same bits
    (the zipf/MI single-log discipline); rank targets are integer
    ceil(pct*n/100) via `(pct*n + 99) div 100`; the estimate is
    single-row arithmetic on the winning bucket index.

    Plan/scale: one map-side-combined groupBy(bucket) — the sketch
    is ~550 buckets for this value range and MERGEABLE (bucket
    counts add), which is the whole point at 100 TB: per-partition
    partial maps combine to a few-hundred-row table, the cumulative
    walk runs on that bounded table via the broadcast-array fold
    (window-free), and the three rank probes are a 3-row broadcast
    crossJoin + min() — nothing after the scan depends on row
    count."""
    # r14: the ~550-row bucket census is the WHOLE sketch state and
    # feeds both the total-count agg and the cumulative walk inside
    # dd_quantile_walk — materialize it once so the events scan runs
    # once, not once per reference (guide §5). The census stage's
    # partial-agg pin moved to `_dd_bucket_census` (the psi-census
    # precedent: checkpointing hides the stage from the final explain).
    return dd_quantile_walk(materialize(_dd_bucket_census(spark, sf_dir)))


def _dd_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (bkt, c) DDSketch bucket census over events.value — one
    map-side-combined groupBy; exposed un-checkpointed so the plan
    pin can assert the partial aggregate."""
    e = load_table(spark, sf_dir, "events").select("value")
    return (
        e.select(dd_bucket_col(F.col("value")))
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def dd_bucket_col(value: Column) -> Column:
    """DDSketch bucket index for a positive value column."""
    return (
        F.ceil(F.log(value) / F.log(F.lit(_DD_GAMMA))).cast("long").alias("bkt")
    )


def dd_quantile_walk(b: DataFrame) -> DataFrame:
    """Quantile extraction over a (bkt, c) DDSketch bucket census —
    shared by the batch query and the streaming-landed variant (the
    census is the WHOLE sketch state, so any path that lands bucket
    partials can reuse this tail). n derives from the census itself
    (sum of counts), the cumulative walk is the window-free
    broadcast-array fold, and the three rank probes are a 3-row
    broadcast crossJoin + min()."""
    from hadoop_wordcount_spark.operators.ranking import global_cumsum

    n = b.agg(F.sum("c").cast("long").alias("n"))
    cum = global_cumsum(b, [("bkt", False)], "c", out="cum", size_hint=4096)
    qs = n.select(
        F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias("pct"), "n"
    ).select(
        "pct",
        F.expr("(pct * n + 99) div 100").cast("long").alias("rq"),
        "n",
    )
    return (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.col("rq"))
        .groupBy("pct", "rq", "n")
        .agg(F.min("bkt").alias("bucket"))
        .select(
            F.col("pct").cast("int").alias("pct"),
            "n",
            F.col("rq").alias("rank_target"),
            F.col("bucket").cast("long").alias("bucket"),
            F.round(
                2 * F.pow(F.lit(_DD_GAMMA), F.col("bucket")) / (_DD_GAMMA + 1), 6
            ).alias("est"),
        )
        .orderBy("pct")
    )


def _f2_sql(label: str, table: str, key: str) -> str:
    h = _h60_sql(f"CAST(t.r AS VARCHAR) || ':' || CAST(k.{key} AS VARCHAR)")
    return f"""
        SELECT '{label}' AS fact_key,
               CAST((SELECT count(*) FROM {table}) AS BIGINT) AS n_rows,
               CAST((SELECT count(DISTINCT {key}) FROM {table}) AS BIGINT)
                   AS n_keys,
               CAST((SELECT sum(c * c) FROM (
                         SELECT count(*) AS c FROM {table} GROUP BY {key}))
                    AS BIGINT) AS exact_f2,
               CAST((SELECT min(s) FROM (
                         SELECT r, sum(cnt * cnt) AS s FROM (
                             SELECT t.r AS r, {h} % {_CMS_W} AS col,
                                    count(*) AS cnt
                             FROM {table} k,
                                  unnest(range(0, {_CMS_D})) AS t(r)
                             GROUP BY t.r, col)
                         GROUP BY r)) AS BIGINT) AS cms_f2
    """


@query(
    "f2_self_join_size_cms",
    oracle="SELECT fact_key, n_rows, n_keys, exact_f2, cms_f2, "
    "CAST(cms_f2 - exact_f2 AS BIGINT) AS overestimate, "
    "round((cms_f2 - exact_f2) * 1.0 / exact_f2, 6) AS rel_err FROM ("
    + _f2_sql("lineitem.l_suppkey", "lineitem", "l_suppkey")
    + " UNION ALL "
    + _f2_sql("events.user_id", "events", "user_id")
    + ") ORDER BY fact_key",
)
def q_f2_self_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size (second frequency moment F2 = sum of squared
    key multiplicities) estimated from a Count-Min sketch and
    AUDITED against exact — the classic AMS'96 / CMS inner-product
    estimator (Cormode & Muthukrishnan '05): F2-hat = min over the
    d rows of sum_c counter[r,c]^2, a one-sided (>=) estimate whose
    excess is the hash-collision cross terms. F2 IS the size of the
    key's self-join and the variance term of every shuffle-size /
    join-cardinality planner bound — the number a 100 TB engine
    needs BEFORE running the join, which is exactly why it must come
    from a mergeable O(d*w)-space sketch rather than the per-key
    census (`skew_key_report` renders that census; this prices the
    join from constant space).

    Determinism: the sketch uses the portable md5 60-bit row-salted
    hash (`heavy_hitters_cms`'s construction), so every counter —
    and therefore the estimate itself — is a bit-identical integer
    in both engines; rel_err is the one 6dp integer-ratio round.

    Plan: per fact, one map-side-combined (r, col) census (every
    partition compresses to <= d*w partial rows before the shuffle —
    the sketch's mergeability), one d-row square-sum rollup, and a
    1-row min; the exact side is one groupBy(key) agg, present only
    as the audit and dropped at true scale."""
    out = None
    for label, table, key in [
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        ("events.user_id", "events", "user_id"),
    ]:
        t = load_table(spark, sf_dir, table).select(
            F.col(key).cast("string").alias("k")
        )
        n_rows = t.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        per_key = t.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        exact = per_key.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"),
        )
        rc = F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (_h60(F.concat(F.lit(f"{r}:"), F.col("k"))) % _CMS_W).alias(
                        "col"
                    ),
                )
                for r in range(_CMS_D)
            ]
        )
        counters = (
            t.select(F.explode(rc).alias("rc"))
            .groupBy(F.col("rc.r").alias("r"), F.col("rc.col").alias("col"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        est = (
            counters.groupBy("r")
            .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("s"))
            .agg(F.min("s").cast("long").alias("cms_f2"))
        )
        row = (
            n_rows.crossJoin(F.broadcast(exact))
            .crossJoin(F.broadcast(est))
            .select(
                F.lit(label).alias("fact_key"),
                "n_rows",
                "n_keys",
                "exact_f2",
                "cms_f2",
                (F.col("cms_f2") - F.col("exact_f2"))
                .cast("long")
                .alias("overestimate"),
                F.round(
                    (F.col("cms_f2") - F.col("exact_f2"))
                    * 1.0
                    / F.col("exact_f2"),
                    6,
                ).alias("rel_err"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fact_key")
