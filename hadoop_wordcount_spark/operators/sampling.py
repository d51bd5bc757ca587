"""Deterministic sampling & dataset splitting.

LLM training-data pipelines need REPRODUCIBLE sampling: the same
document must land in the same split/sample on every run, on any
cluster layout, with no RNG state. The standard trick is hash-bucket
sampling — bucket = first bytes of a cryptographic hash of the stable
key — which is deterministic, uniformly distributed, stable under
repartitioning, and composable (a 10% sample of a 50% split is a
fixed 5% of the corpus forever).

Both engines compare the same lowercase-hex md5 prefix against the
same literal thresholds, so every query here is exactly
oracle-checkable — no seeded-RNG parity problems (`rand(seed)` is
partition-layout-dependent in Spark and engine-specific everywhere).

Scale: the hash is a per-row projection (no shuffle, no state); the
selection predicate sits directly above the scan, so Catalyst prunes
columns and the filter pipelines into whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_wordcount_spark.operators.wordcount import tokens_col
from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize

# 256 hash buckets from the first two lowercase-hex md5 chars of the
# stable key. Split boundaries: train = [00, cc) -> 204/256 ~ 79.7%,
# val = [cc, e6) -> 26/256 ~ 10.2%, test = [e6, ff] -> 26/256 ~ 10.2%.
_TRAIN_HI = "cc"
_VAL_HI = "e6"


def hash_bucket(key) -> "F.Column":
    """First-2-hex-chars md5 bucket of the key's string form —
    deterministic, engine-portable (md5 hex is lowercase in both
    Spark and DuckDB)."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


_BUCKET_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


@query(
    "dataset_split",
    oracle=f"""
        SELECT CASE WHEN {_BUCKET_SQL} < '{_TRAIN_HI}' THEN 'train'
                    WHEN {_BUCKET_SQL} < '{_VAL_HI}' THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~80/10/10) by md5 hash
    bucket of doc_id: membership is a pure function of the key, so
    the split is identical on every run and every cluster layout —
    and adding documents later never moves an existing one across
    splits (the property seeded `randomSplit` cannot give you)."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < _TRAIN_HI, "train").when(b < _VAL_HI, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


@query(
    "corpus_mixture_sample",
    oracle="""
        WITH counts AS (
            SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        mn AS (SELECT min(n_s) AS n_min FROM counts),
        rates AS (
            SELECT source,
                   sqrt(CAST(n_min AS DOUBLE) / n_s) AS rate,
                   CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_s) * 65536)
                        AS BIGINT) AS t
            FROM counts CROSS JOIN mn),
        thr AS (
            SELECT source, rate,
                   CASE WHEN t >= 65536 THEN 'g'
                        ELSE lpad(lower(hex(t)), 4, '0') END AS thr_hex
            FROM rates),
        sampled AS (
            SELECT d.source, d.text
            FROM documents d JOIN thr r USING (source)
            WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr_hex),
        realized AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                        AS BIGINT) AS n_tokens
            FROM sampled GROUP BY source)
        SELECT t.source, round(t.rate, 4) AS rate,
               COALESCE(a.n_docs, 0) AS n_docs,
               CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM thr t LEFT JOIN realized a USING (source)
    """,
)
def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (T = 0.5): downsample each
    source at rate (n_min / n_s)^0.5 so over-represented sources are
    pulled toward the mixing proportions actually used for
    pretraining corpora, deterministically. Membership is an md5
    4-hex-prefix threshold per source — reproducible on any cluster
    layout, and composable with `dataset_split`'s buckets.

    Engine-parity note: rate -> threshold goes through
    floor(rate * 65536); /, sqrt and *2^16 are IEEE-correctly-rounded
    in both engines on bit-identical inputs, so the boundary integer
    (hence the sampled row SET, not just its size) is exactly
    reproducible — no seeded-RNG drift. Output reports the realized
    per-source doc and token budgets.

    At 100 TB: source counts are a pre-aggregated metadata lookup
    (here one tiny groupBy, broadcast back); the sampling predicate
    itself is a scan-level projection+filter — no shuffle touches
    document bodies, and the only exchange is the final per-source
    budget aggregate (|sources| rows, map-side combined)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    rate = F.sqrt(F.col("n_min").cast("double") / F.col("n_s"))
    t = F.floor(rate * 65536).cast("long")
    thr = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        rate.alias("rate"),
        F.when(t >= 65536, "g")
        .otherwise(F.lpad(F.lower(F.hex(t)), 4, "0"))
        .alias("thr_hex"),
    )
    sampled = d.join(F.broadcast(thr.select("source", "thr_hex")), "source").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.col("thr_hex")
    )
    realized = sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col(F.col("text")))).cast("long").alias("n_tokens"),
    )
    # Left-join realized budgets back onto the per-source threshold
    # table: a source whose rate floors to zero (or that samples to
    # zero docs) must still REPORT, with a zero budget — otherwise the
    # output can't distinguish "fully dropped" from "not present".
    return thr.select("source", F.round("rate", 4).alias("rate")).join(
        realized, "source", "left"
    ).select(
        "source",
        "rate",
        F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
    )


@query(
    "stratified_sample",
    oracle=f"""
        SELECT lang, doc_id, n_chars
        FROM documents
        WHERE {_BUCKET_SQL} < CASE lang WHEN 'en' THEN '1a' ELSE '80' END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates via hash
    buckets — 'en' keeps 26/256 ~ 10%, every other language 128/256 =
    50% (the downsample-the-majority-language move of corpus
    balancing). Exactly reproducible row set, unlike `sampleBy`,
    whose seeded output depends on partition layout. The predicate is
    a scan-level filter: no shuffle, no state, prunes to 3 columns."""
    d = load_table(spark, sf_dir, "documents")
    rate_hi = F.when(F.col("lang") == "en", "1a").otherwise("80")
    return d.filter(hash_bucket(F.col("doc_id")) < rate_hi).select(
        "lang", "doc_id", "n_chars"
    )


@query(
    "mixture_temperature_weights",
    oracle="""
        WITH per AS (
            SELECT source,
                   count(*) AS n_docs,
                   sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                       AS n_tokens
            FROM documents GROUP BY source),
        sh AS (
            SELECT source, n_docs, n_tokens,
                   n_tokens * 1.0 / sum(n_tokens) OVER () AS share,
                   pow(n_tokens * 1.0 / sum(n_tokens) OVER (), 0.7) AS pw
            FROM per)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(share, 6) AS share,
               round(pw / sum(pw) OVER (), 6) AS weight,
               round(pw / sum(pw) OVER () / share, 4) AS epochs
        FROM sh
    """,
)
def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture weights per source: w_s ∝
    share_s^alpha (alpha = 0.7), the standard upsampling rule for
    low-resource sources/languages in multilingual and multi-corpus
    pretraining (exponentiated-share sampling, as published for
    mBERT/XLM-R-style training mixes). `epochs` = w_s/share_s is the
    effective number of passes over each source at a 1x token budget
    — the over/under-sampling factor the mix implies.

    Plan: one groupBy(source) with map-side partials over the token
    counts (the only corpus-sized stage), then the 20-row source
    table normalizes via two tiny window sums — at 100 TB the heavy
    stage is a single partial-agg scan; everything after is
    constant-sized. Shares are integer-token ratios (exact doubles);
    pow/normalize round to 6 before comparison."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens_col(F.col("text")))
    # Cached: both normalization totals re-read the |sources|-row
    # aggregate. Each total joins back as a broadcast scalar — the
    # former empty-partition windows planned a single-partition
    # WindowExec (with its warning) over an already-tiny table.
    per = materialize(d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("n_tokens"),
    ))  # r14: was cache(); guarantees ONE
    # corpus tokenize pass and bounded downstream plans (guide §5) —
    # both normalization totals and the final projection re-read this
    # |sources|-row table.
    tot = per.agg(F.sum("n_tokens").alias("_t"))
    share = F.col("n_tokens") / F.col("_t")
    pw = F.pow(share, 0.7)
    sh = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens", share.alias("share"), pw.alias("pw")
    )
    totp = sh.agg(F.sum("pw").alias("_tp"))
    weight = F.col("pw") / F.col("_tp")
    return sh.crossJoin(F.broadcast(totp)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("share", 6).alias("share"),
        F.round(weight, 6).alias("weight"),
        F.round(weight / F.col("share"), 4).alias("epochs"),
    )


@query(
    "dsir_importance_weight",
    oracle="""
        WITH tok AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
            FROM documents),
        tok2 AS (SELECT doc_id, source, word FROM tok WHERE word <> ''),
        tgt AS (SELECT min(source) AS t FROM documents),
        fr AS (SELECT word, count(*) AS cr FROM tok2 GROUP BY word),
        rs AS (SELECT CAST(count(*) AS BIGINT) AS v,
                      CAST(sum(cr) AS BIGINT) AS nr FROM fr),
        ft AS (SELECT word, count(*) AS ct
               FROM tok2 CROSS JOIN tgt WHERE source = tgt.t GROUP BY word),
        ts AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM ft)
        SELECT t.doc_id, t.source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(
                   ln((coalesce(ft.ct, 0) + 1.0) / (ts.nt + rs.v))
                   - ln((fr.cr + 1.0) / (rs.nr + rs.v))), 4) AS dsir_logratio
        FROM tok2 t
        JOIN fr ON t.word = fr.word
        LEFT JOIN ft ON t.word = ft.word
        CROSS JOIN rs CROSS JOIN ts
        GROUP BY t.doc_id, t.source
    """,
)
def q_dsir_importance_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public): score
    each document by the mean per-token log-ratio of a TARGET
    unigram distribution over the RAW corpus distribution, both with
    add-one smoothing over the corpus vocabulary. Documents whose
    token mix resembles the target domain score high and get
    up-sampled; the paper hashes n-grams into buckets, here the
    feature space is the unigram vocabulary itself (exactly
    SQL-expressible; same estimator shape). The target domain is
    derived from the data — min(source) — not hardcoded (per the
    round-4 advice on `dedup_incremental`).

    Plan: one token-frequency aggregation per distribution (both
    vocabulary-sized → broadcast back onto the token stream), the
    three scalars (V, N_raw, N_target) attach via
    crossJoin(broadcast(agg)) — no driver round trip — then one
    groupBy(doc_id). At 100 TB: two vocab-sized shuffles plus the
    per-doc mean; the token stream never reshuffles in between. The
    mean (not the paper's sum) keeps the score length-invariant and
    matches the engine's other avg-of-log scores (`unigram_logprob`)
    whose round(4) parity is hash-green since r03."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    tgt = d.agg(F.min("source").alias("t"))
    # r13: the two vocabulary-sized frequency tables each feed their
    # scalar rollup AND the scoring-stream join — checkpoint both so
    # the corpus token aggregates run once, not once per reference.
    fr = materialize(
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    rs = fr.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("cr").cast("long").alias("nr"),
    )
    ft = materialize(
        tok.crossJoin(F.broadcast(tgt))
        .filter(F.col("source") == F.col("t"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    ts = ft.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt"))
    ratio = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + F.col("v"))
    ) - F.log((F.col("cr") + 1.0) / (F.col("nr") + F.col("v")))
    return (
        tok.join(F.broadcast(fr), "word")
        .join(F.broadcast(ft), "word", "left")
        .crossJoin(F.broadcast(rs))
        .crossJoin(F.broadcast(ts))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(ratio), 4).alias("dsir_logratio"),
        )
    )


@query(
    "weighted_sample_bernoulli",
    oracle="""
        WITH sel AS (
            SELECT source, n_chars,
                   (list_reduce(list_transform(
                        string_split_regex(
                            substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15),
                            ''),
                        c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                        (a, d) -> a * 16 + d) % 4096) < n_chars AS keep
            FROM documents)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled,
               CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
                   AS sampled_chars,
               round(sum(n_chars) / 4096.0, 2) AS expected_sampled
        FROM sel GROUP BY source
    """,
)
def q_weighted_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted Bernoulli sample with PURE-INTEGER membership.

    Each document is kept with probability proportional to its length
    (p_i = n_chars/4096), but the test is `h mod 4096 < n_chars` — an
    integer comparison on the portable md5-fold hash, so membership
    is bit-identical across engines, runs, and partitionings, with no
    float threshold anywhere (the float-free sibling of
    `corpus_mixture_sample`'s scaled-integer thresholds). Every
    source reports, including any whose realized sample is empty —
    conditional aggregation over the full table, not a filter-then-
    group (the round-4 advice on vanishing sources applied by
    construction).

    Scale: a per-row projection + one groupBy(source); no joins, no
    driver state, reproducible on any cluster layout — and the
    expected-vs-realized columns are the sampler's built-in audit.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    keep = (h % 4096) < F.col("n_chars")
    return (
        d.select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("sampled_chars"),
            F.round(F.sum("n_chars") / 4096.0, 2).alias("expected_sampled"),
        )
    )


_LR_BUDGET = 1_000_000


@query(
    "budget_largest_remainder",
    oracle=f"""
        WITH avail AS (
            SELECT source,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            w -> w <> ''))) AS BIGINT) AS n_tok
            FROM documents GROUP BY source),
        tot AS (SELECT sum(n_tok) AS t FROM avail),
        quota AS (
            SELECT source, n_tok,
                   ({_LR_BUDGET} * n_tok) // t AS base,
                   ({_LR_BUDGET} * n_tok) % t AS rem_num
            FROM avail CROSS JOIN tot),
        slots AS (SELECT {_LR_BUDGET} - sum(base) AS r FROM quota),
        ranked AS (
            SELECT source, n_tok, base, rem_num,
                   row_number() OVER (ORDER BY rem_num DESC, source) AS rk
            FROM quota)
        SELECT source, n_tok, CAST(base AS BIGINT) AS base_alloc,
               CAST(base + CASE WHEN rk <= slots.r THEN 1 ELSE 0 END AS BIGINT)
                   AS alloc
        FROM ranked CROSS JOIN slots
    """,
)
def q_budget_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation by the largest-remainder method.

    Corpus building ends with "spend exactly B tokens across
    sources, proportional to availability": floor quotas leave
    B - sum(floor) unassigned slots, which go to the largest
    fractional remainders (Hamilton's method — the allocation that
    sums EXACTLY to B, which naive rounding does not). Everything is
    integer arithmetic on (B * n_tok) div/mod total — no floats
    anywhere, so the allocation is bit-identical on any engine and
    any cluster, and sum(alloc) == B is a hard invariant (pytest
    pins it).

    Scale: one token-count aggregation (map-side combined); the
    allocation itself runs on the |sources|-row table — the rank is
    the window-free `ranking.global_row_number` (broadcast
    count-ahead on the dimension-bounded input).
    """
    from hadoop_wordcount_spark.operators.ranking import global_row_number
    d = load_table(spark, sf_dir, "documents")
    # r14: eager checkpoint (was cache) — the |sources|-row aggregate
    # is referenced by the total, the quota table and the rank; the
    # checkpoint guarantees ONE corpus tokenize pass independent of
    # cache-hit timing and keeps every downstream plan bounded-sized
    # (guide §5).
    avail = materialize(
        d.select("source", F.size(tokens_col(F.col("text"))).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n_tok"))
    )
    tot = avail.agg(F.sum("n_tok").alias("t"))
    # Integer `div`, not floor(double /): Spark's `/` on longs is
    # double division, so past 2^53 the floor could drift by 1 vs the
    # oracle's integer `//` (same discipline as relational.py's money
    # cents).
    quota = avail.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        F.expr(f"({_LR_BUDGET} * n_tok) div t").cast("long").alias("base"),
        ((F.lit(_LR_BUDGET) * F.col("n_tok")) % F.col("t")).alias("rem_num"),
    )
    slots = quota.agg((F.lit(_LR_BUDGET) - F.sum("base")).alias("r"))
    # size_hint: quota is ONE row per source — a bounded dimension
    # (single-digit in testdata, never corpus-scaled) — so the rank
    # needs no runtime size probe.
    ranked = global_row_number(
        quota, [("rem_num", True), ("source", False)], out="rk", size_hint=1024
    ).select("source", "n_tok", "base", "rk")
    return ranked.crossJoin(F.broadcast(slots)).select(
        "source",
        "n_tok",
        F.col("base").alias("base_alloc"),
        (F.col("base") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    )


@query(
    "eval_holdout_exact_k",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents)
        SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 25
    """,
)
def q_eval_holdout_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota holdout: EXACTLY k=25 documents per language,
    picked by md5 order of doc_id — the eval-set construction rate
    sampling can't do (a 1% Bernoulli sample of a small language can
    return 0 docs; an eval set needs a guaranteed per-group count).
    Hash order makes the quota deterministic, layout-invariant, and
    stable as the corpus grows: a doc already in the holdout stays in
    it until k better-hashed docs exist, and appending new docs never
    reshuffles the whole set the way ORDER BY a data column would.

    Scale: rank <= k over Window.partitionBy(lang) plans as
    WindowGroupLimit (Spark's top-k-per-group pushdown) — each
    partition keeps a k-row heap map-side BEFORE the lang shuffle, so
    the exchange moves ~k rows per (lang, input partition), never the
    corpus; no global sort, no single-partition window
    (plan-pinned in tests/test_round7_fixes.py). At 100 TB with
    thousands of groups the same plan holds — the heap state is
    k rows per group per task."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 25)
    )


@query(
    "temporal_split_audit",
    oracle="""
        WITH b AS (SELECT date_trunc('month', max(ts)) AS cut FROM events),
        pu AS (
            SELECT user_id,
                   sum(CASE WHEN ts <  (SELECT cut FROM b) THEN 1 ELSE 0 END)
                       AS tr,
                   sum(CASE WHEN ts >= (SELECT cut FROM b) THEN 1 ELSE 0 END)
                       AS ho
            FROM events GROUP BY user_id)
        SELECT CAST(sum(tr) AS BIGINT)                     AS n_train_events,
               CAST(sum(ho) AS BIGINT)                     AS n_holdout_events,
               CAST(sum(CASE WHEN tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_train_users,
               CAST(sum(CASE WHEN ho > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_holdout_users,
               CAST(sum(CASE WHEN tr > 0 AND ho > 0 THEN 1 ELSE 0 END)
                    AS BIGINT)                             AS n_leaky_users
        FROM pu
    """,
)
def q_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/holdout split with a GROUP-LEAKAGE audit — the
    split every forecasting/recsys training pipeline needs instead of
    a random one: holdout = the last calendar month present in the
    data (a data-derived but deterministic boundary), train =
    everything before, and the audit counts users appearing on BOTH
    sides. Random splits (`dataset_split`) leak entity history into
    eval; this query quantifies exactly that leakage so the pipeline
    can decide user-level exclusion vs time-based features only.

    Plan: the boundary is a 1-row aggregate broadcast into a
    conditional per-user aggregation — ONE shuffle on user_id (the
    audit's grain), then a single global partial+final agg. No join
    of events against events, no window. At 100 TB: events shuffle
    once on user_id; with events pre-bucketed by user_id even that
    exchange disappears. The leak set itself (user ids on both
    sides) falls out of the same per-user pass if the pipeline wants
    the exclusion list materialized instead of counted."""
    e = load_table(spark, sf_dir, "events")
    cut = e.agg(F.date_trunc("month", F.max("ts")).alias("cut"))
    per_user = (
        e.select("user_id", "ts")
        .crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum((F.col("ts") < F.col("cut")).cast("long")).alias("tr"),
            F.sum((F.col("ts") >= F.col("cut")).cast("long")).alias("ho"),
        )
    )
    return per_user.agg(
        F.sum("tr").alias("n_train_events"),
        F.sum("ho").alias("n_holdout_events"),
        F.sum((F.col("tr") > 0).cast("long")).alias("n_train_users"),
        F.sum((F.col("ho") > 0).cast("long")).alias("n_holdout_users"),
        F.sum(((F.col("tr") > 0) & (F.col("ho") > 0)).cast("long")).alias(
            "n_leaky_users"
        ),
    )


@query(
    "docs_mixture_reweight",
    oracle="""
        WITH per_lang AS (
            SELECT lang,
                   count(*)                            AS n_docs,
                   sum(len(string_split(text, ' ')))   AS n_tokens
            FROM documents GROUP BY lang),
        tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM per_lang)
        SELECT lang,
               CAST(n_docs AS BIGINT)                        AS n_docs,
               CAST(n_tokens AS BIGINT)                      AS n_tokens,
               round(n_tokens * 1.0 / t, 4)                  AS actual_share,
               round(1.0 / k, 4)                             AS target_share,
               round((1.0 / k) / (n_tokens * 1.0 / t), 4)    AS weight
        FROM per_lang, tot
    """,
)
def q_docs_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting table — the multinomial sampling
    weights a pretraining pipeline applies to hit a TARGET language
    mixture (uniform here) from the corpus's ACTUAL token shares:
    weight_k = target_share / actual_share, i.e. how many epochs of
    language k must be sampled per epoch of the corpus. This is the
    planning table; `corpus_mixture_sample` is the executor that
    draws the sample once weights are chosen. Shares are token-level
    (what the training loop consumes), not doc-level.

    Exactness: token counts are integers (single-space split, the
    corpus contract), shares/weights are single divisions of exact
    integers rounded at 4dp — no double-sum ordering anywhere.

    Plan: one fact-grain partial+final agg to |langs| rows (token
    counting is a map-side length expression, the shuffle carries
    |langs| partials), then a broadcast of the 1-row total back onto
    the lang table. At 100 TB: one scan, one dimension-sized
    shuffle; retargeting the mixture (non-uniform shares) swaps the
    target literal, not the plan."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("k")
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("n_tokens") / F.col("t"), 4).alias("actual_share"),
        F.round(F.lit(1.0) / F.col("k"), 4).alias("target_share"),
        F.round(
            (F.lit(1.0) / F.col("k")) / (F.col("n_tokens") / F.col("t")), 4
        ).alias("weight"),
    )


_NEYMAN_BUDGET = 100


@query(
    "neyman_allocation",
    oracle=f"""
        WITH s AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS s1,
                   CAST(sum(n_chars * n_chars) AS BIGINT) AS q
            FROM documents GROUP BY source),
        w AS (
            SELECT source, n,
                   sqrt((n * q - s1 * s1) * 1.0 / (n * (n - 1))) AS sd,
                   CAST(round(n * sqrt((n * q - s1 * s1) * 1.0
                              / (n * (n - 1))), 0) AS BIGINT) AS wi
            FROM s),
        tot AS (SELECT sum(wi) AS t FROM w),
        quota AS (
            SELECT source, n, sd, wi,
                   ({_NEYMAN_BUDGET} * wi) // t AS base,
                   ({_NEYMAN_BUDGET} * wi) % t AS rem
            FROM w CROSS JOIN tot),
        slots AS (SELECT {_NEYMAN_BUDGET} - sum(base) AS r FROM quota),
        ranked AS (
            SELECT source, n, sd, wi, base, rem,
                   row_number() OVER (ORDER BY rem DESC, source) AS rk
            FROM quota)
        SELECT source, n AS n_docs, round(sd, 4) AS sd_chars,
               wi AS weight_units, CAST(base AS BIGINT) AS base_alloc,
               CAST(base + CASE WHEN rk <= slots.r THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM ranked CROSS JOIN slots
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation (Neyman 1934):
    audit-sample n_h proportional to N_h * S_h — strata that are
    BIG and VARIABLE get the samples; uniform strata get few, which
    minimizes the variance of the stratified mean at fixed budget.
    Strata are sources, the measured variable is document length
    (n_chars); budget = 100 docs. The design-of-experiments
    complement to `stratified_sample` (fixed-rate) and
    `budget_largest_remainder` (proportional-only): this one is
    variance-aware.

    Determinism: per-stratum (n, sum x, sum x^2) are integer
    aggregates; S_h = sqrt((n*q - s1^2) / (n*(n-1))) is single-row
    arithmetic on those integers — bit-identical doubles; the
    allocation weight is rounded to INTEGER units before any
    cross-stratum arithmetic, so totals/quotas/remainders are pure
    integer math (Hamilton's method — sum(alloc) == budget is a hard
    invariant, pytest-pinned) and no double ever sums across rows.

    Plan: one map-side-combined groupBy(source); everything after
    runs on |sources| rows with the window-free broadcast
    count-ahead rank. Free at 100 TB."""
    from hadoop_wordcount_spark.operators.ranking import global_row_number

    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("q"),
    )
    sd = F.sqrt(
        (F.col("n") * F.col("q") - F.col("s1") * F.col("s1"))
        * 1.0
        / (F.col("n") * (F.col("n") - 1))
    )
    # r13: the |sources|-row weight and quota tables each feed two
    # consumers — checkpoint them so the fact aggregate runs once.
    w = materialize(s.select(
        "source",
        "n",
        sd.alias("sd"),
        F.round(F.col("n") * sd, 0).cast("long").alias("wi"),
    ))
    tot = w.agg(F.sum("wi").alias("t"))
    quota = materialize(w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        "sd",
        "wi",
        F.expr(f"({_NEYMAN_BUDGET} * wi) div t").cast("long").alias("base"),
        ((F.lit(_NEYMAN_BUDGET) * F.col("wi")) % F.col("t")).alias("rem"),
    ))
    slots = quota.agg((F.lit(_NEYMAN_BUDGET) - F.sum("base")).alias("r"))
    ranked = global_row_number(
        quota, [("rem", True), ("source", False)], out="rk", size_hint=1024
    )
    return ranked.crossJoin(F.broadcast(slots)).select(
        "source",
        F.col("n").alias("n_docs"),
        F.round("sd", 4).alias("sd_chars"),
        "wi",
        F.col("base").alias("base_alloc"),
        (F.col("base") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    ).withColumnRenamed("wi", "weight_units")


_RES_K = 20
_TWO60F = float(1 << 60)


@query(
    "weighted_reservoir_sample",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, lang, source, n_chars,
                   list_reduce(list_transform(
                       string_split_regex(
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
                       c -> CAST(instr('0123456789abcdef', c) - 1
                                 AS BIGINT)),
                       (a, d) -> a * 16 + d) AS h60
            FROM documents),
        k AS (
            SELECT doc_id, lang, source, n_chars,
                   ln((h60 + 1) * 1.0 / {_TWO60F!r})
                       / greatest(n_chars, 1) AS lnkey
            FROM h)
        SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
               round(lnkey * 1000000000, 4) AS lnkey_ppb
        FROM k ORDER BY lnkey DESC, doc_id LIMIT {_RES_K}
    """,
)
def q_weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k weighted random sample in one pass: A-Res weighted
    reservoir sampling (Efraimidis & Spirakis 2006) — each document
    draws key u^(1/w) from a uniform u and weight w = n_chars; the
    top-k keys ARE a weighted sample without replacement. The
    fixed-SIZE complement of `weighted_sample_bernoulli` (fixed RATE
    — which can return 0 or 2x the budget on small strata) and the
    weighted complement of `eval_holdout_exact_k` (uniform per-group
    quotas). u is the portable md5 60-bit uniform, so the 'random'
    sample is deterministic, layout-invariant and hash-checkable —
    the repo's seeded-sampling discipline.

    Determinism: keys are compared UNROUNDED as ln(u)/w — a
    monotone transform of u^(1/w) that avoids pow — where ln's
    argument is the integer-ratio (h+1)/2^60; both engines order
    bit-identical doubles with a doc_id tiebreak, and the published
    key is rounded only for display.

    Plan: one scan projecting (key, payload), then a distributed
    top-k (TakeOrderedAndProject — per-partition k-heaps, merge of
    P*k rows at the driver-side limit) — THE one-pass fixed-size
    weighted sampler at 100 TB: no sort, no shuffle of the corpus,
    and per-partition reservoirs are exactly how the streaming
    variant would maintain state."""
    d = load_table(spark, sf_dir, "documents")
    h60 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    lnkey = F.log((h60 + 1) * 1.0 / F.lit(_TWO60F)) / F.greatest(
        F.col("n_chars"), F.lit(1)
    )
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            lnkey.alias("_k"),
        )
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(_RES_K)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.round(F.col("_k") * 1000000000, 4).alias("lnkey_ppb"),
        )
    )
