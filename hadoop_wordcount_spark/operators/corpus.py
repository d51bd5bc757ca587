"""Training-corpus assembly operators: sequence packing, RAG
chunking, eval-set decontamination, inverted index, BM25 retrieval.

Absent from the reference (its only text op is tokenize+count,
``MapClass.java:21-24``); these are the operations a 100 TB
pretraining-data pipeline runs AFTER dedup/quality filtering: pack
documents into fixed token blocks for the trainer, chunk for
retrieval, decontaminate the train split against held-out eval sets,
and build retrieval structures (postings, BM25) over the corpus.

All hot paths are built-in Catalyst expressions (array lambdas,
window aggregates, broadcast joins) — no Python UDFs.

NOTE on higher-order functions: every lambda passed to
``F.transform``/``F.filter`` here takes exactly ONE parameter —
PySpark treats a two-parameter callable as (element, index) and
passes the index Column as the second argument, which silently
corrupts ``lambda x, k=k`` default-capture idioms. Per-variant
constants are closed over via helper-function scopes instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_wordcount_spark.operators.sampling import hash_bucket
from hadoop_wordcount_spark.operators.text_analysis import NORM_TEXT_SQL
from hadoop_wordcount_spark.operators.wordcount import tokens_col
from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize

_BLOCK = 512  # trainer sequence length (tokens per packed block)
_CHUNK = 32  # RAG chunk window (tokens)
_STRIDE = 16  # RAG chunk stride (tokens) — 50% overlap
_SHINGLE = 5  # decontamination n-gram size
_EVAL_HI = "08"  # md5-bucket bound: doc_id buckets < '08' (~1/32) are eval
_POSTING_CAP = 100  # posting-list truncation (delta-encode + split at scale)
_BM25_TERMS = ("spark", "join", "window")
_K1 = 1.2
_B = 0.75
_TOPK = 20


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query(
    "pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
                       AS n_tokens
            FROM documents),
        c AS (
            -- DuckDB SUM(BIGINT) yields HUGEINT; pin back to BIGINT so
            -- the derived columns keep integer types end to end.
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                        AS BIGINT) AS cum
            FROM t)
        SELECT doc_id, lang, n_tokens,
               cum - n_tokens AS start_off,
               (cum - n_tokens) // {_BLOCK} AS first_block,
               greatest(cum - 1, cum - n_tokens) // {_BLOCK} AS last_block,
               ((cum - n_tokens) // {_BLOCK}
                <> greatest(cum - 1, cum - n_tokens) // {_BLOCK}) AS spans_boundary
        FROM c
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic order and chop the token stream into fixed
    {_BLOCK}-token trainer blocks — each document gets its absolute
    token offset and the [first_block, last_block] span it lands in,
    plus whether it straddles a block boundary (the attention-mask /
    doc-separator bookkeeping a trainer needs).

    The running offset is a window cumsum PARTITIONED BY lang (the
    packing shard), so shards pack independently and in parallel —
    the 100 TB form partitions by (shard_id) with thousands of
    shards, same plan. A GLOBAL single-stream packing would serialize
    the cumsum into one partition; the sharded form is what scales
    (and matches how packed pretraining data is actually laid out:
    per-shard files, each self-contained). One shuffle (by lang),
    window is a single pass; doc_id order makes it reproducible."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        "lang",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pack_offsets(t, _BLOCK)


def pack_offsets(t: DataFrame, block: int) -> DataFrame:
    """Core of `pack_sequences` over a (doc_id, lang, n_tokens) frame
    — separated so property tests can feed synthetic corpora; see the
    query docstring for semantics and plan shape."""
    w = Window.partitionBy("lang").orderBy("doc_id")
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    first_block = F.expr(f"(cum - n_tokens) div {block}")
    last_block = F.expr(f"greatest(cum - 1, cum - n_tokens) div {block}")
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("start_off"),
        first_block.alias("first_block"),
        last_block.alias("last_block"),
        (first_block != last_block).alias("spans_boundary"),
    )


@query(
    "doc_chunk_windows",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        s AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {_STRIDE})) AS start
            FROM t WHERE len(toks) >= 1)
        SELECT doc_id,
               start // {_STRIDE} AS chunk_idx,
               start AS start_tok,
               CAST(len(list_slice(toks, start + 1, start + {_CHUNK})) AS BIGINT)
                   AS chunk_len,
               array_to_string(list_slice(toks, start + 1, start + {_CHUNK}), ' ')
                   AS chunk_text
        FROM s
    """,
)
def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: overlapping {_CHUNK}-token windows at stride
    {_STRIDE} (50% overlap) per document — the retrieval-index
    preprocessing step. Tail chunks are allowed to be short (every
    token is covered by at least one chunk; interior tokens by two).

    Pure projection + explode: sequence() of starts, slice() per
    start — shuffle-free, scales linearly with the scan exactly like
    the tokenize explode every wordcount pays. Chunk count per doc is
    ceil(n_tokens / stride), bounded and known in advance."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, _CHUNK)
    return s.select(
        "doc_id",
        F.expr(f"start div {_STRIDE}").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


_DEDUP_CHUNK = 16  # non-overlapping dedup window (tokens)


@query(
    "chunk_dedup",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        s AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {_DEDUP_CHUNK})) AS start
            FROM t WHERE len(toks) >= 1),
        c AS (
            SELECT doc_id,
                   start // {_DEDUP_CHUNK} AS chunk_idx,
                   md5(array_to_string(
                       list_slice(toks, start + 1, start + {_DEDUP_CHUNK}), ' '))
                       AS fingerprint
            FROM s),
        r AS (
            SELECT fingerprint, doc_id, chunk_idx,
                   row_number() OVER (
                       PARTITION BY fingerprint
                       ORDER BY doc_id, chunk_idx) AS rn,
                   count(*) OVER (PARTITION BY fingerprint) AS n_copies
            FROM c)
        SELECT fingerprint, doc_id AS keep_doc_id,
               CAST(chunk_idx AS BIGINT) AS keep_chunk_idx,
               CAST(n_copies AS BIGINT) AS n_copies
        FROM r WHERE rn = 1 AND n_copies >= 2
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: fingerprint NON-overlapping
    {_DEDUP_CHUNK}-token windows and report every chunk duplicated
    across the corpus with its keep-winner — the granularity that
    catches boilerplate shared between otherwise-distinct documents
    (doc-level dedup sees nothing; `repeated_ngrams` flags grams but
    doesn't pick winners). The non-overlapping stride means a chunk
    can't collide with its own neighbor.

    Plan: shuffle-free chunk explode (the `doc_chunk_windows` shape),
    one shuffle on the 16-byte fingerprint; the keep-winner is
    min(struct(doc_id, chunk_idx)) — a MAP-SIDE argmin partial per
    fingerprint, never a window sort — so chunk bodies don't move,
    only fingerprints and winner ids. At 100 TB this is the same cost
    envelope as `dedup_exact` with ~n_tokens/{_DEDUP_CHUNK} keys."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_DEDUP_CHUNK))
        ).alias("start"),
    )
    c = s.select(
        "doc_id",
        F.expr(f"start div {_DEDUP_CHUNK}").alias("chunk_idx"),
        F.md5(
            F.array_join(F.slice(F.col("toks"), F.col("start") + 1, _DEDUP_CHUNK), " ")
        ).alias("fingerprint"),
    )
    keep = F.min(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("chunk_idx").alias("chunk_idx"))
    )
    return (
        c.groupBy("fingerprint")
        .agg(keep.alias("k"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
        .select(
            "fingerprint",
            F.col("k.doc_id").alias("keep_doc_id"),
            F.col("k.chunk_idx").cast("long").alias("keep_chunk_idx"),
            "n_copies",
        )
    )


@query(
    "decontaminate_vs_eval",
    oracle=f"""
        WITH tk AS (
            SELECT doc_id,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        sh AS (
            SELECT doc_id, b,
                   unnest(list_distinct(list_transform(
                       range(1, len(toks) - {_SHINGLE - 2}),
                       i -> array_to_string(list_slice(toks, i, i + {_SHINGLE - 1}), ' '))))
                       AS s
            FROM tk WHERE len(toks) >= {_SHINGLE}),
        ev AS (SELECT DISTINCT s FROM sh WHERE b < '{_EVAL_HI}'),
        tr AS (SELECT doc_id, s FROM sh WHERE b >= '{_EVAL_HI}')
        SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM tr JOIN ev USING (s)
        GROUP BY tr.doc_id
    """,
)
def q_decontaminate_vs_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing any
    {_SHINGLE}-token n-gram with a held-out eval set — the standard
    train/test-contamination sweep run before pretraining. The eval
    set here is the deterministic md5-bucket < '{_EVAL_HI}' slice of
    the corpus (~1/32 of docs), standing in for MMLU/GSM-style
    benchmark text; output is each contaminated train doc with its
    count of distinct shared n-grams (the removal/flagging signal).

    Scale shape: eval benchmarks are tiny (MBs) next to a 100 TB
    corpus, so the distinct eval-shingle set BROADCASTS — the train
    side never shuffles; contamination detection is a map-side
    semi-join + one groupBy(doc_id) whose input is only the matching
    shingles. Shingles compare as strings here (exact semantics,
    engine-portable); at scale you'd hash them to int64 first, same
    plan."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        hash_bucket(F.col("doc_id")).alias("b"),
        tokens_col(F.col("text")).alias("toks"),
    ).filter(F.size("toks") >= _SHINGLE)
    sh = t.select(
        "doc_id",
        "b",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_SHINGLE - 1)),
                    lambda i: F.array_join(F.slice(F.col("toks"), i, _SHINGLE), " "),
                )
            )
        ).alias("s"),
    )
    ev = sh.filter(F.col("b") < _EVAL_HI).select("s").distinct()
    tr = sh.filter(F.col("b") >= _EVAL_HI).select("doc_id", "s")
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "inverted_index",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> ''))
                       AS word
            FROM documents),
        u AS (SELECT DISTINCT doc_id, word FROM tok)
        SELECT word, CAST(count(*) AS BIGINT) AS df,
               array_to_string(list_slice(list_sort(list(doc_id)), 1, {_POSTING_CAP}), ',')
                   AS postings
        FROM u GROUP BY word
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: per token, document frequency and the
    (sorted, {_POSTING_CAP}-capped) posting list of doc_ids — the
    core retrieval/search structure over a corpus.

    One distinct + one groupBy(word) shuffle; posting lists are
    sorted for determinism and truncated at {_POSTING_CAP} entries so
    a stop-word's posting row cannot become a multi-GB record. At
    100 TB the cap becomes posting-list SHARDING ((word, shard_no)
    keys, delta-encoded ids) — same aggregation shape, and the
    head-word skew is exactly what `salted_aggregation` demonstrates
    the fix for."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    ).distinct()
    postings = F.array_join(
        F.transform(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTING_CAP),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    return tok.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"), postings.alias("postings")
    )


_TERMS_SQL = "', '".join(_BM25_TERMS)


@query(
    "bm25_topk",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
        tok AS (SELECT doc_id, unnest(toks) AS word FROM docs),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM tok
            WHERE word IN ('{_TERMS_SQL}') GROUP BY doc_id, word),
        dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
        SELECT tf.doc_id,
               round(sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                         * tf.tf * {_K1 + 1}
                         / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl / stats.avgdl))), 4)
                   AS bm25
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfreq ON tf.word = dfreq.word
        CROSS JOIN stats
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, tf.doc_id LIMIT {_TOPK}
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring: top-{_TOPK} documents for a fixed
    3-term query under Okapi BM25 (k1={_K1}, b={_B}) — idf from
    corpus document frequency, tf saturation, doc-length
    normalization against the corpus mean. The ranking function
    behind full-text search over the corpus (`inverted_index` is the
    structure; this is the scorer).

    Plan shape at 100 TB: the token scan filters to query terms
    BEFORE any shuffle (tf input ∝ term postings, not corpus); df
    and the (n_docs, avgdl) scalar attach via broadcast — no driver
    round trip; one groupBy(doc_id) over matching terms only, then a
    TakeOrderedAndProject k-heap. Scores are rounded before the sort
    so the top-k cut is engine-stable (unique doc_id tiebreak)."""
    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tok = docs.select("doc_id", F.explode("toks").alias("word")).filter(
        F.col("word").isin(list(_BM25_TERMS))
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = (
        idf
        * F.col("tf")
        * (_K1 + 1)
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TOPK)
    )


@query(
    "lang_mix_by_source",
    oracle="""
        WITH m AS (
            SELECT source, lang, count(*) AS n_docs,
                   sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                       AS n_tokens
            FROM documents GROUP BY source, lang)
        SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(n_tokens * 1.0 / sum(n_tokens) OVER (PARTITION BY source), 4)
                   AS source_share,
               round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS corpus_share
        FROM m
    """,
)
def q_lang_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition cross-tab: documents and tokens per
    (source, language) cell, with each cell's token share within its
    source and of the whole corpus — the first report read before
    setting mixture weights (is a source monolingual? which languages
    only arrive via one crawler?).

    Plan: one groupBy over the token counts (map-side partials); the
    result is |sources| x |langs| rows, so both window normalizations
    run on a constant-bounded table — at 100 TB this is one scan
    plus arithmetic on ~hundreds of rows. Shares are integer-token
    ratios: exact doubles, engine-stable."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens_col(F.col("text")))
    # Cached: the corpus-total aggregate and the main branch both read
    # the (|sources| x |langs|)-row cross-tab. The corpus share joins
    # as a broadcast scalar — an empty-partition window here would be
    # a single-partition WindowExec (and its warning) for no reason.
    m = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(n_tok).alias("n_tokens")
    ).cache()
    tot = m.agg(F.sum("n_tokens").alias("_t"))
    w_src = Window.partitionBy("source")
    return m.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w_src), 4).alias(
            "source_share"
        ),
        F.round(F.col("n_tokens") / F.col("_t"), 6).alias("corpus_share"),
    )


_CTX_LEN = 64  # context length for the yield report


@query(
    "context_length_yield",
    oracle=f"""
        WITH t AS (
            SELECT len(list_filter(string_split(text, ' '), w -> w <> ''))
                       AS n_tok
            FROM documents)
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_tok <= {_CTX_LEN} THEN 1 ELSE 0 END) AS BIGINT)
                   AS fit_docs,
               round(sum(CASE WHEN n_tok <= {_CTX_LEN} THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS fit_rate,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(least(n_tok, {_CTX_LEN})) AS BIGINT) AS kept_tokens,
               round(sum(greatest(n_tok - {_CTX_LEN}, 0)) * 1.0 / sum(n_tok), 4)
                   AS truncation_loss
        FROM t
    """,
)
def q_context_length_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window yield report: for a fixed training context
    length (64 tokens here — the corpus median is ~56), how many
    documents fit whole, and what fraction of corpus tokens a
    truncate-at-L policy would discard — the number that decides
    between truncation, chunking (`doc_chunk_windows`), and packing
    (`pack_sequences`) before a training run.

    Plan: one scan, one no-grouping aggregate with map-side partials
    — at 100 TB this is the cheapest possible full-corpus statement,
    and the report every packing decision starts from. All outputs
    are exact integer sums/ratios."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens_col(F.col("text")))
    t = d.select(n_tok.alias("n_tok"))
    fit = F.when(F.col("n_tok") <= _CTX_LEN, 1).otherwise(0)
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(fit).alias("fit_docs"),
        F.round(F.sum(fit) / F.count(F.lit(1)), 4).alias("fit_rate"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(F.least(F.col("n_tok"), F.lit(_CTX_LEN))).alias("kept_tokens"),
        F.round(
            F.sum(F.greatest(F.col("n_tok") - _CTX_LEN, F.lit(0)))
            / F.sum("n_tok"),
            4,
        ).alias("truncation_loss"),
    )


@query(
    "curriculum_shards",
    oracle="""
        WITH q AS (
            SELECT doc_id, n_chars,
                   round(ln(1 + len(list_filter(string_split(text, ' '),
                                                w -> w <> '')))
                         * (len(list_distinct(list_filter(
                                string_split(text, ' '), w -> w <> ''))) * 1.0
                            / greatest(len(list_filter(string_split(text, ' '),
                                                       w -> w <> '')), 1)),
                         4) AS score
            FROM documents),
        ph AS (
            SELECT doc_id, n_chars, score,
                   ntile(10) OVER (ORDER BY score DESC, doc_id) AS phase,
                   (list_reduce(list_transform(
                        string_split_regex(
                            substr(md5('sh:' || CAST(doc_id AS VARCHAR)), 1, 15),
                            ''),
                        c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                        (a, d) -> a * 16 + d) % 8) AS shard
            FROM q),
        ps AS (
            SELECT phase, shard, count(*) AS n
            FROM ph GROUP BY phase, shard)
        SELECT ph.phase,
               count(*) AS n_docs,
               round(avg(score), 4) AS avg_score,
               round(min(score), 4) AS min_score,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               (SELECT max(n) - min(n) FROM ps WHERE ps.phase = ph.phase)
                   AS shard_skew
        FROM ph GROUP BY ph.phase
    """,
)
def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phases + deterministic shard assignment, audited.

    Training curricula feed highest-quality data in late phases (or
    early — the ORDER is the product): documents rank by the
    `quality_score` formula, ntile(10) cuts ten equal phases over the
    deterministic total order (score DESC, doc_id tiebreak — ntile's
    remainder rule agrees across engines only under a total order),
    and each doc lands in shard = md5-fold(doc_id) mod 8 — the same
    pure-integer membership as `weighted_sample_bernoulli`, so the
    phase x shard layout is reproducible on any cluster. Per phase:
    size, score range, char budget, and shard skew (max-min shard
    population — the straggler predictor for the training loader).

    Scale: the ntile runs on the DISTRIBUTED global-rank recipe
    (`operators/ranking.py`: range exchange + parallel local ranks +
    broadcast offsets — never a single-partition window; the 1x-64x
    probe caught the unpartitioned form at alpha ~1.5), then one
    (phase, shard) agg; rows carry 4 small columns, never text.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    score = F.round(
        F.log(1 + n_tok) * (n_dis / F.greatest(n_tok, F.lit(1))), 4
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sh:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 8
    )
    from hadoop_wordcount_spark.operators.ranking import global_ntile

    ph = materialize(global_ntile(
        d.select(
            "doc_id",
            "n_chars",
            score.alias("score"),
            shard.alias("shard"),
        ),
        [("score", True), ("doc_id", False)],
        10,
        out="phase",
        # small_threshold=0: the input is every document — data-sized
        # — so pin the distributed ntile and skip the size probe.
        small_threshold=0,
    ))
    # ^ r13: the phased table feeds the shard-skew census AND the
    #   per-phase aggregate — materialize it once (4 small columns per
    #   doc) instead of re-deriving from the ntile per consumer.
    ps = ph.groupBy("phase", "shard").agg(F.count(F.lit(1)).alias("n"))
    skew = ps.groupBy("phase").agg(
        (F.max("n") - F.min("n")).alias("shard_skew")
    )
    return (
        ph.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.min("score"), 4).alias("min_score"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .join(F.broadcast(skew), "phase")
        .select(
            "phase", "n_docs", "avg_score", "min_score", "n_chars", "shard_skew"
        )
    )


_RRF_K = 60
_RRF_DEPTH = 20
_RRF_QVEC = 0  # query embedding = vec_id 0 (aligned with doc_id 0)


@query(
    "hybrid_retrieval_rrf",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
        tok AS (SELECT doc_id, unnest(toks) AS word FROM docs),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM tok
            WHERE word IN ('{_TERMS_SQL}') GROUP BY doc_id, word),
        dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        bm AS (
            SELECT tf.doc_id,
                   round(sum(ln(1 + (stats.n_docs - dfreq.df + 0.5)
                                    / (dfreq.df + 0.5))
                             * tf.tf * {_K1 + 1}
                             / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                                 / stats.avgdl))), 4) AS s
            FROM tf
            JOIN dl ON tf.doc_id = dl.doc_id
            JOIN dfreq ON tf.word = dfreq.word
            CROSS JOIN stats
            GROUP BY tf.doc_id),
        lex AS (
            SELECT doc_id, rank_lex FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY s DESC, doc_id) AS rank_lex
                FROM bm) WHERE rank_lex <= {_RRF_DEPTH}),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RRF_QVEC}),
        cs AS (
            SELECT e.vec_id AS doc_id,
                   round(list_dot_product(e.embedding, q.qv)
                         / (sqrt(list_dot_product(e.embedding, e.embedding))
                            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS s
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_RRF_QVEC}),
        sem AS (
            SELECT doc_id, rank_sem FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY s DESC, doc_id) AS rank_sem
                FROM cs) WHERE rank_sem <= {_RRF_DEPTH}),
        fused AS (
            SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                   lex.rank_lex, sem.rank_sem,
                   round(COALESCE(1.0 / ({_RRF_K} + lex.rank_lex), 0)
                         + COALESCE(1.0 / ({_RRF_K} + sem.rank_sem), 0), 6)
                       AS rrf
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        SELECT doc_id, rank_lex, rank_sem, rrf FROM fused
        ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 + embedding ranks fused with RRF.

    The modern RAG retrieval stack in one plan: the lexical ranker
    (Okapi BM25 over the fixed query terms, `bm25_topk`'s scorer) and
    the semantic ranker (cosine vs the query embedding, vec_id 0)
    each produce a depth-20 ranked list, then Reciprocal Rank Fusion
    (Cormack et al., SIGIR'09: score = sum 1/(60 + rank)) merges them
    — rank-based, so the two scorers' incomparable scales never mix.
    Both ranked lists cut on pre-rounded scores with doc_id
    tiebreaks, so the fusion input is engine-stable.

    Scale: each ranker is its own bounded pipeline (term-filtered
    postings for BM25, per-partition k-heap for cosine — swap in
    `ann_ivf_search`'s cell pruning at real scale); the fusion joins
    two DEPTH-row lists — trivially broadcast, cost independent of
    corpus size.
    """
    from hadoop_wordcount_spark.functions.vectors import cosine
    from hadoop_wordcount_spark.operators.ranking import global_row_number

    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tok = docs.select("doc_id", F.explode("toks").alias("word")).filter(
        F.col("word").isin(list(_BM25_TERMS))
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * F.col("tf")
        * (_K1 + 1)
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 4).alias("s"))
    )
    # Cut each list with orderBy+limit (TakeOrderedAndProject — a
    # distributed k-heap), THEN rank the DEPTH-row result with a tiny
    # window: never an unpartitioned window over the corpus.
    # size_hint: both rank inputs are .limit(_RRF_DEPTH) cuts —
    # statically bounded, no runtime size probe needed.
    lex = global_row_number(
        bm.orderBy(F.desc("s"), F.asc("doc_id")).limit(_RRF_DEPTH),
        [("s", True), ("doc_id", False)],
        out="rank_lex",
        size_hint=_RRF_DEPTH,
    ).select("doc_id", "rank_lex")

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("embedding").alias("qv")
    )
    cs = (
        emb.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 4).alias("s"),
        )
    )
    sem = global_row_number(
        cs.orderBy(F.desc("s"), F.asc("doc_id")).limit(_RRF_DEPTH),
        [("s", True), ("doc_id", False)],
        out="rank_sem",
        size_hint=_RRF_DEPTH,
    ).select("doc_id", "rank_sem")
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rank_sem")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


@query(
    "padding_waste_report",
    oracle="""
        WITH lens AS (
            SELECT CAST(len(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS BIGINT) AS n_tok
            FROM documents),
        bucketed AS (
            SELECT n_tok, (n_tok - 1) // 64 AS bucket
            FROM lens WHERE n_tok > 0)
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST((bucket + 1) * 64 AS BIGINT) AS pad_to,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS real_tokens,
               CAST(count(*) * (bucket + 1) * 64 AS BIGINT) AS padded_tokens,
               round(1.0 - sum(n_tok) / (count(*) * (bucket + 1) * 64.0), 4)
                   AS waste_frac
        FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
)
def q_padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: if training batches group
    documents into 64-token length buckets and pad every member to
    the bucket ceiling, how many real vs padded tokens does each
    bucket carry and what fraction of compute is padding waste —
    the report that decides the bucket width (and whether to bother
    bucketing at all vs `pack_sequences`' concatenate-and-split,
    which wastes nothing but breaks document boundaries). Padding to
    the bucket CEILING (not the observed in-bucket max) keeps batch
    shapes static for compilers/kernels — the production choice —
    and makes the report a pure two-level aggregate.

    Scale: token count is a per-row projection above the scan; one
    groupBy over ~len/64 buckets with map-side partials — the same
    shape as a histogram, linear and shuffle-light at any corpus
    size."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens_col(F.col("text"))).cast("long")
    b = d.select(n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    b = b.withColumn("bucket", F.expr("(n_tok - 1) div 64"))
    return (
        b.groupBy("bucket")
        .agg(
            ((F.col("bucket") + 1) * 64).cast("long").alias("pad_to"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("real_tokens"),
            (F.count(F.lit(1)) * (F.first("bucket") + 1) * 64)
            .cast("long")
            .alias("padded_tokens"),
            F.round(
                1.0
                - F.sum("n_tok")
                / (F.count(F.lit(1)) * (F.first("bucket") + 1) * 64.0),
                4,
            ).alias("waste_frac"),
        )
        .orderBy("bucket")
    )


# Gate thresholds shared by the funnel report below — same values as
# text_analysis.quality_gopher_rules (that query reports per-doc
# flags for single-rule ablation; this one reports the corpus-level
# SEQUENTIAL yield of applying them in pipeline order).
_FUNNEL_GATES = (
    ("ingest", None),
    ("word_count_50_100k", None),
    ("mean_word_len_3_10", None),
    ("frac_alpha_ge_0.8", None),
    ("frac_distinct_ge_0.2", None),
    ("stopword_hits_ge_2", None),
)
_FUNNEL_SW = ["the", "and", "of", "to", "in", "a", "is", "that"]
_FUNNEL_SW_SQL = "', '".join(_FUNNEL_SW)
_FUNNEL_NAMES_SQL = ", ".join(
    f"({i}, '{name}')" for i, (name, _) in enumerate(_FUNNEL_GATES)
)


@query(
    "filter_funnel_yield",
    oracle=f"""
        WITH q AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        m AS (
            SELECT doc_id,
                   len(tk) AS n_words,
                   coalesce(list_sum(list_transform(tk, w -> length(w))), 0)
                       * 1.0 / greatest(len(tk), 1) AS mwl,
                   len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
                       * 1.0 / greatest(len(tk), 1) AS fa,
                   len(list_distinct(tk)) * 1.0 / greatest(len(tk), 1) AS fd,
                   len(list_intersect(
                       list_distinct(list_transform(tk, w -> lower(w))),
                       ['{_FUNNEL_SW_SQL}'])) AS sw
            FROM q),
        reached AS (
            SELECT n_words,
                   CASE WHEN NOT (n_words BETWEEN 50 AND 100000) THEN 0
                        WHEN NOT (mwl >= 3 AND mwl <= 10) THEN 1
                        WHEN NOT (fa >= 0.8) THEN 2
                        WHEN NOT (fd >= 0.2) THEN 3
                        WHEN NOT (sw >= 2) THEN 4
                        ELSE 5 END AS stage_reached
            FROM m),
        stages(stage, gate) AS (VALUES {_FUNNEL_NAMES_SQL}),
        surv AS (
            SELECT s.stage, s.gate,
                   count(*) FILTER (WHERE r.stage_reached >= s.stage)
                       AS n_docs,
                   coalesce(sum(r.n_words)
                            FILTER (WHERE r.stage_reached >= s.stage), 0)
                       AS n_tokens
            FROM stages s CROSS JOIN reached r
            GROUP BY s.stage, s.gate),
        tot AS (SELECT n_docs AS total FROM surv WHERE stage = 0)
        SELECT CAST(s.stage AS INT) AS stage, s.gate,
               CAST(s.n_docs AS BIGINT) AS n_docs,
               CAST(s.n_tokens AS BIGINT) AS n_tokens,
               round(s.n_docs * 1.0 / greatest(t.total, 1), 4) AS cum_yield,
               round(s.n_docs * 1.0 /
                     greatest(lag(s.n_docs, 1, t.total)
                              OVER (ORDER BY s.stage), 1), 4) AS step_yield
        FROM surv s CROSS JOIN tot t
        ORDER BY s.stage
    """,
)
def q_filter_funnel_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel survival report: documents and tokens
    remaining after each quality gate applied in pipeline order
    (ingest → word-count bounds → mean-word-length → alphabetic
    fraction → lexical diversity → stopword floor — the published
    Gopher/MassiveText rule-set, Rae et al. 2021), with cumulative
    and per-step yield rates. `quality_gopher_rules` reports per-doc
    flags so single rules can be ablated; this is the corpus-level
    observability twin every production pipeline dashboards — which
    gate is destroying your tokens, and is its step-yield drifting
    between crawls?

    Plan shape: one tokenization pass computes stage_reached (the
    index of the first failing gate) per document — a pure
    projection, zero joins in the scan path; the funnel itself
    aggregates a 6-row stage spine against per-stage conditional
    sums, then two window functions over 6 rows. At 100 TB: scan +
    one 6-cell map-side-combined aggregate — the report is free
    relative to the scan, exactly like the gate it audits. All
    yields are integer ratios (exact doubles, engine-stable)."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.col("tk")
    n = F.size(tk)
    nn = F.greatest(n, F.lit(1))
    mwl = (
        F.aggregate(tk, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
        / nn
    )
    fa = F.size(F.filter(tk, lambda w: w.rlike("[A-Za-z]"))) / nn
    fd = F.size(F.array_distinct(tk)) / nn
    sw = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(tk, F.lower)),
            F.array(*[F.lit(s) for s in _FUNNEL_SW]),
        )
    )
    stage_reached = (
        F.when(~n.between(50, 100000), 0)
        .when(~((mwl >= 3) & (mwl <= 10)), 1)
        .when(~(fa >= 0.8), 2)
        .when(~(fd >= 0.2), 3)
        .when(~(sw >= 2), 4)
        .otherwise(5)
    )
    per_doc = d.select(tokens_col(F.col("text")).alias("tk")).select(
        F.size("tk").cast("long").alias("n_words"),
        stage_reached.alias("stage_reached"),
    )
    stages = spark.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(_FUNNEL_GATES)],
        "stage int, gate string",
    )
    # r14: collapse the corpus to its <=6-cell (stage_reached) census
    # FIRST — the former stages-crossJoin multiplied every document
    # row 6x before aggregating, and `surv` is referenced by both the
    # total and the report, so the tokenize+regex gate pass ran TWICE
    # (guide §2.3/§5). The survival sums over the checkpointed census
    # are the same integer sums, cell-grouped instead of row-grouped.
    cells = materialize(
        per_doc.groupBy("stage_reached")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("n_words").alias("nw"),
        )
    )
    surv = (
        cells.crossJoin(F.broadcast(stages))
        .groupBy("stage", "gate")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("stage_reached") >= F.col("stage"),
                        F.col("nd"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_docs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("stage_reached") >= F.col("stage"),
                        F.col("nw"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )
    tot = surv.filter(F.col("stage") == 0).select(
        F.col("n_docs").alias("total")
    )
    w = Window.orderBy("stage")
    return (
        surv.crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "gate",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_docs") / F.greatest(F.col("total"), F.lit(1)), 4
            ).alias("cum_yield"),
            F.round(
                F.col("n_docs")
                / F.greatest(
                    F.coalesce(F.lag("n_docs", 1).over(w), F.col("total")),
                    F.lit(1),
                ),
                4,
            ).alias("step_yield"),
        )
        .orderBy("stage")
    )


_AGREE_KS = (5, 10, 20)
_AGREE_KS_SQL = ", ".join(f"({k})" for k in _AGREE_KS)


@query(
    "ranker_agreement_topk",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
        tok AS (SELECT doc_id, unnest(toks) AS word FROM docs),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM tok
            WHERE word IN ('{_TERMS_SQL}') GROUP BY doc_id, word),
        dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        scored AS (
            SELECT tf.doc_id,
                   round(sum(ln(1 + (stats.n_docs - dfreq.df + 0.5)
                                    / (dfreq.df + 0.5))
                             * tf.tf * {_K1 + 1}
                             / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                                 / stats.avgdl))), 4) AS bm25,
                   round(sum(tf.tf * ln(stats.n_docs * 1.0 / dfreq.df)), 4)
                       AS tfidf
            FROM tf
            JOIN dl ON tf.doc_id = dl.doc_id
            JOIN dfreq ON tf.word = dfreq.word
            CROSS JOIN stats
            GROUP BY tf.doc_id),
        ranked AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25,
                   row_number() OVER (ORDER BY tfidf DESC, doc_id) AS r_tfidf
            FROM scored),
        ks(k) AS (VALUES {_AGREE_KS_SQL})
        SELECT CAST(ks.k AS INT) AS k,
               CAST(count(*) FILTER (WHERE r_bm25 <= ks.k AND r_tfidf <= ks.k)
                    AS BIGINT) AS n_overlap,
               round(count(*) FILTER (WHERE r_bm25 <= ks.k AND r_tfidf <= ks.k)
                     * 1.0 /
                     greatest(count(*) FILTER (WHERE r_bm25 <= ks.k)
                              + count(*) FILTER (WHERE r_tfidf <= ks.k)
                              - count(*) FILTER (WHERE r_bm25 <= ks.k
                                                 AND r_tfidf <= ks.k), 1), 4)
                   AS jaccard
        FROM ks CROSS JOIN ranked
        GROUP BY ks.k
        ORDER BY k
    """,
)
def q_ranker_agreement_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-ranker agreement report: Jaccard overlap of the
    BM25 and plain TF-IDF top-k result sets for the same fixed
    query, at k = {_AGREE_KS}. The eval a retrieval pipeline runs
    before swapping scoring functions (or adding a reranker): how
    much of the head actually changes? Low agreement at small k with
    high agreement at large k is the classic "same candidates,
    different order" signature.

    Both rankers share one scan, one term-filtered tf table, one df
    aggregate and one (n_docs, avgdl) scalar — the comparison is
    FREE on top of `bm25_topk`'s plan. Ranks are deterministic
    (4dp-rounded scores, doc_id tiebreak — the bm25_topk
    discipline) and are NEVER assigned by a global window: each
    ranker cuts to its top-20 via TakeOrderedAndProject (distributed
    k-heap over the term-matched docs), ranks are positions in the
    resulting 20-element sorted array, and the final agg is a 3-row
    spine of conditional counts over the 20+20 outer-joined head.
    All agreement ratios are integer ratios — exact."""
    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tok = docs.select("doc_id", F.explode("toks").alias("word")).filter(
        F.col("word").isin(list(_BM25_TERMS))
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    bm25_term = (
        idf
        * F.col("tf")
        * (_K1 + 1)
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
    )
    tfidf_term = F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df"))
    # r13: both rankers' top-k cuts read this candidate table —
    # materialize it once (term-matched docs only) instead of
    # re-running the tf/dl/stats chain per ranker.
    scored = materialize(
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(bm25_term), 4).alias("bm25"),
            F.round(F.sum(tfidf_term), 4).alias("tfidf"),
        )
    )
    # Only ranks <= max(k) ever matter, so NEVER rank the full scored
    # table (a global row_number is a single-partition window — the
    # all-matching-docs sort a 100 TB run can't afford). Each ranker
    # cuts to its top-20 via TakeOrderedAndProject (distributed
    # k-heap), then ranks are positions in a 20-element sorted array.
    def _top_ranks(score_col: str, rank_name: str) -> DataFrame:
        t = scored.orderBy(F.desc(score_col), F.asc("doc_id")).limit(
            max(_AGREE_KS)
        )
        arr = F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col(score_col)).alias("ns"),
                    F.col("doc_id").alias("d"),
                )
            )
        )
        return (
            t.agg(arr.alias("a"))
            .select(F.posexplode("a").alias("r0", "s"))
            .select(
                F.col("s.d").alias("doc_id"),
                (F.col("r0") + 1).alias(rank_name),
            )
        )

    ranked = _top_ranks("bm25", "r_bm25").join(
        _top_ranks("tfidf", "r_tfidf"), "doc_id", "full_outer"
    )
    ks = spark.createDataFrame([(k,) for k in _AGREE_KS], "k int")
    both = (F.col("r_bm25") <= F.col("k")) & (F.col("r_tfidf") <= F.col("k"))
    in_a = F.col("r_bm25") <= F.col("k")
    in_b = F.col("r_tfidf") <= F.col("k")
    n_both = F.count(F.when(both, 1))
    n_a = F.count(F.when(in_a, 1))
    n_b = F.count(F.when(in_b, 1))
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            n_both.cast("long").alias("n_overlap"),
            F.round(
                n_both / F.greatest(n_a + n_b - n_both, F.lit(1)), 4
            ).alias("jaccard"),
        )
        .orderBy("k")
    )


@query(
    "dataset_card_report",
    oracle=f"""
        WITH q AS (
            SELECT doc_id, lang, source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk,
                   md5({NORM_TEXT_SQL}) AS norm_h
            FROM documents),
        m AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
                   count(DISTINCT lang) AS n_langs,
                   count(DISTINCT source) AS n_sources,
                   count(DISTINCT norm_h) AS n_norm_distinct,
                   sum(CASE WHEN len(tk) BETWEEN 50 AND 100000
                       THEN 1 ELSE 0 END) AS n_len_ok
            FROM q)
        SELECT CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
               CAST(n_langs AS BIGINT) AS n_langs,
               CAST(n_sources AS BIGINT) AS n_sources,
               round(n_tokens * 1.0 / greatest(n_docs, 1), 4)
                   AS mean_doc_tokens,
               round(1.0 - n_norm_distinct * 1.0 / greatest(n_docs, 1), 4)
                   AS exact_dup_rate,
               round(n_len_ok * 1.0 / greatest(n_docs, 1), 4)
                   AS len_gate_rate
        FROM m
    """,
)
def q_dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card (the summary block of a Datasheets/
    Dataset-Cards artifact, Gebru et al. 2021): corpus size in docs
    and tokens, language and source diversity, normalized-text exact
    duplicate rate, mean document length, and the length-gate pass
    rate — the headline numbers every corpus release publishes, in
    one query, from one scan.

    All values are integer aggregates or integer ratios (exact
    doubles). The duplicate rate counts distinct md5 digests of the
    shared `norm_text` normalization — the same canonicalization the
    dedup family keys on, so the card's dup rate is consistent with
    what `dedup_exact` would remove.

    Plan at 100 TB: one scan; the count-distincts are the only
    expensive terms (each an exact distinct aggregate — swap for
    approx_count_distinct when +-2% is acceptable, as
    `profile_table_sketch` demonstrates; lang/source distincts are
    dimension-bounded and effectively free). Output is one row."""
    from hadoop_wordcount_spark.operators.text_analysis import norm_text

    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens_col(F.col("text")))
    q = d.select(
        "lang",
        "source",
        n_tok.alias("ntk"),
        F.md5(norm_text(F.col("text"))).alias("norm_h"),
    )
    nd = F.greatest(F.count(F.lit(1)), F.lit(1))
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntk").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.round(F.sum("ntk") / nd, 4).alias("mean_doc_tokens"),
        F.round(
            F.lit(1.0) - F.countDistinct("norm_h") / nd, 4
        ).alias("exact_dup_rate"),
        F.round(
            F.sum(F.when(F.col("ntk").between(50, 100000), 1).otherwise(0))
            / nd,
            4,
        ).alias("len_gate_rate"),
    )
