"""Text-analysis operators for LLM training-data pipelines.

Absent from the reference (its only string op is ``Text.toString()``,
``MapClass.java:21``); mandated by the north star: language ID,
quality scoring, token counting, document fingerprinting.

All hot-path expressions are built-in Catalyst functions (array
lambdas, regexes, hashes) — no Python UDFs — so they whole-stage
codegen and scale linearly with the scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.operators.wordcount import tokens_col
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language identifier. Deliberately minimal and deterministic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
# Kept to character classes shared verbatim by Java regex and DuckDB (RE2).
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_SW_LIST_SQL = "', '".join(EN_STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def norm_text(text: Column) -> Column:
    """Normalization used by fingerprinting/dedup: lowercase and
    collapse whitespace runs — the canonical near-dup preprocessing."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


# SQL twin of norm_text (DuckDB needs the 'g' flag for global replace).
NORM_TEXT_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "text_stats",
    oracle=f"""
        SELECT doc_id,
               length(text) AS n_chars_calc,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
                   AS n_tokens,
               CAST(len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT)
                   AS n_distinct_tokens,
               round(length(replace(text, ' ', '')) * 1.0
                     / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1), 4)
                   AS avg_token_len
        FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: char count, token count, distinct tokens,
    mean token length — single projection, no shuffle at all."""
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    return d.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            / F.greatest(n_tokens, F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '),
                                   w -> w IN ('{_SW_LIST_SQL}'))) * 1.0
                   / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1)
                   AS ratio
            FROM documents)
        SELECT doc_id, lang, round(ratio, 4) AS en_stop_ratio,
               (ratio >= 0.05) AS pred_en
        FROM scored
    """,
)
def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language identification (n-gram-heuristic
    family): fraction of tokens in a tiny English stopword set; docs
    at/above 5% are flagged predicted-English. Pure array lambdas —
    codegen'd, shuffle-free."""
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    ratio = F.size(F.filter(toks, lambda w: F.array_contains(sw, w))) / F.greatest(
        F.size(toks), F.lit(1)
    )
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("en_stop_ratio"),
        (ratio >= 0.05).alias("pred_en"),
    )


@query(
    "lang_id_confusion",
    oracle=f"""
        WITH scored AS (
            SELECT lang,
                   len(list_filter(string_split(text, ' '),
                                   w -> w IN ('{_SW_LIST_SQL}'))) * 1.0
                   / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1)
                   AS ratio
            FROM documents)
        SELECT lang,
               CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END AS pred,
               count(*) AS n
        FROM scored GROUP BY lang, pred
    """,
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-audit confusion matrix for the stopword-ratio
    language identifier: labeled lang x predicted {en, other} with
    counts — the report that tells you the heuristic's per-language
    error rates BEFORE you filter a corpus with it (`lang_id_
    heuristic` scores docs; this aggregates its mistakes).

    Same shuffle-free scoring expression, then one |langs| x 2
    -bounded map-side-combined aggregate — at 100 TB the exchange
    carries a handful of rows."""
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    ratio = F.size(F.filter(toks, lambda w: F.array_contains(sw, w))) / F.greatest(
        F.size(toks), F.lit(1)
    )
    pred = F.when(ratio >= 0.05, "en").otherwise("other")
    return (
        d.select("lang", pred.alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "quality_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
                   len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_dis,
                   length(text) AS n_ch
            FROM documents)
        SELECT doc_id,
               round(ln(1 + n_tok) * (n_dis * 1.0 / greatest(n_tok, 1)), 4) AS score,
               (n_tok >= 10 AND n_ch >= 50 AND n_dis * 1.0 / greatest(n_tok, 1) >= 0.2)
                   AS keep
        FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality score: log-length x lexical diversity, plus a
    boolean keep-gate (min tokens/chars/diversity) — the standard
    pre-training corpus filter shape. Shuffle-free projection."""
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    diversity = n_dis / F.greatest(n_tok, F.lit(1))
    return d.select(
        "doc_id",
        F.round(F.log(1 + n_tok) * diversity, 4).alias("score"),
        (
            (n_tok >= 10) & (F.length("text") >= 50) & (diversity >= 0.2)
        ).alias("keep"),
    )


@query(
    "token_count_regex",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
)
def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count (letter runs / digit runs / symbols)
    via regexp_extract_all — the cheap token-budget estimator."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({NORM_TEXT_SQL}) AS fingerprint FROM documents",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text.

    The exact-dedup key at scale: 16-byte key shuffles instead of
    full document bodies."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fingerprint"))


@query(
    "tfidf",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM tok
            WHERE word <> '' GROUP BY doc_id, word),
        df AS (
            SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.word,
               round(tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df), 4) AS tfidf
        FROM tf JOIN df ON tf.word = df.word
        WHERE tf.doc_id < 20
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, word): term counts joined to document
    frequencies. The df table is vocabulary-sized (tiny next to the
    corpus) → broadcast; the tf side never reshuffles after its one
    groupBy. Output limited to 20 docs to keep the checked result
    compact; the plan is scale-free."""
    d = _docs(spark, sf_dir)
    n_docs = d.count()  # scalar, one job; becomes a plan literal
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.filter(F.col("doc_id") < 20)
        .join(F.broadcast(df_), "word")
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(n_docs / F.col("df")), 4).alias("tfidf"),
        )
    )


@query(
    "unigram_logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents),
        tok2 AS (SELECT doc_id, word FROM tok WHERE word <> ''),
        freq AS (SELECT word, count(*) AS c FROM tok2 GROUP BY word),
        tot AS (SELECT sum(c) AS n FROM freq)
        SELECT t.doc_id,
               round(avg(ln(f.c * 1.0 / tot.n) / ln(10)), 4) AS avg_logprob
        FROM tok2 t JOIN freq f ON t.word = f.word CROSS JOIN tot
        GROUP BY t.doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: mean log10 probability of
    a document's tokens under the corpus's own unigram distribution —
    the perplexity-style fluency/outlier signal of pretraining-data
    quality filters (gibberish and boilerplate-with-rare-symbols score
    low, plain prose scores high).

    Plan: one token-frequency aggregation (vocabulary-sized result →
    broadcast back onto the token stream), the corpus-total N attached
    via crossJoin(broadcast(agg)) — a plan literal-free scalar join,
    NO driver-side count() round trip (one job end to end, unlike
    tfidf's documented two-job form) — then one groupBy(doc_id). At
    100 TB: two shuffles total (freq, per-doc mean); the token stream
    itself never reshuffles between them."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    return (
        tok.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log10(F.col("c") / F.col("n"))), 4).alias("avg_logprob"))
    )


@query(
    "bigram_logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        bg AS (SELECT p, count(*) AS c2 FROM bi GROUP BY p),
        c1 AS (SELECT string_split(p, ' ')[1] AS w1, sum(c2) AS c1
               FROM bg GROUP BY 1)
        SELECT bi.doc_id,
               round(avg(ln(bg.c2 * 1.0 / c1.c1) / ln(10)), 4) AS avg_logprob
        FROM bi
        JOIN bg ON bi.p = bg.p
        JOIN c1 ON string_split(bi.p, ' ')[1] = c1.w1
        GROUP BY bi.doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: mean log10 of the MLE
    transition probability p(w2|w1) = c(w1,w2)/c(w1·) over each
    document's bigrams — one rung above `unigram_logprob` on the
    LM-fluency ladder (scrambled or templated text scores low even
    when its unigram mix looks natural). The denominator is the
    bigram-left count, so probabilities per w1 sum to exactly 1.

    Plan: the bigram table is vocabulary²-bounded (and skew-headed,
    like every language table) → BROADCAST onto the doc bigram
    stream, as is the per-w1 marginal; one groupBy(doc_id) closes.
    The token stream shuffles zero times before the per-doc mean. At
    100 TB, hash the pair strings to int64 and frequency-cap the
    table (rare tails add noise, not signal) — same plan shape."""
    d = _docs(spark, sf_dir)
    tk = tokens_col(F.col("text"))
    # Pre-filter single-token docs: Spark's sequence(1, 0) infers a
    # DESCENDING step and would index element 0 (1-based arrays).
    bi = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 1),
                    lambda i: F.concat(
                        F.element_at("tk", i), F.lit(" "), F.element_at("tk", i + 1)
                    ),
                )
            ).alias("p"),
        )
    )
    # r13: the vocabulary²-bounded bigram table feeds the marginal
    # aggregate AND broadcasts onto the scoring stream — materialize
    # it so the corpus tokenize+explode pass behind it runs once, not
    # once per reference (also collapses perplexity_bucket_report's
    # 706-line plan, which composes this query).
    bg = materialize(
        bi.groupBy("p")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = bg.groupBy(F.split("p", " ").getItem(0).alias("w1")).agg(
        F.sum("c2").alias("c1")
    )
    return (
        bi.join(F.broadcast(bg), "p")
        .join(F.broadcast(c1), F.split(bi.p, " ").getItem(0) == c1.w1)
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log10(F.col("c2") / F.col("c1"))), 4).alias("avg_logprob"))
    )


@query(
    "bigram_counts",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bg AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1])) AS bigram
            FROM tok WHERE len(tk) >= 2)
        SELECT bigram, count(*) AS count FROM bg
        GROUP BY bigram ORDER BY count DESC, bigram LIMIT 30
    """,
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigrams: sequence n-grams (order-preserving, unlike the
    shingle SETS in dedup). Same partial-agg + TakeOrderedAndProject
    shape as word_count/top_k."""
    d = _docs(spark, sf_dir)
    tk = F.col("tk")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat(
            F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
        ),
    )
    return (
        d.select(tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("bigram"))
        .limit(30)
    )


def kr_fold(values: Column, base: int, mod: int) -> Column:
    """Karp-Rabin polynomial fold: h = sum(v_i * B^(n-1-i)) mod P,
    left-to-right over an int array. Shared by `doc_rolling_hash`
    (whole-document fingerprint) and `repeated_spans` (windowed form).
    Every intermediate stays in int64: acc < P, so acc*B + v < 2^63
    for P, B below ~2^31 / 2^20."""
    return F.aggregate(
        values,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * base + v) % mod,
    )


@query(
    "doc_rolling_hash",
    oracle=f"""
        WITH cps AS (
            SELECT doc_id,
                   list_transform(string_split_regex({NORM_TEXT_SQL}, ''),
                                  c -> unicode(c)) AS cp
            FROM documents)
        SELECT doc_id,
               CAST(len(cp) AS BIGINT) AS n_cp,
               list_reduce([CAST(0 AS BIGINT)] || cp,
                           (acc, c) -> (acc * 257 + c) % 1000000007) AS rhash
        FROM cps
    """,
)
def q_doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin polynomial fingerprint of the normalized text:
    h = sum(c_i * B^(n-i)) mod P with B=257, P=1e9+7, folded left to
    right over unicode codepoints — the rolling-hash family used for
    content-defined chunking and plagiarism-style fingerprinting.
    (The windowed form reuses these prefix hashes: h(i..j) =
    ph[j] - ph[i-1]*B^(j-i+1) mod P.) Pure built-in expressions, one
    sequential fold per document, shuffle-free; both engines fold the
    identical codepoint sequence, so the 31-bit values match exactly."""
    d = _docs(spark, sf_dir)
    # Explicit empty-element filter: don't depend on SPARK-40194's
    # (>= 3.4) split(str, '') trailing-empty behavior — an empty
    # element would fold in a spurious 0 term and break oracle parity.
    chars = F.filter(
        F.split(norm_text(F.col("text")), ""), lambda c: c != F.lit("")
    )
    cps = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    rhash = kr_fold(cps, 257, 1000000007)
    return d.select(
        "doc_id",
        F.size(chars).cast("long").alias("n_cp"),
        rhash.alias("rhash"),
    )


@query(
    "repeated_ngrams",
    oracle=f"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split({NORM_TEXT_SQL}, ' '), w -> w <> '') AS t
            FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(t) - 8),
                          i -> array_to_string(t[i:i+9], ' ')))) AS gram
            FROM tk WHERE len(t) >= 10)
        SELECT gram, count(*) AS n_docs
        FROM sh GROUP BY gram HAVING count(*) >= 2
        ORDER BY n_docs DESC, gram LIMIT 50
    """,
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated long-n-gram detection (10-token grams appearing in >= 2
    distinct documents): the boilerplate / training-test-contamination
    signal behind substring-level dedup ('Deduplicating Training Data
    Makes Language Models Better'-style pipelines approximate the
    suffix-array pass with exactly this shingle-count shape at scale).

    Plan: shuffle-free shingle explode (per-doc distinct, so a doc
    counts once per gram) → partial+final count on the gram →
    HAVING >= 2 → bounded top-k. At 100 TB the gram key is hashed to
    16 bytes before the shuffle (same trick as dedup_exact)."""
    d = _docs(spark, sf_dir)
    t = tokens_col(norm_text(F.col("text")))
    return (
        d.select(t.alias("t"))
        .filter(F.size("t") >= 10)
        .select(F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 9),
                    lambda i: F.array_join(F.slice("t", i, 10), " "),
                )
            )
        ).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(50)
    )


@query(
    "doc_novelty",
    oracle=f"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split({NORM_TEXT_SQL}, ' '), w -> w <> '') AS t
            FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' ')))) AS gram
            FROM tk WHERE len(t) >= 3),
        df AS (SELECT gram, count(*) AS df FROM sh GROUP BY gram)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               round(avg(CASE WHEN d.df = 1 THEN 1.0 ELSE 0.0 END), 4) AS novelty
        FROM sh s JOIN df d USING (gram)
        GROUP BY s.doc_id
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-token
    shingles that appear in NO other document — the inverse of the
    boilerplate signal (`repeated_ngrams` finds the shared grams;
    this scores each doc by how much of it is its own). Low-novelty
    docs are template/boilerplate candidates even when no single pair
    crosses a dedup threshold.

    Plan: per-doc distinct shingle explode (shuffle-free) → document
    frequency via one partial+final count on the gram → join the
    shingle stream back on the gram key → per-doc mean. Two shuffles
    total, both on the gram key; at 100 TB hash grams to 16 bytes
    before the exchange (dedup_exact's trick) and the df side stays
    key+count only — document bodies never move. The 0/1 mean is an
    exact integer sum in double, so round(.,4) is engine-stable."""
    d = _docs(spark, sf_dir)
    t = tokens_col(norm_text(F.col("text")))
    sh = (
        d.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 2),
                        lambda i: F.array_join(F.slice("t", i, 3), " "),
                    )
                )
            ).alias("gram"),
        )
    )
    df = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)), 4
            ).alias("novelty"),
        )
    )


# repeated_spans parameters. Two independent 31-bit Karp-Rabin hash
# families => a 62-bit effective window key; each family's fold keeps
# every product inside int64 (acc < 2^31, base < 2^20). Window keys
# only need to agree WITHIN a candidate doc pair, so the global
# collision odds (~|windows|^2 / 2^62) stay negligible at sf scale and
# a verified-span variant (re-compare token slices) is the belt-and-
# braces option at 100 TB.
_SPAN_W = 10  # seed window length, tokens (matches repeated_ngrams)
_KR_FAMILIES = ((1000003, 2147483647), (999983, 2147483629))


# String-ground-truth oracle shared by repeated_spans (hash-keyed
# plan) and repeated_spans_verified (hash-keyed + token-slice verify):
# the oracle joins on raw gram strings, so it IS the collision-free
# answer both variants target.
_ORACLE_REPEATED_SPANS = f"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split({NORM_TEXT_SQL}, ' '), w -> w <> '') AS t
            FROM documents),
        w AS (
            SELECT doc_id, s.pos AS pos, s.gram AS gram
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - {_SPAN_W - 2}),
                                i -> {{'pos': i,
                                      'gram': array_to_string(t[i:i+{_SPAN_W - 1}], ' ')}}))
                             AS s
                  FROM tk WHERE len(t) >= {_SPAN_W}) u),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pos_a, a.pos - b.pos AS off
            FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        g AS (
            SELECT doc_a, doc_b, off, pos_a,
                   pos_a - row_number() OVER (
                       PARTITION BY doc_a, doc_b, off ORDER BY pos_a) AS grp
            FROM p)
        SELECT doc_a, doc_b,
               CAST(min(pos_a) AS BIGINT) AS start_a,
               CAST(min(pos_a) - off AS BIGINT) AS start_b,
               CAST(count(*) + {_SPAN_W - 1} AS BIGINT) AS span_len
        FROM g GROUP BY doc_a, doc_b, off, grp
    """


@query("repeated_spans", oracle=_ORACLE_REPEATED_SPANS)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length repeated-span detection: maximal token spans
    (>= {_SPAN_W} tokens) shared verbatim between two documents, with
    their start offsets — the suffix-array contamination pass of
    'Deduplicating Training Data Makes Language Models Better',
    re-expressed as a bounded-shuffle Spark plan. Where
    `repeated_ngrams` counts fixed 10-gram shingles, this merges runs
    of matching windows into spans of ARBITRARY length.

    Plan: tokens → per-token int hashes → windowed Karp-Rabin
    polynomial fold (two independent 31-bit families; `kr_fold`, the
    same machinery as `doc_rolling_hash`) → explode (doc, pos, h1, h2)
    — a shuffle-free projection ~|tokens| rows wide, integers only,
    document bodies never leave the scan — → equi-join on the 62-bit
    window key → gaps-and-islands per (pair, alignment offset): a
    shared span of length L appears as L-{_SPAN_W}+1 consecutive
    window matches at one offset, so `pos - row_number()` groups them
    and `count + {_SPAN_W}-1` recovers L.

    At 100 TB: the join key is uniformly-hashed (no skew), candidates
    are proportional to true shared windows (never all-pairs), and the
    window-per-token explode is the same cost envelope as the
    tokenize-explode every wordcount query already pays. The oracle
    joins on the raw gram strings — hash collisions are the only
    possible divergence (~2^-62 per window pair; see
    `repeated_spans_verified` for the collision-immune variant)."""
    _, p = _span_window_matches(spark, sf_dir)
    return _spans_from_matches(
        p.select(
            "doc_a", "doc_b", "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("off"),
        )
    )


def _span_window_matches(spark: SparkSession, sf_dir: str):
    """Shared candidate stage of the repeated-spans family: returns
    (base, p) where ``base`` is (doc_id, t) token arrays and ``p`` the
    hash-matched window pairs (doc_a, doc_b, pos_a, pos_b)."""
    d = _docs(spark, sf_dir)
    t = tokens_col(norm_text(F.col("text")))
    base = d.select("doc_id", t.alias("t")).filter(F.size("t") >= _SPAN_W)
    hashed = base
    # Per-token base values: family i folds pmod(xxhash64(seed_i, w), P_i).
    # Distinct seeds decorrelate the families below the 64-bit level.
    def token_hash(seed: int, mod: int):
        # closure (not default args): PySpark reads lambda arity to
        # pick the higher-order-function form, so extra params break it
        return lambda w: F.pmod(F.xxhash64(F.lit(seed), w), F.lit(mod))

    for i, (_, mod) in enumerate(_KR_FAMILIES):
        hashed = hashed.withColumn(f"th{i}", F.transform("t", token_hash(i, mod)))

    def window_hash(col: str, start: Column, base_: int, mod: int) -> Column:
        return kr_fold(F.slice(F.col(col), start, _SPAN_W), base_, mod)

    # Pack the two 31-bit family hashes into ONE 62-bit long
    # (h0 * 2^31 + h1 — injective since both mods are < 2^31): the
    # window self-join shuffles and compares a single key column
    # instead of two, ~25% fewer shuffled bytes on the widest stream
    # of the query (guide §2.3 narrower keys). The match set is
    # EXACTLY the (h0, h1) pair-equality set — no new collision class.
    windows = hashed.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_SPAN_W - 1)),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    (
                        window_hash("th0", i, *_KR_FAMILIES[0])
                        * F.lit(1 << 31)
                        + window_hash("th1", i, *_KR_FAMILIES[1])
                    ).alias("h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.h")
    wa = windows.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    wb = windows.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("h").alias("hb"),
    )
    p = wa.join(
        wb,
        (F.col("h") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b")),
    ).select("doc_a", "doc_b", "pos_a", "pos_b")
    return base, p


def _spans_from_matches(p: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of matched windows (doc_a, doc_b, pos_a,
    off) into maximal spans — shared tail of the repeated-spans family."""
    run = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pos_a")
    return (
        p.withColumn("grp", F.col("pos_a") - F.row_number().over(run))
        .groupBy("doc_a", "doc_b", "off", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count(F.lit(1)) + (_SPAN_W - 1)).alias("span_len"),
        )
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("off")).alias("start_b"),
            "span_len",
        )
    )


@query("repeated_spans_verified", oracle=_ORACLE_REPEATED_SPANS)
def q_repeated_spans_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`repeated_spans` with belt-and-braces verification: every
    hash-matched candidate window is re-compared as actual TOKEN
    SLICES before the island merge, so a 62-bit Karp-Rabin collision
    can never fabricate a span — the variant the base docstring
    promises for 100 TB certainty.

    Cost: re-attaches the token arrays to the (few) candidate matches
    — two joins keyed on doc id whose right side is the already-
    scanned base, plus an O(span window) array comparison per
    candidate; candidates ∝ true shared windows, so the verify stage
    never touches the n² pair space. On collision-free input (any
    real corpus, a.s.) the output is IDENTICAL to `repeated_spans` —
    pytest pins that equivalence; the string-ground-truth oracle is
    the same one `repeated_spans` hash-matches."""
    base, p = _span_window_matches(spark, sf_dir)
    ta = base.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    tb = base.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    verified = (
        p.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.slice("t_a", F.col("pos_a").cast("int"), _SPAN_W)
            == F.slice("t_b", F.col("pos_b").cast("int"), _SPAN_W)
        )
        .select(
            "doc_a", "doc_b", "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("off"),
        )
    )
    return _spans_from_matches(verified)


@query(
    "fuzzy_match_words",
    oracle="""
        SELECT word, CAST(levenshtein(word, 'spark') AS BIGINT) AS dist
        FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' AND levenshtein(word, 'spark') <= 2
    """,
)
def q_fuzzy_match_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: vocabulary words within
    Levenshtein distance 2 of a probe term — the typo/variant-merge
    primitive of entity resolution. Runs on the DISTINCT vocabulary
    (tiny), never the token stream, so the quadratic-ish DP cost is
    bounded by |vocab| regardless of corpus size."""
    from hadoop_wordcount_spark.operators.wordcount import tokenize

    words = tokenize(_docs(spark, sf_dir), "text").distinct()
    dist = F.levenshtein(F.col("word"), F.lit("spark"))
    return words.filter(dist <= 2).select(
        "word", dist.cast("long").alias("dist")
    )


# ---------------------------------------------------------------------------
# Round 5: collocation mining + composite quality rules
# ---------------------------------------------------------------------------


@query(
    "collocations_pmi",
    oracle="""
        WITH tok AS (
            SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        uni AS (SELECT unnest(tk) AS w FROM tok),
        u AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
        nw AS (SELECT sum(c1) AS nw FROM u),
        bi AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        nb AS (SELECT count(*) AS nb FROM bi),
        bg AS (SELECT p, count(*) AS c2 FROM bi GROUP BY p
               HAVING count(*) >= 5)
        SELECT bg.p AS bigram, bg.c2 AS pair_count,
               round(ln(bg.c2 * 1.0 * nw.nw * nw.nw
                        / (nb.nb * u1.c1 * u2.c1)), 4) AS pmi
        FROM bg
        JOIN u u1 ON string_split(bg.p, ' ')[1] = u1.w
        JOIN u u2 ON string_split(bg.p, ' ')[2] = u2.w
        CROSS JOIN nw CROSS JOIN nb
        ORDER BY pmi DESC, bigram LIMIT 30
    """,
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 collocations by pointwise mutual information: bigrams
    whose co-occurrence beats the independence expectation —
    PMI = ln(p(ab) / (p(a)p(b))) with a count>=5 support floor (the
    classic Church-Hanks association measure; a corpus-audit staple
    for spotting multiword terms and templated boilerplate).

    Numeric discipline: PMI is evaluated as ONE log of an
    integer-ratio — c2*Nw*Nw / (Nb*c1a*c1b) — whose numerator and
    denominator are exact in doubles far past sf100, so both engines
    take log of the identical value; ordering uses the ROUNDED pmi
    (then bigram) so the limit boundary is engine-stable.

    Plan: one bigram aggregate and one unigram aggregate over the
    same token stream; the support floor shrinks the bigram table
    to the frequent head, which then BROADCASTS onto the two unigram
    lookups; totals attach via crossJoin(broadcast(1-row agg)); a
    TakeOrderedAndProject closes. Nothing reshuffles the corpus."""
    d = _docs(spark, sf_dir)
    tokd = d.select(tokens_col(F.col("text")).alias("tk"))
    uni = tokd.select(F.explode("tk").alias("w"))
    # r13: the unigram table feeds the total and BOTH join sides, and
    # the bigram stream feeds its total and the >= 5 cut — checkpoint
    # the two corpus aggregates so each tokenize+explode runs once
    # (nb derives from the unfiltered bigram counts).
    u = materialize(
        uni.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    nw = u.agg(F.sum("c1").alias("nw"))
    tk = F.col("tk")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat(
            F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
        ),
    )
    bi = tokd.filter(F.size("tk") >= 2).select(F.explode(bigrams).alias("p"))
    bgu = materialize(
        bi.groupBy("p")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    nb = bgu.agg(F.sum("c2").alias("nb"))
    bg = bgu.filter(F.col("c2") >= 5)
    u1 = u.select(F.col("w").alias("w1"), F.col("c1").alias("c1a"))
    u2 = u.select(F.col("w").alias("w2"), F.col("c1").alias("c1b"))
    pmi = F.round(
        F.log(
            F.col("c2") * 1.0 * F.col("nw") * F.col("nw")
            / (F.col("nb") * F.col("c1a") * F.col("c1b"))
        ),
        4,
    )
    return (
        bg.join(F.broadcast(u1), F.split("p", " ").getItem(0) == F.col("w1"))
        .join(F.broadcast(u2), F.split("p", " ").getItem(1) == F.col("w2"))
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("p").alias("bigram"),
            F.col("c2").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(30)
    )


_STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "that"]


@query(
    "quality_gopher_rules",
    oracle=f"""
        WITH q AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        m AS (
            SELECT doc_id,
                   len(tk) AS n_words,
                   round(coalesce(list_sum(list_transform(tk, w -> length(w))), 0)
                         * 1.0 / greatest(len(tk), 1), 4) AS mean_word_len,
                   round(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
                         * 1.0 / greatest(len(tk), 1), 4) AS frac_alpha,
                   round(len(list_distinct(tk))
                         * 1.0 / greatest(len(tk), 1), 4) AS frac_distinct,
                   len(list_intersect(
                       list_distinct(list_transform(tk, w -> lower(w))),
                       {_STOPWORDS!r})) AS stopword_hits
            FROM q)
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
               frac_alpha, frac_distinct,
               CAST(stopword_hits AS BIGINT) AS stopword_hits,
               CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                          AND mean_word_len BETWEEN 3 AND 10
                          AND frac_alpha >= 0.8
                          AND frac_distinct >= 0.2
                          AND stopword_hits >= 2
                    THEN 1 ELSE 0 END AS BIGINT) AS pass_all
        FROM m
    """,
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality gate in the style of the published
    Gopher/MassiveText rules (Rae et al. 2021, table A1): word-count
    bounds, mean-word-length bounds, minimum alphabetic-word
    fraction, minimum lexical diversity, and a stop-word-presence
    floor — each reported per document alongside the combined
    verdict, so downstream filters can ablate single rules.

    All five signals are array expressions over one tokenization —
    zero shuffles, zero UDFs; the whole query is a projection the
    scanner streams through, which is what makes rule-based gating
    effectively free at 100 TB (it runs in the same pass as any
    ingest). Flags compare the exact per-doc ratios (integer-ratio
    doubles, engine-stable); `pass_all` is int 0/1 for a stable
    cross-engine schema."""
    d = _docs(spark, sf_dir)
    tk = F.col("tk")
    n = F.size(tk)
    nn = F.greatest(n, F.lit(1))
    mean_len = F.round(
        F.aggregate(tk, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        / nn,
        4,
    )
    frac_alpha = F.round(
        F.size(F.filter(tk, lambda w: w.rlike("[A-Za-z]"))) / nn, 4
    )
    frac_distinct = F.round(F.size(F.array_distinct(tk)) / nn, 4)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(tk, F.lower)),
            F.array(*[F.lit(s) for s in _STOPWORDS]),
        )
    )
    m = d.select(tokens_col(F.col("text")).alias("tk"), "doc_id").select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha"),
        frac_distinct.alias("frac_distinct"),
        stop_hits.cast("long").alias("stopword_hits"),
    )
    pass_all = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("frac_alpha") >= 0.8)
        & (F.col("frac_distinct") >= 0.2)
        & (F.col("stopword_hits") >= 2)
    )
    return m.select("*", pass_all.cast("long").alias("pass_all"))


@query(
    "vocab_coverage",
    oracle="""
        WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
            FROM documents),
        freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        vocab AS (SELECT w, c FROM freq ORDER BY c DESC, w LIMIT 1000),
        tot AS (SELECT sum(c) AS total_tokens, count(*) AS n_types FROM freq),
        cov AS (SELECT sum(c) AS covered FROM vocab)
        SELECT CAST(tot.total_tokens AS BIGINT) AS total_tokens,
               CAST(tot.n_types AS BIGINT) AS n_types,
               CAST(cov.covered AS BIGINT) AS covered_tokens,
               round(cov.covered * 1.0 / tot.total_tokens, 6) AS coverage,
               round(1.0 - cov.covered * 1.0 / tot.total_tokens, 6) AS oov_rate
        FROM tot CROSS JOIN cov
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: what fraction of all corpus tokens
    a top-1000-by-frequency vocabulary covers, and the complementary
    OOV rate — the first question asked when sizing a tokenizer
    vocabulary or fixed embedding table against a corpus.

    The vocabulary cut is (count DESC, word ASC) — a total order, so
    the 1000-word set is identical on both engines even through
    count ties at the boundary. Plan: one token-frequency aggregate
    (the only corpus-sized stage), a TakeOrderedAndProject for the
    vocab head, and two one-row aggregates joined by broadcast —
    coverage of a 100 TB corpus costs one scan + one
    vocabulary-sized shuffle."""
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = freq.orderBy(F.desc("c"), F.asc("w")).limit(1000)
    tot = freq.agg(
        F.sum("c").alias("total_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    cov = vocab.agg(F.sum("c").alias("covered"))
    return (
        tot.crossJoin(F.broadcast(cov))
        .select(
            "total_tokens",
            "n_types",
            F.col("covered").alias("covered_tokens"),
            F.round(F.col("covered") / F.col("total_tokens"), 6).alias("coverage"),
            F.round(1.0 - F.col("covered") / F.col("total_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )


_WINNOW_W = 4  # window of consecutive k-gram hashes per fingerprint pick


@query(
    "winnowing_fingerprint",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        kh AS (
            SELECT doc_id,
                   list_transform(
                       list_transform(range(1, len(tk) - 1),
                                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                       s -> substr(md5(s), 1, 8)) AS kh
            FROM tok WHERE len(tk) >= 3),
        fp AS (
            SELECT doc_id,
                   len(kh) - {_WINNOW_W} + 1 AS n_windows,
                   list_distinct(list_transform(
                       range(1, len(kh) - {_WINNOW_W} + 2),
                       j -> list_min(list_slice(kh, j, j + {_WINNOW_W} - 1)))) AS fps
            FROM kh WHERE len(kh) >= {_WINNOW_W})
        SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
               CAST(len(fps) AS BIGINT) AS n_fingerprints,
               round(len(fps) * 1.0 / n_windows, 4) AS density
        FROM fp
    """,
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken,
    the MOSS algorithm): slide a window of w=4 consecutive
    3-gram hashes and keep each window's minimum — the guarantee is
    any shared run of w+k-1 tokens between two documents shares at
    least one selected fingerprint, at ~2/(w+1) the storage of the
    full hash set. Reported per doc: window count, distinct selected
    fingerprints, and selection density — the compact signature set
    a plagiarism/contamination index is built from.

    Plan: pure array expressions over one tokenization — zero
    shuffles, no explode (the O(n·w) window-min runs inside the
    projection), and the 8-hex-char hash prefix keeps comparisons
    string-ordered identically on both engines."""
    d = _docs(spark, sf_dir)
    tk = F.col("tk")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(tk, i),
            F.element_at(tk, i + 1),
            F.element_at(tk, i + 2),
        ),
    )
    kh = F.transform(shingles, lambda s: F.substring(F.md5(s), 1, 8))
    base = (
        d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("doc_id", kh.alias("kh"))
        .filter(F.size("kh") >= _WINNOW_W)
    )
    khc = F.col("kh")
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(khc) - _WINNOW_W + 1),
            lambda j: F.array_min(F.slice(khc, j, _WINNOW_W)),
        )
    )
    # Materialize the window-min array once per row: referencing the
    # lambda expression twice in one projection re-evaluates the whole
    # O(n·w) transform (no codegen CSE across lambda functions).
    staged = base.select(
        "doc_id",
        (F.size("kh") - _WINNOW_W + 1).cast("long").alias("n_windows"),
        F.size(fps).cast("long").alias("n_fingerprints"),
    )
    return staged.select(
        "doc_id",
        "n_windows",
        "n_fingerprints",
        F.round(
            F.col("n_fingerprints") / F.col("n_windows").cast("double"), 4
        ).alias("density"),
    )


@query(
    "perplexity_bucket_report",
    oracle="""
        WITH tok AS (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        bg AS (SELECT p, count(*) AS c2 FROM bi GROUP BY p),
        c1 AS (SELECT string_split(p, ' ')[1] AS w1, sum(c2) AS c1
               FROM bg GROUP BY 1),
        lp AS (
            SELECT bi.doc_id,
                   round(avg(ln(bg.c2 * 1.0 / c1.c1) / ln(10)), 4) AS avg_logprob
            FROM bi
            JOIN bg ON bi.p = bg.p
            JOIN c1 ON string_split(bi.p, ' ')[1] = c1.w1
            GROUP BY bi.doc_id),
        bk AS (
            SELECT doc_id, avg_logprob,
                   ntile(10) OVER (ORDER BY avg_logprob, doc_id) AS bucket
            FROM lp)
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(min(avg_logprob), 4) AS min_logprob,
               round(max(avg_logprob), 4) AS max_logprob,
               round(avg(avg_logprob), 4) AS mean_logprob
        FROM bk GROUP BY bucket
    """,
)
def q_perplexity_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document by its
    bigram-LM fluency score (`bigram_logprob`'s exact statistic) and
    split the corpus into 10 equal buckets — the head/middle/tail
    partition CCNet popularized for keeping, reviewing, or dropping
    web text by LM perplexity. The report gives each bucket's score
    range, the thresholds a filtering run would hardcode.

    Plan: the bigram-LM scoring stages as documented on
    `bigram_logprob` (broadcast LM tables, one groupBy(doc_id)),
    then the DISTRIBUTED ntile over the doc-level table (tie-safe
    via the doc_id tiebreak; `operators/ranking.py`'s range exchange
    + parallel local ranks — never a single-partition window) and a
    10-row aggregate. At 100 TB the rank stages run on |docs| rows,
    not tokens, and every one of them is parallel."""
    from hadoop_wordcount_spark.operators.text_analysis import q_bigram_logprob

    from hadoop_wordcount_spark.operators.ranking import global_ntile

    lp = q_bigram_logprob(spark, sf_dir)
    # small_threshold=0: the per-doc score table is data-sized, so
    # pin the distributed ntile and skip the probe.
    bk = global_ntile(
        lp.select("avg_logprob", "doc_id"),
        [("avg_logprob", False), ("doc_id", False)],
        10,
        out="b",
        small_threshold=0,
    ).select("avg_logprob", F.col("b").cast("long").alias("bucket"))
    return bk.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("avg_logprob"), 4).alias("min_logprob"),
        F.round(F.max("avg_logprob"), 4).alias("max_logprob"),
        F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
    )


@query(
    "ngram_entropy",
    oracle="""
        WITH tok AS (
            SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        uni AS (SELECT unnest(tk) AS w FROM tok),
        u AS (SELECT count(*) AS c FROM uni GROUP BY w),
        nw AS (SELECT sum(c) AS n FROM u),
        h1 AS (
            SELECT round(-sum((c * 1.0 / nw.n) * ln(c * 1.0 / nw.n) / ln(2)), 4)
                       AS h
            FROM u CROSS JOIN nw GROUP BY nw.n),
        bi AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        b AS (SELECT count(*) AS c FROM bi GROUP BY p),
        nb AS (SELECT sum(c) AS n FROM b),
        h2 AS (
            SELECT round(-sum((c * 1.0 / nb.n) * ln(c * 1.0 / nb.n) / ln(2)), 4)
                       AS h
            FROM b CROSS JOIN nb GROUP BY nb.n)
        SELECT h1.h AS unigram_entropy_bits,
               h2.h AS bigram_entropy_bits,
               round(h2.h - h1.h, 4) AS conditional_entropy_bits,
               round(pow(2.0, h2.h - h1.h), 2) AS bigram_perplexity
        FROM h1 CROSS JOIN h2
    """,
)
def q_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy audit of the corpus language model: unigram
    entropy H1, bigram entropy H2, conditional entropy H(w2|w1) =
    H2 - H1 (bits/token given one token of context) and its
    perplexity 2^H — the information-theoretic fingerprint that
    drops when a corpus fills with boilerplate/duplication and rises
    with topic diversity (Shannon's classic English-entropy
    estimate, as a corpus health metric).

    Plan: one unigram and one bigram frequency aggregate over the
    same token stream (the only corpus-sized stages; both
    vocabulary-bounded outputs), each reduced to a 1-row entropy sum
    with map-side partials and joined by broadcast. Probabilities
    are exact integer ratios; entropies round to 4 before the
    cross-engine compare."""
    d = _docs(spark, sf_dir)
    tokd = d.select(tokens_col(F.col("text")).alias("tk"))

    def entropy(counts: DataFrame) -> DataFrame:
        # r13: the count table feeds the total AND the entropy sum —
        # materialize the one corpus-sized aggregate per n-gram order.
        counts = materialize(counts)
        tot = counts.agg(F.sum("c").alias("n"))
        pr = F.col("c") / F.col("n")
        return (
            counts.crossJoin(F.broadcast(tot))
            .agg(F.round(-F.sum(pr * F.log2(pr)), 4).alias("h"))
        )

    uni = tokd.select(F.explode("tk").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    tk = F.col("tk")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat(
            F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
        ),
    )
    bi = (
        tokd.filter(F.size("tk") >= 2)
        .select(F.explode(bigrams).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h1 = entropy(uni).select(F.col("h").alias("h1"))
    h2 = entropy(bi).select(F.col("h").alias("h2"))
    return h1.crossJoin(F.broadcast(h2)).select(
        F.col("h1").alias("unigram_entropy_bits"),
        F.col("h2").alias("bigram_entropy_bits"),
        F.round(F.col("h2") - F.col("h1"), 4).alias("conditional_entropy_bits"),
        F.round(F.pow(F.lit(2.0), F.col("h2") - F.col("h1")), 2).alias(
            "bigram_perplexity"
        ),
    )


@query(
    "zipf_fit",
    oracle="""
        WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
            FROM documents),
        freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        top AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
            FROM freq ORDER BY c DESC, w LIMIT 100),
        pts AS (SELECT ln(rnk * 1.0) AS x, ln(c * 1.0) AS y FROM top),
        m AS (SELECT avg(x) AS mx, avg(y) AS my, count(*) AS n FROM pts)
        SELECT round(sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx)), 4)
                   AS zipf_slope,
               round(my - (sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx))) * mx,
                     4) AS ln_intercept,
               CAST(max(n) AS BIGINT) AS n_points
        FROM pts CROSS JOIN m GROUP BY mx, my
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: least-squares slope of ln(frequency) against
    ln(rank) over the top-100 words — natural text sits near -1;
    a much flatter slope flags templated/duplicated corpora, a much
    steeper one flags degenerate vocabulary. Complements
    `token_frequency_spectrum` (the raw curve) with the headline
    fitted statistic.

    Plan: one token-frequency aggregate, a TakeOrderedAndProject for
    the deterministic top-100 cut (count DESC, word — tie-safe),
    then closed-form regression over 100 points via two tiny
    aggregates. The rank is `ranking.global_row_number`'s window-free
    broadcast count-ahead over the 100-row cut, never the
    vocabulary."""
    from hadoop_wordcount_spark.operators.ranking import global_row_number

    d = _docs(spark, sf_dir)
    freq = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = freq.orderBy(F.desc("c"), F.asc("w")).limit(100)
    # size_hint: `top` is a .limit(100) cut — statically bounded, no
    # runtime size probe needed.
    pts = global_row_number(
        top, [("c", True), ("w", False)], out="_rk", size_hint=100
    ).select(
        F.log(F.col("_rk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.avg("x").alias("mx"), F.avg("y").alias("my"), F.count(F.lit(1)).alias("n")
    )
    j = pts.crossJoin(F.broadcast(m))
    slope = F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my"))) / F.sum(
        (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
    )
    return j.groupBy("mx", "my").agg(
        F.round(slope, 4).alias("zipf_slope"),
        F.round(F.col("my") - slope * F.col("mx"), 4).alias("ln_intercept"),
        F.max("n").alias("n_points"),
    ).select("zipf_slope", "ln_intercept", "n_points")


@query(
    "source_token_mi",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents),
        tok2 AS (SELECT source, word FROM tok WHERE word <> ''),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tok2),
        jw AS (SELECT source, word, count(*) AS c_ws FROM tok2 GROUP BY 1, 2),
        mw AS (SELECT word, count(*) AS c_w FROM tok2 GROUP BY 1),
        ms AS (SELECT source, count(*) AS c_s FROM tok2 GROUP BY 1)
        SELECT word,
               round(sum((c_ws * 1.0 / nn) *
                         ln(c_ws * 1.0 * nn / (c_w * 1.0 * c_s))), 6) AS mi
        FROM jw JOIN mw USING (word) JOIN ms USING (source) CROSS JOIN n
        GROUP BY word
        ORDER BY mi DESC, word LIMIT 25
    """,
)
def q_source_token_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature selection: the top-25 tokens whose
    occurrence distribution is most informative about the document's
    SOURCE — I(W;S) decomposed per token over the (token, source)
    occurrence joint. The audit that answers "can a model tell
    sources apart from surface vocabulary?" (high MI = source
    fingerprint tokens → leakage risk for held-out-source evals; the
    same statistic drives classic feature selection).

    Plan: one (source, word) aggregate (the only corpus-sized
    shuffle, map-side partials), then the word and source marginals
    — both vocabulary/source-sized → broadcast; the corpus total
    attaches via crossJoin(broadcast(agg)); top-25 is
    TakeOrderedAndProject. Every ratio inside the log is a ratio of
    exact integer counts, so both engines take ln of bit-identical
    doubles."""
    d = _docs(spark, sf_dir)
    tok = d.select("source", F.explode(tokens_col(F.col("text"))).alias("word"))
    # r14: tokenize the corpus ONCE — the joint (source, word) table
    # is the finest aggregate here, so both marginals and the corpus
    # total derive from it by exact integer rollups instead of three
    # more corpus passes (the r13 plan showed 8 scans / 16 Exchanges).
    # The joint is |sources| x vocab-bounded → checkpoint (guide §5,
    # the naive_bayes_langid treatment).
    jw = materialize(
        tok.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c_ws"))
    )
    n = jw.agg(F.sum("c_ws").cast("long").alias("nn"))
    mw = jw.groupBy("word").agg(F.sum("c_ws").alias("c_w"))
    ms = jw.groupBy("source").agg(F.sum("c_ws").alias("c_s"))
    contrib = (F.col("c_ws") * 1.0 / F.col("nn")) * F.log(
        F.col("c_ws") * 1.0 * F.col("nn") / (F.col("c_w") * 1.0 * F.col("c_s"))
    )
    return (
        jw.join(F.broadcast(mw), "word")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(n))
        .groupBy("word")
        .agg(F.round(F.sum(contrib), 6).alias("mi"))
        .orderBy(F.desc("mi"), "word")
        .limit(25)
    )


@query(
    "kl_divergence_sources",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents),
        tok2 AS (SELECT source, word FROM tok WHERE word <> ''),
        cw AS (SELECT word, count(*) AS c FROM tok2 GROUP BY word),
        vs AS (SELECT CAST(count(*) AS BIGINT) AS v,
                      CAST(sum(c) AS BIGINT) AS nc FROM cw),
        sw AS (SELECT source, word, count(*) AS c_sw FROM tok2 GROUP BY 1, 2),
        st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
        -- smoothed source distribution over the FULL corpus vocab:
        -- grid = every (source, word), c_sw = 0 where absent
        grid AS (
            SELECT st.source, cw.word, st.n_s, cw.c AS c_w,
                   coalesce(sw.c_sw, 0) AS c_sw
            FROM st CROSS JOIN cw
            LEFT JOIN sw ON sw.source = st.source AND sw.word = cw.word)
        SELECT g.source, g.n_s AS n_tokens,
               round(sum(((g.c_sw + 1.0) / (g.n_s + vs.v)) *
                         ln(((g.c_sw + 1.0) / (g.n_s + vs.v)) /
                            ((g.c_w + 1.0) / (vs.nc + vs.v)))), 4) AS kl
        FROM grid g CROSS JOIN vs
        GROUP BY g.source, g.n_s
    """,
)
def q_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(P_source || P_corpus) over
    add-one-smoothed unigram distributions — the corpus-mixture
    audit that flags which sources are vocabulary outliers (high KL
    = domain-shifted source; the same smoothing family as
    `dsir_importance_weight`, aggregated per source instead of per
    document). Smoothing is over the corpus vocabulary, with the
    full (source x vocab) grid materialized so absent words
    contribute their smoothed mass.

    Plan: one (source, word) aggregate is the only corpus-sized
    shuffle; the grid is sources x vocab — built by crossJoin of the
    source-total table (|sources| rows, broadcast) against the
    vocab-sized count table, then a LEFT join to the observed pairs;
    at 100 TB this grid is |sources| x |vocab| rows — independent of
    corpus row count (and the natural cut point is a top-K vocab if
    |vocab| outgrows a shuffle partition). All inputs to ln are
    ratios of exact integers."""
    d = _docs(spark, sf_dir)
    tok = d.select("source", F.explode(tokens_col(F.col("text"))).alias("word"))
    # r13: both vocabulary-sized count tables feed their scalar
    # rollups AND the grid join — checkpoint them so each corpus
    # token aggregate runs once.
    cw = materialize(
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vs = cw.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("nc"),
    )
    sw = materialize(
        tok.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )
    st = sw.groupBy("source").agg(F.sum("c_sw").cast("long").alias("n_s"))
    grid = (
        F.broadcast(st)
        .crossJoin(cw)
        .join(sw, ["source", "word"], "left")
        .select(
            "source",
            "word",
            "n_s",
            F.col("c").alias("c_w"),
            F.coalesce(F.col("c_sw"), F.lit(0)).alias("c_sw"),
        )
    )
    p_s = (F.col("c_sw") + 1.0) / (F.col("n_s") + F.col("v"))
    p_c = (F.col("c_w") + 1.0) / (F.col("nc") + F.col("v"))
    return (
        grid.crossJoin(F.broadcast(vs))
        .groupBy("source", F.col("n_s").alias("n_tokens"))
        .agg(F.round(F.sum(p_s * F.log(p_s / p_c)), 4).alias("kl"))
    )


_BPE_ROUNDS = 6


def _bpe_ctes() -> tuple[str, str, list[str]]:
    """(CTE chain, final word-table name, per-round merge selects) for
    the unrolled BPE trainer in DuckDB — ONE template shared by the
    training and the encoding oracle, so the two can never diverge
    on the merge trajectory (the `_minhash_cte` discipline)."""
    ctes = """
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        words AS (
            SELECT word, count(*) AS cnt FROM tok WHERE word <> ''
            GROUP BY word),
        w0 AS (
            SELECT word, cnt,
                   ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS repr
            FROM words)"""
    prev = "w0"
    sel = []
    for r in range(1, _BPE_ROUNDS + 1):
        ctes += f""",
        pc{r} AS (
            SELECT tk[i] AS pa, tk[i + 1] AS pb, sum(cnt) AS c
            FROM (SELECT cnt, string_split(trim(repr), ' ') AS tk FROM {prev}),
                 unnest(range(1, len(tk))) AS t(i)
            GROUP BY 1, 2),
        top{r} AS (
            SELECT pa, pb, c FROM pc{r}
            ORDER BY c DESC, pa, pb LIMIT 1),
        w{r} AS (
            SELECT word, cnt,
                   replace(repr, ' ' || top{r}.pa || ' ' || top{r}.pb || ' ',
                           ' ' || top{r}.pa || top{r}.pb || ' ') AS repr
            FROM {prev} CROSS JOIN top{r})"""
        sel.append(
            f"SELECT {r} AS merge_round, pa, pb, CAST(c AS BIGINT) AS pair_count"
            f" FROM top{r}"
        )
        prev = f"w{r}"
    return ctes, prev, sel


def _bpe_oracle() -> str:
    """Unrolled BPE trainer in DuckDB: same char-spacing init, same
    per-round (count DESC, pair ASC) selection, same padded
    space-delimited greedy merge via non-overlapping replace()."""
    ctes, _prev, sel = _bpe_ctes()
    return ctes + "\n" + " UNION ALL ".join(sel)


@query("bpe_merges_train", oracle=_bpe_oracle())
def q_bpe_merges_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016 — public), first
    _BPE_ROUNDS merges: start from characters, repeatedly pick the
    most frequent adjacent symbol pair (frequency-weighted over the
    distinct-word table, ties broken lexicographically) and merge it
    corpus-wide. Output: the merge table — the artifact a tokenizer
    ships. Merging uses the classic space-delimited representation
    (' h e l l o ') and non-overlapping left-to-right replace of
    ' a b ' → ' ab ', which is exactly BPE's greedy scan; both
    engines' replace() walk left-to-right past the replacement, so
    the fixed-point trajectories are identical.

    Plan: the ONLY corpus-sized stage is the initial word count; all
    _BPE_ROUNDS rounds operate on the distinct-word table
    (vocabulary-sized, cnt-weighted) — per round one pair-count
    aggregate with map-side partials, a 1-row TakeOrdered winner,
    and a broadcast-applied merge. At 100 TB vocabulary is millions
    of rows where the corpus is trillions — the round cost is
    independent of corpus size, the textbook reason BPE trainers run
    on word-frequency tables, not raw text."""
    w, merges = _bpe_train(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """Run the unrolled trainer; return the post-merge distinct-word
    table (word, cnt, repr) and the per-round 1-row merge tables.
    Shared by `bpe_merges_train` (emits the merges) and
    `bpe_encode_stats` (encodes the corpus with the final table).

    Lineage discipline (r13): each round's winner `top` feeds BOTH the
    merge output and the next round's table, so a fully lazy unroll
    doubles the logical plan per round — at 6 rounds the physical plan
    reached 5,373 lines / 366 Exchange nodes and Catalyst planning plus
    stage scheduling dominated runtime (optimization guide §7.3, huge
    plans). Fix: materialize the vocabulary table once after the single
    corpus-sized aggregate and each round's 1-row winner with
    `stages.materialize` — every round is then one
    vocabulary-sized pair aggregate and the final plan is linear in
    _BPE_ROUNDS (66 lines, zero Exchanges for the merge-table union;
    218 lines / 16 Exchanges for the encode consumer). At 100 TB the checkpointed
    table is the word-frequency vocabulary (millions of rows where the
    corpus is trillions) and each winner is ONE row; executor-local
    storage for both is exactly the iterative-algorithm pattern
    `dedup_clusters` already uses. Results are bit-identical: the same
    aggregates run, only lineage is truncated."""
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
    words = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    w = materialize(words.select(
        "word",
        "cnt",
        F.concat(
            F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")
        ).alias("repr"),
    ))
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        tk = F.split(F.trim(F.col("repr")), " ")
        pairs = w.filter(F.size(tk) >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.struct(
                        F.element_at(tk, i).alias("pa"),
                        F.element_at(tk, i + 1).alias("pb"),
                    ),
                )
            ).alias("p"),
        ).select("cnt", "p.pa", "p.pb")
        top = materialize(
            pairs.groupBy("pa", "pb")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "pa", "pb")
            .limit(1)
        )
        merges.append(
            top.select(
                F.lit(r).alias("merge_round"),
                "pa",
                "pb",
                F.col("c").cast("long").alias("pair_count"),
            )
        )
        w = w.crossJoin(F.broadcast(top)).select(
            "word",
            "cnt",
            F.replace(
                F.col("repr"),
                F.concat(F.lit(" "), F.col("pa"), F.lit(" "), F.col("pb"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("pa"), F.col("pb"), F.lit(" ")),
            ).alias("repr"),
        )
    return w, merges


def _bpe_encode_oracle() -> str:
    """Encoding oracle: the shared trainer CTE chain, then per-word
    token counts from the final representation joined back onto the
    corpus token stream, rolled up per source."""
    ctes, prev, _sel = _bpe_ctes()
    return f"""{ctes},
        wtok AS (
            SELECT word, len(string_split(trim(repr), ' ')) AS n_sym,
                   length(word) AS n_chr
            FROM {prev}),
        stream AS (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents)
        SELECT s.source,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(w.n_chr) AS BIGINT) AS n_chars,
               CAST(sum(w.n_sym) AS BIGINT) AS n_bpe_tokens,
               round(sum(w.n_chr) * 1.0 / sum(w.n_sym), 4) AS chars_per_token
        FROM stream s JOIN wtok w USING (word)
        WHERE s.word <> ''
        GROUP BY s.source
    """


@query("bpe_encode_stats", oracle=_bpe_encode_oracle())
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer INFERENCE: encode the corpus with the vocabulary
    `bpe_merges_train` just learned and report per-source token
    economics — words, characters, BPE tokens, and the
    chars-per-token compression the tokenizer achieves (the number a
    tokenizer is judged by, and the per-source spread is the
    fairness audit: sources whose vocabulary the merges ignore pay
    more tokens for the same text).

    Plan: training reruns the shared vocab-sized chain
    (`_bpe_train`), then encoding is ONE broadcast join — the final
    word→token-count table is vocabulary-sized — onto the corpus
    token stream, closed by a source-keyed aggregate with map-side
    partials. The corpus-sized cost is the token scan; nothing else
    grows with data."""
    w, _merges = _bpe_train(spark, sf_dir)
    wtok = w.select(
        "word",
        F.size(F.split(F.trim(F.col("repr")), " ")).alias("n_sym"),
        F.length("word").alias("n_chr"),
    )
    d = _docs(spark, sf_dir)
    stream = d.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    return (
        stream.join(F.broadcast(wtok), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_chr").cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_chr") * 1.0 / F.sum("n_sym"), 4
            ).alias("chars_per_token"),
        )
    )


# Distributed grep with captured groups. Pattern kept to constructs
# Java regex (Spark) and RE2 (DuckDB) interpret identically: \b word
# boundaries, alternation, [a-z] classes — no backrefs, no lookaround.
_GREP_PAT = r"\b(sc|st|sp)([a-z]+)\b"


@query(
    "grep_regex_groups",
    oracle=rf"""
        WITH m AS (
            SELECT doc_id, source,
                   regexp_extract_all(text, '{_GREP_PAT}', 1) AS pre,
                   regexp_extract_all(text, '{_GREP_PAT}', 2) AS stem
            FROM documents)
        SELECT doc_id, source,
               CAST(len(stem) AS BIGINT) AS n_matches,
               array_to_string(pre, ',') AS prefixes,
               array_to_string(stem, ',') AS stems
        FROM m WHERE len(stem) > 0
    """,
)
def q_grep_regex_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep with captured groups: every document matching
    `\\b(sc|st|sp)([a-z]+)\\b`, with the per-occurrence capture-group
    extractions (prefix digraph, stem remainder) in document order —
    the `grep -oP '...(...)...'` of a 100 TB corpus. Complements
    `grep_filter` (boolean rlike match) with the structured form real
    pipelines want: which substrings matched, not just which rows.

    Plan: pure scan-level projection + filter — regexp_extract_all is
    a JVM codegen'd expression, occurrence order is the regex
    engine's left-to-right scan in both engines, and the
    size()-guard filter doubles as the grep predicate, so no shuffle
    touches document bodies at any scale. Reference: the grep surface
    generalizes O4's tokenizer scan (MapClass.java:21-24)."""
    d = _docs(spark, sf_dir)
    pre = F.regexp_extract_all(F.col("text"), F.lit(_GREP_PAT), F.lit(1))
    stem = F.regexp_extract_all(F.col("text"), F.lit(_GREP_PAT), F.lit(2))
    m = d.select(
        "doc_id",
        "source",
        pre.alias("pre"),
        stem.alias("stem"),
    )
    return m.filter(F.size("stem") > 0).select(
        "doc_id",
        "source",
        F.size("stem").cast("long").alias("n_matches"),
        F.array_join("pre", ",").alias("prefixes"),
        F.array_join("stem", ",").alias("stems"),
    )


# Taxonomy tagging dictionary: (topic, keyword). Broadcast-joined
# against the token stream — the FlashText/Aho-Corasick use case
# expressed relationally (at dictionary sizes beyond broadcast, the
# same plan shuffles on the token instead; the per-doc argmax is
# unchanged).
_TAXONOMY = (
    ("engine", "spark"),
    ("engine", "hash"),
    ("engine", "scan"),
    ("engine", "codegen"),
    ("dataflow", "join"),
    ("dataflow", "shuffle"),
    ("dataflow", "window"),
    ("dataflow", "stream"),
    ("storage", "table"),
    ("storage", "part"),
    ("storage", "batch"),
    ("storage", "key"),
)
_TAX_SQL = ", ".join(f"('{t}', '{k}')" for t, k in _TAXONOMY)


@query(
    "taxonomy_tag_docs",
    oracle=f"""
        WITH dict(topic, kw) AS (VALUES {_TAX_SQL}),
        tok AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents),
        hits AS (
            SELECT t.doc_id, t.source, d.topic, count(*) AS score
            FROM tok t JOIN dict d ON t.w = d.kw
            GROUP BY t.doc_id, t.source, d.topic),
        best AS (
            SELECT doc_id, source, topic, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, topic) AS rk
            FROM hits)
        SELECT source, topic,
               count(*) AS n_docs,
               CAST(sum(score) AS BIGINT) AS total_hits
        FROM best WHERE rk = 1
        GROUP BY source, topic
    """,
)
def q_taxonomy_tag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-driven taxonomy tagging: each document is tagged
    with its highest-scoring topic (keyword-hit count from a
    broadcast (topic, keyword) dictionary; ties break
    lexicographically), then the corpus rolls up to (source, topic)
    doc counts — the classic corpus-labeling pass (FlashText /
    keyword taxonomies) every training-mix report needs.

    Plan: the token stream joins the dictionary BROADCAST (a
    12-row dim; real taxonomies are thousands of rows — still
    broadcast-range), hits aggregate map-side combined, and the
    per-doc argmax is a window partitioned BY doc_id — millions of
    tiny partitions, fully parallel, never a global window. Empty
    split tokens cannot match any keyword, so the plain split
    matches the oracle's unnest exactly."""
    d = _docs(spark, sf_dir)
    dict_df = spark.createDataFrame(list(_TAXONOMY), ["topic", "kw"])
    tok = d.select(
        "doc_id", "source", F.explode(F.split("text", " ", -1)).alias("w")
    )
    hits = (
        tok.join(F.broadcast(dict_df), tok.w == dict_df.kw)
        .groupBy("doc_id", "source", "topic")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("topic"))
    best = hits.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return best.groupBy("source", "topic").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").cast("long").alias("total_hits"),
    )


# The synthetic corpus's source dimension (TESTDATA.md): src0..src19
# at every SF. The crosstab's output columns are these values, so the
# oracle enumerates them; test_round7_fixes pins the set per SF.
_CROSSTAB_SOURCES = [f"src{i}" for i in range(20)]


@query(
    "lang_source_crosstab",
    oracle="SELECT CAST(lang AS VARCHAR) AS lang_source, "
    + ", ".join(
        f"count(*) FILTER (WHERE source = '{s}') AS \"{s}\""
        for s in _CROSSTAB_SOURCES
    )
    + " FROM documents GROUP BY lang",
)
def q_lang_source_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table lang x source via `df.stat.crosstab` — the
    DataFrameStatFunctions surface (Spark's built-in categorical
    cross-tabulation, a pivoted pairwise count).

    Dimension-bounded BY CONTRACT: crosstab materializes one output
    column per distinct right-hand value (Spark caps the pair count
    at 1e6), so it is a DIMENSION x DIMENSION report — langs (5) x
    sources (20) here — never a fact-grain pivot. The heavy stage is
    a plain (lang, source) count aggregation over the scan
    (map-side combined, cardinality-bounded shuffle); only the tiny
    pivoted result is driver-shaped. At 100 TB the same report costs
    one pass + a 100-cell table; the same guardrail as
    `orders_priority_transpose` (column count == category count)
    applies. `pivot_status` covers the fact-grain pivot path.
    """
    d = load_table(spark, sf_dir, "documents")
    ct = d.stat.crosstab("lang", "source")
    # crosstab emits columns in first-seen order; project to the
    # pinned dimension order so the output schema is deterministic.
    return ct.select("lang_source", *_CROSSTAB_SOURCES)


@query(
    "utf8_ingest_hygiene",
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT)
                   AS n_invalid,
               CAST(count(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
                   AS n_kept_strict,
               CAST(sum(length(text)
                        + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS repaired_chars
        FROM documents GROUP BY source
    """,
)
def q_utf8_ingest_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding hygiene at ingest — the step every web-crawl corpus
    runs before anything else, on Spark 4's UTF-8 validation family:
    `is_valid_utf8` (audit), `try_validate_utf8` (drop policy:
    invalid → NULL), `make_valid_utf8` (repair policy: ill-formed
    byte sequences → U+FFFD). No other registry entry touches these.

    The fixture corrupts a deterministic minority in-engine — every
    7th doc's bytes get a dangling 0xC3 lead byte appended after
    encode(), then the bytes are cast back to STRING (Spark strings
    carry arbitrary bytes; validation exists precisely because binary
    reads do this) — so the oracle can state the truth relationally:
    corrupted docs are exactly doc_id % 7 == 0, and repair adds
    exactly one replacement char per bad byte (probe-pinned: 0xC3 →
    one U+FFFD; the clean ASCII corpus means length(text) counts both
    chars and bytes).

    Plan: pure codegen'd projections (encode/concat/cast/validate)
    feeding one partial+final agg — shuffle carries |sources| rows.
    At 100 TB this runs beside the scan at I/O speed; policy choice
    (drop vs repair) is a column swap, not a plan change.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = F.expr(
        "CAST(concat(encode(text, 'utf-8'), "
        "CASE WHEN doc_id % 7 = 0 THEN unhex('C3') ELSE unhex('') END) "
        "AS STRING)"
    )
    x = d.select("source", "doc_id", "text", raw.alias("raw"))
    return x.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.expr("is_valid_utf8(raw)")).cast("long")).alias("n_invalid"),
        F.sum(
            F.expr("try_validate_utf8(raw)").isNotNull().cast("long")
        ).alias("n_kept_strict"),
        F.sum(F.length(F.expr("make_valid_utf8(raw)"))).alias(
            "repaired_chars"
        ),
    )


# PII patterns shared verbatim by Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded quantifiers and literal escapes only.
_PII_EMAIL = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_PHONE = r"555-[0-9]{4}"


@query(
    "pii_scrub_report",
    oracle=f"""
        WITH seeded AS (
            SELECT source,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || doc_id
                                || '@example.com now' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' host 10.0.' || (doc_id % 256)
                                || '.' || (doc_id % 100) ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' call 555-'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                        4, '0') ELSE '' END AS t
            FROM documents),
        scrubbed AS (
            SELECT source, t,
                   len(regexp_extract_all(t, '{_PII_EMAIL}')) AS ne,
                   len(regexp_extract_all(t, '{_PII_IP}'))    AS ni,
                   len(regexp_extract_all(t, '{_PII_PHONE}')) AS np,
                   regexp_replace(regexp_replace(regexp_replace(
                       t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_IP}', '<IP>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS clean
            FROM seeded)
        SELECT source,
               CAST(count(*) AS BIGINT)                      AS n_docs,
               CAST(sum(ne) AS BIGINT)                       AS n_email,
               CAST(sum(ni) AS BIGINT)                       AS n_ip,
               CAST(sum(np) AS BIGINT)                       AS n_phone,
               CAST(count(*) FILTER (WHERE ne + ni + np = 0) AS BIGINT)
                   AS n_docs_clean,
               CAST(sum(length(t) - length(clean)) AS BIGINT)
                   AS chars_redacted
        FROM scrubbed GROUP BY source
    """,
)
def q_pii_scrub_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit — the curation stage every
    public-web training corpus runs before release (emails, IPs,
    phone-like numbers -> typed placeholders), reported per source so
    the pipeline can quarantine the dirtiest feeds.

    The synthetic corpus is digit-free, so the fixture seeds PII
    deterministically in-engine from doc_id (every 3rd doc an email,
    every 5th an IPv4, every 7th a phone) — the same
    construct-then-audit pattern as `utf8_ingest_hygiene` — letting
    the oracle recompute ground truth relationally. Patterns are
    restricted to the regex subset Java and RE2 share verbatim.

    Plan: seeding, `regexp_count` x3 and the chained global
    `regexp_replace` scrub are all codegen'd projections feeding one
    partial+final agg keyed by source — the shuffle carries
    |sources| rows. At 100 TB: regex cost is linear in bytes beside
    the scan, no Python, no second pass; swapping detect-only vs
    scrub-and-write is a column selection, not a plan change. The
    scrub order (email, then IP, then phone) is load-bearing for
    exactness: replacements insert no digits, so later patterns
    cannot match inside earlier placeholders.
    """
    d = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    x = d.select("source", seeded.alias("t")).select(
        "source",
        "t",
        F.regexp_count("t", F.lit(_PII_EMAIL)).alias("ne"),
        F.regexp_count("t", F.lit(_PII_IP)).alias("ni"),
        F.regexp_count("t", F.lit(_PII_PHONE)).alias("np"),
        clean.alias("clean"),
    )
    return x.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ne").cast("long").alias("n_email"),
        F.sum("ni").cast("long").alias("n_ip"),
        F.sum("np").cast("long").alias("n_phone"),
        F.sum(
            ((F.col("ne") + F.col("ni") + F.col("np")) == 0).cast("long")
        ).alias("n_docs_clean"),
        F.sum(F.length("t") - F.length("clean")).alias("chars_redacted"),
    )


@query(
    "unicode_nfc_audit",
    oracle="""
        WITH seeded AS (
            SELECT lang,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'cafe' || chr(769) || ' ' || text
                        ELSE text END AS t
            FROM documents),
        norm AS (
            SELECT lang, t, nfc_normalize(t) AS n FROM seeded)
        SELECT lang,
               CAST(count(*) AS BIGINT)                          AS n_docs,
               CAST(count(*) FILTER (WHERE n <> t) AS BIGINT)    AS n_denorm,
               CAST(sum(length(t)) AS BIGINT)                    AS chars_raw,
               CAST(sum(length(t) - length(n)) AS BIGINT)        AS chars_saved
        FROM norm GROUP BY lang
    """,
)
def q_unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit — canonical-composition hygiene
    (e + U+0301 -> é) that real crawl pipelines run so that dedup
    hashes, tokenizers and equality joins see ONE byte form per
    grapheme. Two byte-distinct spellings of the same text defeat
    exact dedup (`dedup_exact`) and fragment vocabulary counts; this
    query measures how much of the corpus is non-NFC and how many
    code points normalization saves, per language.

    The ASCII corpus is NFC-trivially, so the fixture seeds a
    decomposed sequence onto every 5th doc in-engine (deterministic
    from doc_id, same pattern as `utf8_ingest_hygiene`); DuckDB's
    independent `nfc_normalize` recomputes the truth, making this a
    genuine cross-implementation check of the normalizer (Python
    unicodedata vs DuckDB's utf8proc).

    Spark has no built-in NFC function (checked Spark 4.1 —
    collations compare NFC-insensitively but expose no normalizer),
    so this is a sanctioned Arrow-vectorized pandas UDF over the one
    column that needs it: batch-wise `unicodedata.normalize`, O(bytes)
    per batch, no shuffle added — the plan is scan -> project(UDF) ->
    one |langs|-row partial+final agg. At 100 TB the UDF is the only
    Python in the pipeline and is embarrassingly parallel; everything
    around it stays codegen'd.
    """
    import pandas as pd  # noqa: F401 (Arrow batch interface)
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s):  # type: ignore[no-untyped-def]
        return s.map(
            lambda x: unicodedata.normalize("NFC", x)
            if x is not None
            else None
        )

    d = load_table(spark, sf_dir, "documents")
    seeded = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("cafe"), F.lit("\u0301 "), F.col("text")),
    ).otherwise(F.col("text"))
    x = d.select("lang", seeded.alias("t")).select(
        "lang", "t", nfc("t").alias("n")
    )
    return x.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n") != F.col("t")).cast("long")).alias("n_denorm"),
        F.sum(F.length("t")).alias("chars_raw"),
        F.sum(F.length("t") - F.length("n")).alias("chars_saved"),
    )


@query(
    "feature_hash_collisions",
    oracle="""
        WITH words AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS w
            FROM documents),
        hashed AS (
            SELECT w, substr(md5(w), 1, 3) AS bkt
            FROM words WHERE w <> ''),
        loads AS (
            SELECT bkt, count(*) AS load FROM hashed GROUP BY bkt)
        SELECT CAST(4096 AS BIGINT)                          AS dim,
               CAST(sum(load) AS BIGINT)                     AS n_words,
               CAST(count(*) AS BIGINT)                      AS n_buckets_used,
               CAST(count(*) FILTER (WHERE load = 1) AS BIGINT)
                   AS n_singleton_buckets,
               CAST(max(load) AS BIGINT)                     AS max_bucket_load,
               round(1.0 - sum(CASE WHEN load = 1 THEN 1 ELSE 0 END)
                           * 1.0 / sum(load), 4)             AS collision_rate
        FROM loads
    """,
)
def q_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick audit — before a pipeline commits to fixed-dim
    hashed features (the standard way to featurize unbounded vocab at
    100 TB without a driver-side dictionary), it needs the collision
    profile at the chosen dimensionality. Buckets are the first 3
    lowercase-hex chars of md5(word) (4096 buckets) — the same
    engine-portable md5 recipe `dataset_split` pins — so DuckDB
    recomputes the identical assignment; collision_rate is the
    fraction of vocabulary words sharing a bucket.

    Tokenization here is the raw single-space split (the corpus is
    single-space normalized), mirrored exactly by the oracle's
    string_split; the empty-token filter matches the engine-wide
    StringTokenizer fidelity rule (MapClass.java:22).

    Plan: explode -> distinct (map-side partial dedup, one word-key
    shuffle) -> md5 projection -> 4096-key agg -> 1-row report. At
    100 TB the vocab distinct is the only real shuffle and is exactly
    `distinct_words`' audited plan; the bucket agg is
    dimension-bounded. Resizing dim = substr length swap (16^k)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    loads = (
        words.select(F.substring(F.md5(F.col("w")), 1, 3).alias("bkt"))
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("load"))
    )
    return loads.agg(
        F.lit(4096).cast("long").alias("dim"),
        F.sum("load").alias("n_words"),
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.sum((F.col("load") == 1).cast("long")).alias(
            "n_singleton_buckets"
        ),
        F.max("load").alias("max_bucket_load"),
        F.round(
            1.0
            - F.sum((F.col("load") == 1).cast("long"))
            / F.sum("load"),
            4,
        ).alias("collision_rate"),
    )


@query(
    "kwic_concordance",
    oracle="""
        WITH tok AS (
            SELECT string_split(text, ' ') AS toks FROM documents),
        ix AS (
            SELECT toks, unnest(toks) AS w,
                   unnest(range(1, len(toks) + 1)) AS i
            FROM tok),
        pos AS (
            SELECT toks[i - 1] AS prev_w, w, toks[i + 1] AS next_w
            FROM ix)
        SELECT coalesce(prev_w, '<BOS>') AS prev_w,
               coalesce(next_w, '<EOS>') AS next_w,
               CAST(count(*) AS BIGINT)  AS n
        FROM pos WHERE w = 'spark'
        GROUP BY 1, 2
        ORDER BY n DESC, prev_w, next_w
        LIMIT 20
    """,
)
def q_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance — the corpus linguist's primary
    tool (and a debugging staple for tokenizer/quality work): for a
    target word, the distribution of its immediate (prev, next)
    contexts, top 20. A training-data pipeline uses this to inspect
    how a term is actually used before writing filters around it.

    Implementation is pure ARRAY algebra — no window, no self-join:
    posexplode gives each token its position and `F.get` (0-based,
    NULL-safe out-of-range) reads the neighbors straight out of the
    row's token array, so context assembly is a codegen'd projection.
    Document edges surface as <BOS>/<EOS> markers. The oracle
    recomputes contexts via DuckDB list indexing (1-based, NULL
    out-of-range) — independent machinery, same semantics.

    Plan: scan -> split -> posexplode -> filter(w = target) -> one
    (prev, next)-keyed partial+final agg -> TakeOrderedAndProject.
    The keyword filter drops ~all rows BEFORE the shuffle, so the
    exchange carries only the target's occurrences; top-20 is a
    k-heap, never a global sort. At 100 TB: linear scan cost,
    shuffle proportional to the keyword's frequency — the worst case
    (stopword target) is still bounded by context-pair cardinality
    after map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    exploded = d.select(F.split(F.col("text"), " ").alias("toks")).select(
        "toks", F.posexplode("toks").alias("pos", "w")
    )
    ctx = exploded.filter(F.col("w") == "spark").select(
        F.coalesce(F.get("toks", F.col("pos") - 1), F.lit("<BOS>")).alias(
            "prev_w"
        ),
        F.coalesce(F.get("toks", F.col("pos") + 1), F.lit("<EOS>")).alias(
            "next_w"
        ),
    )
    return (
        ctx.groupBy("prev_w", "next_w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("prev_w"), F.asc("next_w"))
        .limit(20)
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle=f"""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_words,
               CAST(sum(len(regexp_extract_all(text, '{{0}}'))) AS BIGINT)
                   AS n_bpe_tokens,
               round(sum(len(regexp_extract_all(text, '{{0}}'))) * 1.0
                     / sum(len(string_split(text, ' '))), 4)
                   AS fertility,
               round(sum(length(text)) * 1.0
                     / sum(len(regexp_extract_all(text, '{{0}}'))), 4)
                   AS chars_per_token
        FROM documents GROUP BY lang
    """.replace("{0}", TOKEN_REGEX),
)
def q_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish tokens emitted per
    whitespace word, and characters per token. The table every
    multilingual pretraining effort keeps in front of it: languages
    with high fertility cost proportionally more compute per word
    and skew any token-budgeted mixture (`docs_mixture_reweight`
    consumes exactly these token counts). Uses the engine-wide
    TOKEN_REGEX pre-tokenizer (letter runs / digit runs / single
    symbols) against the raw single-space word count.

    Exactness: all counts integer, two final divisions, 4dp.

    Plan: both tokenizations are codegen'd length expressions on the
    scan — no explode, the counts never materialize token rows — and
    the agg shuffles |langs| partials. At 100 TB this is the
    cheapest possible shape: one pass, regex-linear in bytes,
    dimension-sized everything after."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    n_bpe = F.regexp_count("text", F.lit(TOKEN_REGEX))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_words).alias("n_words"),
        F.sum(n_bpe).alias("n_bpe_tokens"),
        F.round(F.sum(n_bpe) / F.sum(n_words), 4).alias("fertility"),
        F.round(F.sum(F.length("text")) / F.sum(n_bpe), 4).alias(
            "chars_per_token"
        ),
    )


@query(
    "word_burstiness_dispersion",
    oracle="""
        WITH per_doc AS (
            SELECT w, doc_id, count(*) AS c FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents) t
            WHERE w <> '' GROUP BY w, doc_id),
        nd AS (SELECT count(*) AS n FROM documents),
        agg AS (
            SELECT w,
                   count(*)      AS df,
                   sum(c)        AS cf,
                   sum(c * c)    AS cf2
            FROM per_doc GROUP BY w)
        SELECT w,
               CAST(df AS BIGINT) AS doc_freq,
               CAST(cf AS BIGINT) AS total_count,
               round((cf2 * 1.0 / n - (cf * 1.0 / n) * (cf * 1.0 / n))
                     / (cf * 1.0 / n), 4) AS dispersion
        FROM agg, nd
        ORDER BY cf DESC, w
        LIMIT 20
    """,
)
def q_word_burstiness_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Word burstiness via the index of dispersion (variance-to-mean
    ratio of PER-DOCUMENT counts, zeros included) for the top-20
    words — the corpus-quality diagnostic that separates evenly
    spread function words (dispersion ~<= 1, Poisson-like) from
    bursty content/boilerplate terms concentrated in few documents
    (dispersion >> 1). Template detection and stopword induction
    read directly off this; `zipf_fit` looks at global frequency,
    this at how frequency distributes over documents.

    Zeros-included moments WITHOUT materializing zeros: with N docs,
    mean = cf/N and E[x^2] = sum(c^2)/N already account for every
    doc where the word is absent — integer cf/cf2/N throughout, two
    exact divisions at the end, 4dp.

    Plan: explode -> (word, doc) agg (map-side combined; the one
    fact-grain shuffle) -> vocab-sized word agg -> broadcast N ->
    top-20 k-heap. At 100 TB identical shape to `tfidf`'s DF stage."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    agg = per_doc.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("cf"),
        F.sum(F.col("c") * F.col("c")).alias("cf2"),
    )
    mean = F.col("cf") * 1.0 / F.col("n")
    return (
        agg.crossJoin(F.broadcast(nd))
        .select(
            "w",
            F.col("df").cast("long").alias("doc_freq"),
            F.col("cf").cast("long").alias("total_count"),
            F.round(
                (F.col("cf2") * 1.0 / F.col("n") - mean * mean) / mean, 4
            ).alias("dispersion"),
        )
        .orderBy(F.desc("total_count"), F.asc("w"))
        .limit(20)
    )


_RAKE_MAX_PHRASE = 4
_RAKE_SW_SQL = "', '".join(_STOPWORDS)


@query(
    "rake_keywords",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents),
        tok AS (
            SELECT doc_id, unnest(toks) AS w,
                   generate_subscripts(toks, 1) AS pos
            FROM t),
        ns AS (
            SELECT doc_id, w, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS run_id
            FROM tok WHERE lower(w) NOT IN ('{_RAKE_SW_SQL}')),
        runs AS (
            SELECT doc_id, run_id, list(w ORDER BY pos) AS words
            FROM ns GROUP BY doc_id, run_id),
        occ AS (
            SELECT len(words) AS plen, words,
                   array_to_string(words, ' ') AS ptext
            FROM runs WHERE len(words) BETWEEN 1 AND {_RAKE_MAX_PHRASE}),
        wstat AS (
            SELECT w, count(*) AS freq, sum(plen) AS deg
            FROM (SELECT unnest(words) AS w, plen FROM occ) GROUP BY w),
        pd AS (SELECT ptext, count(*) AS n_runs FROM occ GROUP BY ptext),
        slots AS (
            SELECT ptext, unnest(string_split(ptext, ' ')) AS w,
                   generate_subscripts(string_split(ptext, ' '), 1) AS slot
            FROM pd),
        ps AS (
            SELECT s.ptext,
                   list(ws.deg * 1.0 / ws.freq ORDER BY s.slot) AS scores
            FROM slots s JOIN wstat ws ON s.w = ws.w GROUP BY s.ptext)
        SELECT pd.ptext AS phrase, CAST(pd.n_runs AS BIGINT) AS n_runs,
               CAST(len(string_split(pd.ptext, ' ')) AS INT) AS n_words,
               round(list_sum(ps.scores), 4) AS rake_score
        FROM pd JOIN ps ON pd.ptext = ps.ptext
        ORDER BY rake_score DESC, phrase LIMIT 20
    """,
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public): candidate
    phrases are maximal stopword-delimited token runs (capped at
    {_RAKE_MAX_PHRASE} words — the practical variant; longer runs are
    discarded as non-phrases), word score = deg/freq over the
    candidate multiset (deg counts phrase-length co-occurrence
    including self), phrase score = sum of member word scores.
    Top-20 corpus keywords — the unsupervised tagging pass a corpus
    catalog runs per source/domain.

    The run segmentation is gaps-and-islands: island id =
    token position minus its row_number among the doc's
    non-stopword tokens (constant within a run, breaks at every
    stopword gap) — one window over the doc's tokens, partitioned by
    doc, so segmentation parallelizes per document at any corpus
    size. Determinism: word scores are integer-ratio doubles
    (deg/freq, exact in both engines); each phrase's member scores
    fold in SLOT ORDER via the array_sort(collect_list(struct))
    idiom — never an unordered float sum — then round at 4dp with a
    phrase-text tiebreak on the top-20 k-heap.

    Plan at 100 TB: tokenize-explode scan → per-doc window (doc_id
    partition, no global sort) → two vocab-keyed partial aggs (word
    stats, phrase table) → one equi-join of phrase slots onto word
    stats (both shuffle-partitioned on the word key; phrase slots ∝
    distinct phrases x <= {_RAKE_MAX_PHRASE}) → k-heap. No
    broadcast of anything vocabulary-sized (the cluster_topic_terms
    r8 lesson)."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    ns = tok.filter(~F.lower("w").isin(list(_STOPWORDS))).withColumn(
        "run_id", F.col("pos") - F.row_number().over(wdoc)
    )
    runs = ns.groupBy("doc_id", "run_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda s: s.w,
        ).alias("words")
    )
    # r13: the phrase-occurrence table feeds both the word-stat and
    # the phrase-count aggregates — materialize it so the
    # window+islands chain runs once, not twice.
    occ = materialize(runs.filter(
        F.size("words").between(1, _RAKE_MAX_PHRASE)
    ).select(
        F.size("words").alias("plen"),
        "words",
        F.array_join("words", " ").alias("ptext"),
    ))
    wstat = (
        occ.select(F.explode("words").alias("w"), "plen")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
    )
    pd = occ.groupBy("ptext").agg(F.count(F.lit(1)).alias("n_runs"))
    slots = pd.select(
        "ptext", F.posexplode(F.split("ptext", " ")).alias("slot", "w")
    )
    score_w = F.col("deg") * 1.0 / F.col("freq")
    ps = (
        slots.join(wstat, "w")
        .groupBy("ptext")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("slot").alias("slot"),
                                score_w.alias("sc"),
                            )
                        )
                    ),
                    lambda s: s.sc,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("score_sum")
        )
    )
    return (
        pd.join(ps, "ptext")
        .select(
            F.col("ptext").alias("phrase"),
            F.col("n_runs").cast("long").alias("n_runs"),
            F.size(F.split("ptext", " ")).cast("int").alias("n_words"),
            F.round("score_sum", 4).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(20)
    )


_WZ = 1.96  # two-sided 95% normal quantile


@query(
    "wilson_ci_pass_rate",
    oracle=f"""
        WITH q AS (
            SELECT source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        m AS (
            SELECT source,
                   len(tk) AS n_words,
                   round(coalesce(list_sum(list_transform(tk, w -> length(w))), 0)
                         * 1.0 / greatest(len(tk), 1), 4) AS mwl,
                   round(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
                         * 1.0 / greatest(len(tk), 1), 4) AS fa,
                   round(len(list_distinct(tk))
                         * 1.0 / greatest(len(tk), 1), 4) AS fd,
                   len(list_intersect(
                       list_distinct(list_transform(tk, w -> lower(w))),
                       {_STOPWORDS!r})) AS sw
            FROM q),
        agg AS (
            SELECT source, count(*) AS n,
                   sum(CASE WHEN n_words BETWEEN 50 AND 100000
                             AND mwl BETWEEN 3 AND 10
                             AND fa >= 0.8 AND fd >= 0.2 AND sw >= 2
                       THEN 1 ELSE 0 END) AS k
            FROM m GROUP BY source),
        w AS (
            SELECT source, n, k, k * 1.0 / n AS p,
                   1.0 + {_WZ} * {_WZ} / n AS denom
            FROM agg)
        SELECT source, CAST(n AS BIGINT) AS n_docs,
               CAST(k AS BIGINT) AS n_pass,
               round(p, 4) AS pass_rate,
               round(greatest((p + {_WZ} * {_WZ} / (2 * n)
                      - {_WZ} * sqrt(p * (1 - p) / n
                                     + {_WZ} * {_WZ} / (4.0 * n * n)))
                     / denom, 0.0), 4) AS wilson_lo,
               round(least((p + {_WZ} * {_WZ} / (2 * n)
                      + {_WZ} * sqrt(p * (1 - p) / n
                                     + {_WZ} * {_WZ} / (4.0 * n * n)))
                     / denom, 1.0), 4) AS wilson_hi
        FROM w
    """,
)
def q_wilson_ci_pass_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% interval for the per-source Gopher-gate pass
    rate (Wilson 1927 — the binomial CI that behaves at small n and
    extreme p, unlike the Wald interval): the analytic complement of
    `bootstrap_ci_poisson` (resampling CI for a continuous mean; this
    is closed-form for a proportion). The report a curation pipeline
    reads before flagging a SOURCE as degraded: a crawl whose pass
    rate CI excludes the fleet-wide rate is drifting, small sources
    don't false-alarm because their intervals are honestly wide.

    Determinism: k and n are integer aggregates; every CI expression
    is then single-row arithmetic on identical integers — identical
    IEEE doubles in both engines (no summation-order anywhere) —
    rounded at 4dp. The gate is expression-identical to
    `quality_gopher_rules` (same rounded metrics, same thresholds).

    Plan: one tokenization projection + one map-side-combined
    groupBy(source); the CI math runs on |sources| rows. Free at any
    scale, exactly like the gate it monitors."""
    d = _docs(spark, sf_dir)
    tk = F.col("tk")
    n_ = F.size(tk)
    nn = F.greatest(n_, F.lit(1))
    mwl = F.round(
        F.aggregate(tk, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
        / nn,
        4,
    )
    fa = F.round(F.size(F.filter(tk, lambda w: w.rlike("[A-Za-z]"))) / nn, 4)
    fd = F.round(F.size(F.array_distinct(tk)) / nn, 4)
    sw = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(tk, F.lower)),
            F.array(*[F.lit(s) for s in _STOPWORDS]),
        )
    )
    passes = (
        n_.between(50, 100000)
        & mwl.between(3, 10)
        & (fa >= 0.8)
        & (fd >= 0.2)
        & (sw >= 2)
    )
    agg = (
        d.select("source", tokens_col(F.col("text")).alias("tk"))
        .select("source", passes.alias("ok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("k"),
        )
    )
    n = F.col("n")
    p = F.col("k") * 1.0 / n
    z2 = _WZ * _WZ
    denom = 1.0 + z2 / n
    half = _WZ * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    center = p + z2 / (2 * n)
    return agg.select(
        "source",
        n.cast("long").alias("n_docs"),
        F.col("k").cast("long").alias("n_pass"),
        F.round(p, 4).alias("pass_rate"),
        F.round(F.greatest((center - half) / denom, F.lit(0.0)), 4).alias(
            "wilson_lo"
        ),
        F.round(F.least((center + half) / denom, F.lit(1.0)), 4).alias(
            "wilson_hi"
        ),
    )


@query(
    "heaps_law_fit",
    oracle="""
        WITH nt AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), w -> w <> ''))
                       AS nt
            FROM documents),
        b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mxd FROM documents),
        cuts AS (
            SELECT DISTINCT mn + ((mxd - mn) * i) // 10 AS c
            FROM b, (SELECT unnest(range(1, 11)) AS i)),
        npts AS (
            SELECT c, CAST(sum(nt) AS BIGINT) AS n_tok
            FROM nt, cuts WHERE doc_id <= c GROUP BY c),
        fd AS (
            SELECT w, min(doc_id) AS fdoc
            FROM (SELECT doc_id,
                         unnest(list_filter(string_split(text, ' '),
                                            w -> w <> '')) AS w
                  FROM documents)
            GROUP BY w),
        vpts AS (
            SELECT c, CAST(count(*) AS BIGINT) AS v
            FROM fd, cuts WHERE fdoc <= c GROUP BY c),
        pts AS (
            SELECT ln(CAST(n_tok AS DOUBLE)) AS x,
                   ln(CAST(v AS DOUBLE)) AS y
            FROM npts JOIN vpts USING (c)),
        m AS (SELECT avg(x) AS ax, avg(y) AS ay, count(*) AS n FROM pts)
        SELECT round(sum((x - ax) * (y - ay))
                     / sum((x - ax) * (x - ax)), 4) + 0.0 AS heaps_beta,
               round(ay - (sum((x - ax) * (y - ay))
                           / sum((x - ax) * (x - ax))) * ax, 4) AS ln_k,
               CAST(max(n) AS BIGINT) AS n_points
        FROM pts CROSS JOIN m GROUP BY ax, ay
    """,
)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: V(N) ~ K * N^beta — vocabulary size as a power
    of cumulative token count, measured at 10 checkpoints along the
    doc_id order and fitted by least squares in log-log space.
    Natural text sits near beta ~ 0.4-0.6; beta near 0 flags a
    templated/closed-vocabulary corpus, beta near 1 flags
    noise/unsegmented junk. The growth-law companion to `zipf_fit`
    (the static rank-frequency view of the same phenomenon — Heaps
    and Zipf exponents are analytically linked).

    Determinism: checkpoint cutoffs are integer div on doc_id
    bounds; N(c) and V(c) are integer aggregates; the 10-point
    regression follows `zipf_fit`'s exact pattern (ln of
    bit-identical integer-valued doubles; 4dp round).

    Plan: one token-per-doc projection and one first-occurrence
    aggregate (groupBy word min(doc_id) — vocabulary-sized, the only
    corpus shuffle); each checkpoint census is an explode of the
    10-element cutoff array (doc-level and vocab-level rows x 10,
    never token rows) into a map-side-combined 10-row aggregate;
    the fit runs on 10 points via the 1-row broadcast-moments
    crossJoin. No window, no sort, no pair stage."""
    d = _docs(spark, sf_dir)
    nt = d.select("doc_id", F.size(tokens_col(F.col("text"))).alias("nt"))
    bounds = d.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mxd")
    ).select(
        F.expr(
            "transform(sequence(1, 10), i -> mn + ((mxd - mn) * i) div 10)"
        ).alias("cuts")
    )
    npts = (
        nt.crossJoin(F.broadcast(bounds))
        .select("doc_id", "nt", F.explode(F.array_distinct("cuts")).alias("c"))
        .filter(F.col("doc_id") <= F.col("c"))
        .groupBy("c")
        .agg(F.sum("nt").cast("long").alias("n_tok"))
    )
    fd = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    vpts = (
        fd.crossJoin(F.broadcast(bounds))
        .select("fdoc", F.explode(F.array_distinct("cuts")).alias("c"))
        .filter(F.col("fdoc") <= F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    # r13: the 10-point table feeds the moments aggregate AND the
    # regression join — materialize it so the two corpus passes
    # (token census + first-occurrence vocab) run once, not twice.
    pts = materialize(
        npts.join(vpts, "c")
        .select(
            F.log(F.col("n_tok").cast("double")).alias("x"),
            F.log(F.col("v").cast("double")).alias("y"),
        )
    )
    m = pts.agg(
        F.avg("x").alias("ax"), F.avg("y").alias("ay"), F.count(F.lit(1)).alias("n")
    )
    j = pts.crossJoin(F.broadcast(m))
    slope = F.sum((F.col("x") - F.col("ax")) * (F.col("y") - F.col("ay"))) / F.sum(
        (F.col("x") - F.col("ax")) * (F.col("x") - F.col("ax"))
    )
    return (
        j.groupBy("ax", "ay")
        .agg(
            (F.round(slope, 4) + F.lit(0.0)).alias("heaps_beta"),
            F.round(F.col("ay") - slope * F.col("ax"), 4).alias("ln_k"),
            F.max("n").alias("n_points"),
        )
        .select("heaps_beta", "ln_k", "n_points")
    )


_NB_TRAIN_HI = "cc"  # dataset_split's md5-bucket convention (~80% train)


@query(
    "naive_bayes_langid",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bk
            FROM documents),
        tr AS (SELECT * FROM b WHERE bk <= '{_NB_TRAIN_HI}'),
        ev AS (SELECT * FROM b WHERE bk > '{_NB_TRAIN_HI}' AND len(tk) >= 1),
        cls AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS dc
                FROM tr GROUP BY lang),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS td FROM tr),
        tw AS (SELECT lang AS c, unnest(tk) AS w FROM tr),
        cnt AS (SELECT c, w, CAST(count(*) AS BIGINT) AS cw
                FROM tw GROUP BY c, w),
        ct AS (SELECT c, CAST(count(*) AS BIGINT) AS tc FROM tw GROUP BY c),
        vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tw),
        meta AS (
            SELECT cls.c,
                   CAST(round(ln(cls.dc * 1.0 / tot.td) * 1000000, 0)
                        AS BIGINT) AS prior_m,
                   CAST(round(ln(1.0 / (ct.tc + vv.v)) * 1000000, 0)
                        AS BIGINT) AS def_m,
                   ct.tc, vv.v
            FROM cls JOIN ct ON cls.c = ct.c CROSS JOIN tot CROSS JOIN vv),
        lik AS (
            SELECT cnt.c, cnt.w,
                   CAST(round(ln((cnt.cw + 1.0) / (meta.tc + meta.v))
                              * 1000000, 0) AS BIGINT) AS m
            FROM cnt JOIN meta ON cnt.c = meta.c),
        et AS (SELECT doc_id, lang, unnest(tk) AS w FROM ev),
        sc AS (
            SELECT e.doc_id, e.lang, meta.c,
                   meta.prior_m + sum(coalesce(lik.m, meta.def_m)) AS score
            FROM et e CROSS JOIN meta
            LEFT JOIN lik ON lik.c = meta.c AND lik.w = e.w
            GROUP BY e.doc_id, e.lang, meta.c, meta.prior_m),
        pred AS (
            SELECT doc_id, lang AS actual_lang,
                   min(ROW(-score, c))[2] AS predicted_lang
            FROM sc GROUP BY doc_id, lang)
        SELECT actual_lang, predicted_lang,
               CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY actual_lang, predicted_lang
        ORDER BY actual_lang, predicted_lang
    """,
)
def q_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A classifier TRAINED AND APPLIED entirely in-engine:
    multinomial Naive Bayes language ID — add-one-smoothed token
    likelihoods and class priors fit on the md5-bucket train split
    (`dataset_split`'s 80% convention), argmax-scored on the held-out
    split, reported as the actual x predicted confusion matrix. The
    LEARNED counterpart of `lang_id_heuristic` (hand rules, audited
    by `lang_id_confusion`): this is the shape of every
    classifier-based curation gate (quality/toxicity/domain
    classifiers) — training is aggregation, inference is a join.
    Honesty note: this corpus's languages draw from one shared
    synthetic vocabulary with only mildly different frequency
    profiles, so the achievable ceiling is low — the pytest pins
    accuracy ABOVE THE MAJORITY-CLASS BASELINE (weak learnability),
    and the deliverable is the mechanism + exact confusion matrix,
    not a benchmark score.

    Determinism: every log-likelihood is ln of an integer-ratio
    (bit-identical doubles) quantized to INTEGER MICRO-LOG units
    (round(ln(p) * 1e6)) at the per-token level, so document scores
    are integer sums — order-independent — and the argmax
    (min(struct(-score, class)) — tie-safe) can never flip on
    partial-aggregation order. Unseen-at-train tokens take the
    per-class smoothed default, exactly as the oracle does.

    Plan: training is two map-side-combined aggregates ((class,
    token) counts + class totals); inference joins the likelihood
    table onto the eval token stream BY TOKEN KEY (vocabulary-sized
    shuffle — never a broadcast of the vocab; the |classes|-row meta
    table is the only broadcast, and the x|classes| explode rides
    it), then one (doc, class) integer-sum agg, one per-doc argmax,
    and a |classes|^2-row census. Zero-token eval docs are excluded
    (no evidence, matching the oracle's len(tk) >= 1)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        tokens_col(F.col("text")).alias("tk"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("bk"),
    )
    tr = d.filter(F.col("bk") <= _NB_TRAIN_HI)
    ev = d.filter((F.col("bk") > _NB_TRAIN_HI) & (F.size("tk") >= 1))
    cls = tr.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("dc")
    )
    tot = tr.agg(F.count(F.lit(1)).cast("long").alias("td"))
    tw = tr.select(F.col("lang").alias("c"), F.explode("tk").alias("w"))
    # r13: ONE pass over the train token stream. The per-class token
    # totals and the vocabulary size both derive from the (class,
    # token) count table — the former three tw aggregates each
    # re-exploded the train corpus (guide §1.2: don't compute the
    # same pass twice). cnt is vocabulary-sized, so checkpointing it
    # (and the |classes|-row meta below, referenced by both the
    # likelihood build and the scoring join) is executor-cheap.
    cnt = materialize(
        tw.groupBy("c", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cw"))
    )
    ct = cnt.groupBy("c").agg(F.sum("cw").cast("long").alias("tc"))
    vv = cnt.agg(F.countDistinct("w").cast("long").alias("v"))
    meta = materialize(
        cls.join(ct, "c")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vv))
        .select(
            "c",
            F.round(F.log(F.col("dc") * 1.0 / F.col("td")) * 1000000, 0)
            .cast("long")
            .alias("prior_m"),
            F.round(F.log(1.0 / (F.col("tc") + F.col("v"))) * 1000000, 0)
            .cast("long")
            .alias("def_m"),
            "tc",
            "v",
        )
    )
    lik = cnt.join(F.broadcast(meta.select("c", "tc", "v")), "c").select(
        "c",
        "w",
        F.round(
            F.log((F.col("cw") + 1.0) / (F.col("tc") + F.col("v"))) * 1000000, 0
        )
        .cast("long")
        .alias("m"),
    )
    et = ev.select("doc_id", "lang", F.explode("tk").alias("w"))
    sc = (
        et.crossJoin(F.broadcast(meta.select("c", "prior_m", "def_m")))
        .join(lik, ["c", "w"], "left")
        .groupBy("doc_id", "lang", "c", "prior_m")
        .agg(
            (
                F.first("prior_m")
                + F.sum(F.coalesce(F.col("m"), F.col("def_m")))
            ).alias("score")
        )
    )
    pred = sc.groupBy("doc_id", F.col("lang").alias("actual_lang")).agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("c").alias("c")))
        .getField("c")
        .alias("predicted_lang")
    )
    return (
        pred.groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("actual_lang", "predicted_lang")
    )


@query(
    "nucleus_vocab_cut",
    oracle="""
        WITH tw AS (
            SELECT source,
                   unnest(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS w
            FROM documents),
        f AS (SELECT source, w, count(*) AS cnt FROM tw GROUP BY source, w),
        t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot,
                     CAST(count(*) AS BIGINT) AS vocab
              FROM f GROUP BY source),
        r AS (
            SELECT source, cnt,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY cnt DESC, w) AS rk,
                   sum(cnt) OVER (PARTITION BY source
                                  ORDER BY cnt DESC, w
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum
            FROM f),
        cut AS (
            SELECT r.source, CAST(min(rk) AS BIGINT) AS n_words_p90
            FROM r JOIN t ON r.source = t.source
            WHERE cum * 10 >= tot * 9
            GROUP BY r.source)
        SELECT c.source, t.vocab AS vocab_size, c.n_words_p90,
               round(c.n_words_p90 * 1.0 / t.vocab, 6) AS vocab_share
        FROM cut c JOIN t ON c.source = t.source
        ORDER BY c.source
    """,
)
def q_nucleus_vocab_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive top-p (nucleus) vocabulary cut per source: the
    SMALLEST frequency-ranked word set covering 90% of each source's
    token mass, and the share of its vocabulary that set is — the
    adaptive complement of `vocab_coverage`'s FIXED top-1000 cut
    (natural text concentrates: a few percent of vocab covers 90%;
    templated or noisy sources need far more or far less — the same
    concentration statistic nucleus/top-p sampling uses on model
    logits, here read off the corpus itself).

    Determinism: counts are integers; the ranking is tie-broken by
    word; the 90% boundary is the integer cross-product compare
    cum*10 >= tot*9 — no ratio near a threshold; one 6dp display
    round.

    Plan: one (source, word) map-side-combined count (the corpus
    exchange), then rank + running-sum windows PARTITIONED BY SOURCE
    over the vocabulary-sized table — per-source partition-local
    sorts, never a global window; this is the vocabulary-sized
    analysis class (`zipf_fit`/`bpe_merges_train`), whose input
    scales with VOCAB, not tokens. The cut itself is a filter +
    min() rollup to |sources| rows."""
    d = _docs(spark, sf_dir)
    tw = d.select("source", F.explode(tokens_col(F.col("text"))).alias("w"))
    # r13: the per-source frequency table feeds the totals AND the
    # ranked cumulative pass; the |sources|-row totals feed two joins
    # — checkpoint both so the corpus aggregate runs once.
    f = materialize(
        tw.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = materialize(f.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    ))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("w"))
    r = f.select(
        "source",
        "cnt",
        F.row_number().over(w).alias("rk"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    cut = (
        r.join(F.broadcast(t), "source")
        .filter(F.col("cum") * 10 >= F.col("tot") * 9)
        .groupBy("source")
        .agg(F.min("rk").cast("long").alias("n_words_p90"))
    )
    return (
        cut.join(F.broadcast(t), "source")
        .select(
            "source",
            F.col("vocab").alias("vocab_size"),
            "n_words_p90",
            F.round(F.col("n_words_p90") * 1.0 / F.col("vocab"), 6).alias(
                "vocab_share"
            ),
        )
        .orderBy("source")
    )
