"""WordCount family — the reference's complete dataflow, Spark-first.

Reference pipeline (SURVEY.md §2.1, line-cited):
- tokenize+flatten: ``StringTokenizer(line, " ")`` emits one record
  per token (``MapClass.java:22-27``). Delimiter is the single space
  character ONLY: tabs/punctuation stay inside tokens, runs of
  spaces produce no empty tokens, case is preserved.
- emit ``(word, 1)`` (``MapClass.java:13,26``) → shuffle/group by key
  (``WordCount.java:41-42``) → sum per key (``ReduceClass.java:12-23``).
- implicit global sort by word (single default reducer + MapReduce
  key sort — absence of ``setNumReduceTasks`` in ``WordCount.java:30-42``).

Spark mapping: ``explode(split(value, ' ')) → filter != '' →
groupBy(word).count() → orderBy(word)``. Catalyst gives the map-side
combiner (partial HashAggregate) the reference lacks — no custom code.
The count column is LongType, a deliberate deviation from the
reference's 32-bit ``IntWritable`` accumulator (``ReduceClass.java:15,19``)
whose silent overflow past 2^31-1 is a defect, not a feature.

100 TB notes: groupBy(word) shuffles once, after map-side partial
aggregation has already collapsed each task's output to its distinct
words — the shuffled volume is O(distinct words per task), not
O(tokens), the single most important property for a 100 TB corpus.
Skewed hot words (e.g. "the") are handled by partial aggregation too:
each map task emits one row per hot word, so no reducer sees more
than O(num_map_tasks) rows per word. AQE coalesces the tail.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table

__all__ = [
    "tokens_col",
    "tokenize",
    "word_count",
    "word_count_sorted",
    "top_k_words",
    "distinct_words",
    "grep_filter",
]

# DuckDB fragment mirroring tokenize() exactly: split on single-space,
# drop empty tokens (StringTokenizer emits none for delimiter runs).
_ORACLE_TOKENS = (
    "SELECT word FROM (SELECT unnest(string_split(text, ' ')) AS word "
    "FROM documents) t WHERE word <> ''"
)


def tokens_col(text: Column) -> Column:
    """Array of tokens per StringTokenizer(line, " ") semantics.

    ``split`` on the single-space pattern yields empty strings for
    adjacent/leading/trailing delimiters where StringTokenizer yields
    nothing — removing them is the fidelity point
    (``MapClass.java:22`` vs Spark split semantics).

    ``array_remove`` is a plain expression, code-generated like the
    rest of the projection; a ``filter`` lambda would be evaluated
    interpreted per element. The Spark-SQL spelling is
    ``array_remove(split(text, ' ', -1), '')``.
    """
    return F.array_remove(F.split(text, " ", -1), "")


def tokenize(df: DataFrame, text_col: str = "value") -> DataFrame:
    """Flatten lines/documents into one row per token (column ``word``).

    Same tokens as ``explode(tokens_col(...))``; the empty ones are
    dropped by a row ``Filter`` after ``explode``. Both ``Generate``
    and ``Filter`` are whole-stage code-generated; no per-element
    lambda runs (DEVNOTES.md decision 7: higher-order functions
    evaluate interpreted, per element).
    """
    words = df.select(F.explode(F.split(F.col(text_col), " ", -1)).alias("word"))
    return words.where(F.col("word") != "")


def word_count(df: DataFrame, text_col: str = "value") -> DataFrame:
    """The reference's entire computation: token → count per token.

    Catalyst plans partial+final HashAggregate around one hash
    shuffle on ``word`` — the combiner MapReduce never configured
    (no ``setCombinerClass`` in ``WordCount.java:30-42``).
    """
    return tokenize(df, text_col).groupBy("word").agg(
        F.count(F.lit(1)).alias("count")
    )


def word_count_sorted(df: DataFrame, text_col: str = "value") -> DataFrame:
    """word_count + the reference's emergent global ORDER BY word (O8).

    Spark string sort is binary/codepoint order, matching Hadoop
    ``Text``'s UTF-8 byte comparator for valid UTF-8. Kept out of
    ``word_count`` itself: a global sort is a range-shuffle and only
    the single-file sink fidelity path needs it.
    """
    return word_count(df, text_col).orderBy("word")


def top_k_words(df: DataFrame, k: int = 20, text_col: str = "value") -> DataFrame:
    """Top-k by count. Ties broken by word so the result is a total order.

    Plans as TakeOrderedAndProject: each partition keeps a k-heap and
    only k rows per partition reach the driver — no global sort at scale.
    """
    return word_count(df, text_col).orderBy(F.desc("count"), F.asc("word")).limit(k)


def distinct_words(df: DataFrame, text_col: str = "value") -> DataFrame:
    """Count of distinct tokens (single long column ``n_words``)."""
    return tokenize(df, text_col).agg(F.countDistinct("word").alias("n_words"))


def grep_filter(df: DataFrame, needle: str, text_col: str = "value") -> DataFrame:
    """Distributed grep — the filter sibling of wordcount.

    Substring containment (not regex) so behavior is obvious; the
    predicate stays JVM-side and Catalyst pushes the scan's column
    pruning to parquet.
    """
    return df.filter(F.col(text_col).contains(needle))


# ---------------------------------------------------------------------------
# Registered queries over the shared testdata (documents.text is the corpus).
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query(
    "word_count",
    oracle=f"SELECT word, count(*) AS count FROM ({_ORACLE_TOKENS}) GROUP BY word",
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount over documents.text: one (word, count) row per token."""
    return word_count(_docs(spark, sf_dir), text_col="text")


@query(
    "word_count_sorted",
    oracle=(
        f"SELECT word, count(*) AS count FROM ({_ORACLE_TOKENS}) "
        "GROUP BY word ORDER BY word"
    ),
)
def q_word_count_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount ordered by word, the reference's output order."""
    return word_count_sorted(_docs(spark, sf_dir), text_col="text")


@query(
    "top_k_words",
    oracle=(
        f"SELECT word, count(*) AS count FROM ({_ORACLE_TOKENS}) "
        "GROUP BY word ORDER BY count DESC, word LIMIT 20"
    ),
)
def q_top_k_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most frequent tokens, ties broken by word."""
    return top_k_words(_docs(spark, sf_dir), k=20, text_col="text")


@query(
    "distinct_words",
    oracle=f"SELECT count(DISTINCT word) AS n_words FROM ({_ORACLE_TOKENS})",
)
def q_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count of distinct tokens in documents.text."""
    return distinct_words(_docs(spark, sf_dir), text_col="text")


@query(
    "approx_distinct_words",
    # HLL sketches differ across engines; the driver records the weaker
    # rows-only check. pytest asserts <5% relative error vs exact.
)
def q_approx_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-scale variant of distinct_words: HyperLogLog, no
    exact distinct shuffle — sketches merge associatively map-side."""
    return tokenize(_docs(spark, sf_dir), text_col="text").agg(
        F.approx_count_distinct("word").alias("n_words_approx")
    )


@query(
    "approx_distinct_words_bounds",
    oracle=(
        f"SELECT count(DISTINCT word) AS n_words_exact, "
        f"true AS within_band FROM ({_ORACLE_TOKENS})"
    ),
)
def q_approx_distinct_words_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracled bracket twin of the rows-only `approx_distinct_words`
    (the `value_percentiles_bounds` pattern): HLL++ at the default
    rsd=0.05 must land within 3 sigma (15%) of the exact distinct
    count. The query emits the EXACT count (hash-checked against
    DuckDB) plus the in-band boolean — if the sketch ever drifts out
    of its documented band, the driver's hash compare fails instead
    of a pytest-only bound. Cost: one exact-distinct pass (the thing
    the sketch exists to avoid — affordable at oracle SFs, the twin
    stays off the 100 TB path) + one sketch pass, crossed on one-row
    aggregates."""
    toks = tokenize(_docs(spark, sf_dir), text_col="text")
    approx = toks.agg(
        F.approx_count_distinct("word").alias("n_approx")
    )
    exact = toks.agg(F.countDistinct("word").alias("n_words_exact"))
    return exact.crossJoin(F.broadcast(approx)).select(
        "n_words_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_words_exact"))
            <= 0.15 * F.col("n_words_exact")
        ).alias("within_band"),
    )


@query(
    "grep_filter",
    oracle=(
        "SELECT doc_id, lang, source FROM documents "
        "WHERE contains(text, 'spark') ORDER BY doc_id"
    ),
)
def q_grep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep: the documents whose text contains 'spark'."""
    return (
        grep_filter(_docs(spark, sf_dir), "spark", text_col="text")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@query(
    "union_corpora",
    oracle=(
        "SELECT word, count(*) AS count FROM ("
        "  SELECT unnest(string_split(text, ' ')) AS word FROM ("
        "    SELECT text FROM documents WHERE lang = 'en'"
        "    UNION ALL SELECT text FROM documents WHERE source = 'src0')"
        ") WHERE word <> '' GROUP BY word"
    ),
)
def q_union_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 multi-input union: two corpora unioned before counting.

    unionByName is a no-shuffle concatenation of scans; the single
    aggregation after it shuffles once.
    """
    docs = _docs(spark, sf_dir)
    corpus_a = docs.filter(F.col("lang") == "en").select("text")
    corpus_b = docs.filter(F.col("source") == "src0").select("text")
    return word_count(corpus_a.unionByName(corpus_b), text_col="text")


@query(
    "words_intersect",
    oracle=(
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='en') WHERE word <> '' "
        "INTERSECT "
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='de') WHERE word <> ''"
    ),
)
def q_words_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: distinct tokens appearing in both corpora (INTERSECT)."""
    docs = _docs(spark, sf_dir)
    en = tokenize(docs.filter(F.col("lang") == "en"), "text")
    de = tokenize(docs.filter(F.col("lang") == "de"), "text")
    return en.intersect(de)


@query(
    "words_except",
    oracle=(
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='en') WHERE word <> '' "
        "EXCEPT "
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='de') WHERE word <> ''"
    ),
)
def q_words_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: tokens in the en corpus absent from the de corpus (EXCEPT)."""
    docs = _docs(spark, sf_dir)
    en = tokenize(docs.filter(F.col("lang") == "en"), "text")
    de = tokenize(docs.filter(F.col("lang") == "de"), "text")
    return en.subtract(de)  # EXCEPT DISTINCT, matching SQL EXCEPT


@query(
    "topk_words_per_doc",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents),
        cnt AS (
            SELECT doc_id, word, count(*) AS cnt FROM tok
            WHERE word <> '' GROUP BY doc_id, word),
        ranked AS (
            SELECT doc_id, word, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, word) AS rn
            FROM cnt)
        SELECT doc_id, word, cnt FROM ranked WHERE rn <= 3
    """,
)
def q_topk_words_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 words per document: per-key aggregation feeding a
    ranking window, sharing ONE shuffle (plan-tested).

    The trick: repartition the *documents* by doc_id before
    exploding. HashPartitioning(doc_id) satisfies both the
    groupBy(doc_id, word) clustering (subset rule) and the window's
    partitionBy(doc_id), so no further exchange is planned — and the
    bytes shuffled are compact documents, never exploded tokens."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id", "text").repartition("doc_id")
    counts = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "cnt")
    )


@query(
    "token_frequency_spectrum",
    oracle=f"""
        WITH wc AS (
            SELECT word, count(*) AS freq FROM ({_ORACLE_TOKENS}) GROUP BY word)
        SELECT freq, count(*) AS n_words
        FROM wc GROUP BY freq
    """,
)
def q_token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies: how many distinct words occur exactly
    k times — the Zipf/Good-Turing spectrum used to sanity-check a
    corpus (a spectrum that lost its long tail means dedup ate real
    content; a bloated head means boilerplate survived).

    Two cascaded aggregations, both map-side combined; the second's
    input is |vocab| rows and its output |distinct frequencies| —
    at 100 TB the only full-data exchange is word_count's own."""
    wc = word_count(_docs(spark, sf_dir), text_col="text")
    return wc.groupBy(F.col("count").alias("freq")).agg(
        F.count(F.lit(1)).alias("n_words")
    )


@query(
    "text_source_wordcount",
    oracle=f"SELECT word, count(*) AS count FROM ({_ORACLE_TOKENS}) GROUP BY word",
)
def q_text_source_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's O1→O9 path through REAL text files: export the
    corpus as line-oriented text (one doc per line — the fixture texts
    contain no newlines), then run wordcount over spark.read.text.
    Counts must equal the parquet-sourced word_count exactly, proving
    the text source/sink round trip is lossless."""
    import os
    import tempfile

    from hadoop_wordcount_spark.sources.textfiles import read_lines

    d = _docs(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(), "hwcs_sinks", f"corpus_text_{os.path.basename(sf_dir)}"
    )
    d.select("text").write.mode("overwrite").text(path)
    return word_count(read_lines(spark, path), text_col="value")


@query(
    "wc_tokens",
    oracle=(
        "SELECT doc_id, word FROM ("
        "  SELECT doc_id, unnest(string_split(text, ' ')) AS word"
        "  FROM documents WHERE doc_id < 5) WHERE word <> ''"
    ),
)
def q_wc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bare explode+filter projection (SURVEY §2.3's wc_tokens):
    one row per (doc, token), the tokenizer surface itself — the
    building block every text operator above composes."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 5)
    return d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))


@query(
    "join_wordcount_docs",
    oracle=f"""
        WITH wc AS (
            SELECT word, count(*) AS cnt FROM ({_ORACLE_TOKENS}) GROUP BY word),
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT tok.doc_id,
               count(*) AS n_tokens,
               round(avg(wc.cnt), 4) AS avg_word_freq
        FROM tok JOIN wc ON tok.word = wc.word
        WHERE tok.word <> ''
        GROUP BY tok.doc_id
    """,
)
def q_join_wordcount_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts joined back to documents (SURVEY §2.3's
    join_wordcount_docs): global word frequencies broadcast to the
    per-doc token stream → mean corpus-frequency of each document's
    words (a commonness score). The wordcount table is
    vocabulary-sized → broadcast; the token side never reshuffles
    except for the final per-doc aggregation."""
    d = _docs(spark, sf_dir)
    wc = word_count(d, text_col="text").withColumnRenamed("count", "cnt")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    return (
        tok.join(F.broadcast(wc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("cnt"), 4).alias("avg_word_freq"),
        )
    )


@query(
    "words_except_all",
    oracle=(
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='en') WHERE word <> '' "
        "EXCEPT ALL "
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='de') WHERE word <> ''"
    ),
)
def q_words_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set-op semantics: en-corpus tokens minus de-corpus
    tokens with multiplicity (EXCEPT ALL) — each de occurrence
    cancels ONE en occurrence, so a word appearing 10x in en and 3x
    in de survives 7 times. The bag-difference `words_except`'s
    set-difference collapses; `exceptAll` is the API surface
    (`intersectAll` is its dual) Spark added for exactly this.

    Plan: Catalyst rewrites exceptAll to a count-per-side aggregate +
    generate (replicate rows max(c1-c2, 0) times) — one shuffle per
    side on the word key, no join explosion; the same shape DuckDB
    executes. Scale-safe: state per DISTINCT word, not per
    occurrence."""
    docs = _docs(spark, sf_dir)
    en = tokenize(docs.filter(F.col("lang") == "en"), "text")
    de = tokenize(docs.filter(F.col("lang") == "de"), "text")
    return en.exceptAll(de)


@query(
    "words_intersect_all",
    oracle=(
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='en') WHERE word <> '' "
        "INTERSECT ALL "
        "SELECT word FROM (SELECT unnest(string_split(text,' ')) AS word "
        "FROM documents WHERE lang='de') WHERE word <> ''"
    ),
)
def q_words_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET intersection (INTERSECT ALL): each word survives
    min(count_en, count_de) times — the multiplicity-aware dual of
    `words_intersect`, and the other half of Spark's bag set-op API
    (`intersectAll`). Same aggregate+generate plan shape and
    per-distinct-word state as `words_except_all`."""
    docs = _docs(spark, sf_dir)
    en = tokenize(docs.filter(F.col("lang") == "en"), "text")
    de = tokenize(docs.filter(F.col("lang") == "de"), "text")
    return en.intersectAll(de)
