"""Deduplication operators for LLM training-data pipelines.

Absent from the reference (no joins/distinct anywhere in its 791
lines — SURVEY.md §2.3); mandated by the north star. Ladder:

- exact: hash-groupBy on a 16-byte fingerprint (md5 of normalized
  text) — shuffles keys, not bodies.
- anti-join: dedup against a reference corpus (LEFT ANTI).
- n-gram Jaccard: exact near-dup scoring over blocked candidate pairs.
- MinHash+LSH: shingle → minhash signature → banded bucket join —
  the sub-quadratic scale path (md5-derived permutations, so DuckDB
  can check it).
- SimHash: 60-bit per-doc sketch via per-bit majority vote.

100 TB notes: exact/fingerprint dedup is one shuffle on a short key.
MinHash-LSH cost is O(docs x bands) with bucket-join fan-out
controlled by band width; never all-pairs. The exact Jaccard op
blocks candidates (same lang + length bucket) — at scale you'd feed
it LSH bucket output instead; the scoring math is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_wordcount_spark.operators.text_analysis import NORM_TEXT_SQL, norm_text
from hadoop_wordcount_spark.operators.wordcount import tokens_col
from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# Bitmask Jaccard scoring is only safe while W = ceil(|vocab|/64)
# keeps rows narrow and the bit_or aggregate list inside codegen
# limits: 2^16 vocab → W=1024 → ~8 KB/row and 1024 agg expressions,
# the practical ceiling. Past it, q_dedup_ngram_jaccard switches to
# sorted xxhash64 arrays whose width tracks document length instead.
_BITMASK_VOCAB_MAX = 65_536


@query(
    "dedup_exact",
    oracle=f"""
        SELECT fingerprint,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM (SELECT doc_id, md5({NORM_TEXT_SQL}) AS fingerprint FROM documents)
        GROUP BY fingerprint
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-text fingerprint, keep the
    lowest doc_id (deterministic winner), count copies. One shuffle
    on the 16-byte key; document bodies never move."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "dedup_anti_join",
    oracle=f"""
        WITH fp AS (SELECT doc_id, source, md5({NORM_TEXT_SQL}) AS fingerprint
                    FROM documents)
        SELECT doc_id FROM fp
        WHERE source <> 'src0'
          AND NOT EXISTS (SELECT 1 FROM fp r
                          WHERE r.source = 'src0'
                            AND r.fingerprint = fp.fingerprint)
    """,
)
def q_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup against a reference corpus: drop any incoming doc whose
    fingerprint already exists in the 'src0' corpus (LEFT ANTI join).
    The reference fingerprint set is small → broadcast; the incoming
    100 TB side never shuffles."""
    d = _docs(spark, sf_dir)
    fp = d.select(
        "doc_id", "source", F.md5(norm_text(F.col("text"))).alias("fingerprint")
    )
    reference = fp.filter(F.col("source") == "src0").select("fingerprint")
    incoming = fp.filter(F.col("source") != "src0")
    return incoming.join(
        F.broadcast(reference), on="fingerprint", how="left_anti"
    ).select("doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle="""
        WITH shing AS (
            SELECT doc_id, lang, n_chars // 100 AS len_bucket,
                   list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))
                       AS toks
            FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                     greatest(len(list_distinct(a.toks || b.toks)), 1), 4) AS jaccard
        FROM shing a JOIN shing b
          ON a.lang = b.lang AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
              greatest(len(list_distinct(a.toks || b.toks)), 1) >= 0.8
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs >= 0.8, blocked by
    (lang, length-bucket) so the pair space is per-block quadratic,
    never global. At 100 TB, swap the blocking key for LSH bucket ids
    (`dedup_ngram_jaccard_lsh` is exactly that) — the scoring stage
    is unchanged.

    Scoring representation — two paths, chosen by vocabulary size:

    - |vocab| <= _BITMASK_VOCAB_MAX: a broadcast vocabulary→bit-
      position map turns each document's distinct-token set into a
      W x 64-bit bitmask (W = ceil(|vocab|/64)), so each candidate
      pair costs a handful of AND/OR + bit_count instructions. Row
      width and agg-expression count scale with the GLOBAL vocab, so
      this path is gated: past the threshold, W-wide rows through the
      self-join and W bit_or aggregates would blow up both shuffle
      width and whole-stage codegen.
    - larger vocab: sorted arrays of per-token xxhash64 values,
      scored with array_intersect/array_union — row width scales
      with DOC length, not vocabulary, and no driver-side vocab job
      or broadcast dictionary is needed. This is the 100 TB path.

    Both are bijective re-codings of the token set (64-bit hash
    collisions aside), so Jaccard values match the string-form DuckDB
    oracle either way. At true 100 TB scale the blocked self-join
    itself is the limit — go to `dedup_ngram_jaccard_lsh`, whose
    verification touches only candidate pairs."""
    from hadoop_wordcount_spark.operators.ranking import global_row_number

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        F.array_distinct(tokens_col(F.col("text"))).alias("toks"),
    )
    vocab = toks.select(F.explode("toks").alias("w")).distinct()
    # Driver-side plan literal (documented pattern): one tiny
    # vocab-bounded job to pick the scoring representation, same
    # precedent as the query-vector head() reads.
    n_vocab = vocab.count()
    if n_vocab <= _BITMASK_VOCAB_MAX:
        n_words = max(1, (n_vocab + 63) // 64)
        # Dense tid via the window-free size-adaptive rank (the gate
        # above bounds vocab at 65536; bit positions only need a
        # bijection, so either rank path is equally correct).
        # size_hint: n_vocab was just counted driver-side — reuse it
        # so the rank runs no second probe job.
        vocab_id = global_row_number(
            vocab, [("w", False)], out="_rn", size_hint=n_vocab
        ).select(
            "w", (F.col("_rn") - 1).alias("tid")
        )
        s = (
            toks.select("doc_id", "lang", "len_bucket", F.explode("toks").alias("w"))
            .join(F.broadcast(vocab_id), "w")
            .groupBy("doc_id", "lang", "len_bucket")
            .agg(
                *[
                    F.expr(
                        f"bit_or(CASE WHEN tid div 64 = {w} THEN "
                        "shiftleft(1L, CAST(tid % 64 AS INT)) ELSE 0L END)"
                    ).alias(f"m{w}")
                    for w in range(n_words)
                ]
            )
            .select(
                "doc_id",
                "lang",
                "len_bucket",
                F.array(*[f"m{w}" for w in range(n_words)]).alias("m"),
            )
        )
        popcnt = F.aggregate(
            F.col("m"), F.lit(0).cast("long"), lambda acc, x: acc + F.bit_count(x)
        )
        s = s.select("doc_id", "lang", "len_bucket", "m", popcnt.alias("nset"))
        a = s.alias("a")
        b = s.alias("b")
        inter = F.aggregate(
            F.zip_with(F.col("a.m"), F.col("b.m"), lambda x, y: x.bitwiseAND(y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.bit_count(x),
        )
        union_ = F.aggregate(
            F.zip_with(F.col("a.m"), F.col("b.m"), lambda x, y: x.bitwiseOR(y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.bit_count(x),
        )
    else:
        s = toks.select(
            "doc_id",
            "lang",
            "len_bucket",
            F.array_sort(
                F.transform("toks", lambda w: F.xxhash64(w))
            ).alias("m"),
        ).withColumn("nset", F.size("m"))
        a = s.alias("a")
        b = s.alias("b")
        inter = F.size(F.array_intersect(F.col("a.m"), F.col("b.m")))
        union_ = F.size(F.array_union(F.col("a.m"), F.col("b.m")))
    jac = inter / F.greatest(union_, F.lit(1))
    # Cheap necessary condition evaluated before the popcount loop:
    # Jaccard >= t implies min(|A|,|B|)/max(|A|,|B|) >= t. Prunes
    # most candidate pairs with two int comparisons.
    size_ok = (
        F.least(F.col("a.nset"), F.col("b.nset"))
        >= 0.8 * F.greatest(F.col("a.nset"), F.col("b.nset"))
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(size_ok)
        .filter(jac >= 0.8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# Shared CTE chain: md5-hex fold to a 60-bit token hash (15 hex
# chars — the widest md5 prefix whose fold stays inside signed
# BIGINT in both engines), per-bit majority vote, bit reassembly —
# DuckDB twin of _simhash_table.
_ORACLE_SIMHASH_CTES = f"""
        tok AS (
            SELECT doc_id,
                   unnest(list_distinct(list_filter(
                       string_split({NORM_TEXT_SQL}, ' '), w -> w <> ''))) AS w
            FROM documents),
        h AS (
            SELECT doc_id,
                   list_reduce(list_transform(
                       string_split_regex(substr(md5(w), 1, 15), ''),
                       c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, d) -> a * 16 + d) AS h
            FROM tok),
        votes AS (
            SELECT doc_id, t.b AS b,
                   sum(CASE WHEN ((h >> t.b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
            FROM h, unnest(range(0, 60)) AS t(b)
            GROUP BY doc_id, t.b),
        sh AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN vote > 0
                            THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
                       AS simhash
            FROM votes GROUP BY doc_id)
"""


def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit per-document SimHash — per-bit
    majority vote over distinct-token hashes. Token hash = first 15
    hex digits of md5 (stable across engines/releases, unlike murmur
    variants; 15 hex = 60 bits, the widest md5 prefix that folds
    inside signed 64-bit in BOTH engines — 16 would overflow the
    cast). 60 bits support 4 x 15-bit pigeonhole bands, keeping
    banded chance collisions at n^2/32768 per band instead of the
    n^2/256 a 32-bit sketch allows. Cached: feeds both the sketch
    query and both sides of the pairs self-join."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(norm_text(F.col("text"))))).alias("w")
    )
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    tok = tok.select("doc_id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(60)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    simhash = None
    for b in range(60):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return voted.select("doc_id", simhash.cast("long").alias("simhash")).cache()


@query(
    "dedup_simhash",
    oracle=f"""
        WITH {_ORACLE_SIMHASH_CTES}
        SELECT doc_id, simhash, simhash % 32768 AS band_lo FROM sh
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) per document: per-bit majority vote over token
    hashes, emitted as the sketch value plus a 15-bit band key usable
    for banded near-dup joins (`dedup_simhash_pairs` is the full
    blocked join).

    Pure built-in expressions: explode → conv(hex) → bitwise ops →
    32 conditional sums → bit reassembly. One shuffle (groupBy doc).
    Fully oracle-checked: the md5 bit math is engine-portable, so the
    DuckDB twin reproduces the identical sketch (hex digits folded to
    the same 60-bit int, same per-bit majority, same reassembly).
    """
    sh = _simhash_table(spark, sf_dir)
    return sh.select(
        "doc_id", "simhash", (F.col("simhash") % (1 << 15)).alias("band_lo")
    )


# Manku block-combination tables (Manku/Jain/Das Sarma, WWW'07
# "Detecting near-duplicates for web crawling"): split the 60-bit
# sketch into 5 disjoint 12-bit blocks; 3 flipped bits ruin at most 3
# blocks, so >= 2 blocks survive intact and their C(5,2)=10
# combinations — each a 24-bit table key — guarantee every
# Hamming<=3 pair one exact key collision.
_SIMHASH_TABLES = [
    (t, i, j)
    for t, (i, j) in enumerate(
        (i, j) for i in range(5) for j in range(i + 1, 5)
    )
]
_SIMHASH_TABLE_VALUES = ", ".join(f"({t}, {i}, {j})" for t, i, j in _SIMHASH_TABLES)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH {_ORACLE_SIMHASH_CTES},
        bands AS (
            SELECT doc_id, simhash, t.t AS b,
                   (((simhash >> (t.i * 12)) & 4095) * 4096 +
                    ((simhash >> (t.j * 12)) & 4095)) AS bkey
            FROM sh, (VALUES {_SIMHASH_TABLE_VALUES}) AS t(t, i, j)),
        cand AS (
            -- first-collision ownership: a pair is emitted ONLY by
            -- the lowest table where its keys collide (the guard
            -- checks every earlier table from the two sketches
            -- row-wise), so each pair appears exactly once and no
            -- DISTINCT / pair-level shuffle is needed
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              AND (a.b <= 0 OR (((a.simhash >> 0) & 4095) * 4096 + ((a.simhash >> 12) & 4095)) <> (((b.simhash >> 0) & 4095) * 4096 + ((b.simhash >> 12) & 4095)))
                  AND (a.b <= 1 OR (((a.simhash >> 0) & 4095) * 4096 + ((a.simhash >> 24) & 4095)) <> (((b.simhash >> 0) & 4095) * 4096 + ((b.simhash >> 24) & 4095)))
                  AND (a.b <= 2 OR (((a.simhash >> 0) & 4095) * 4096 + ((a.simhash >> 36) & 4095)) <> (((b.simhash >> 0) & 4095) * 4096 + ((b.simhash >> 36) & 4095)))
                  AND (a.b <= 3 OR (((a.simhash >> 0) & 4095) * 4096 + ((a.simhash >> 48) & 4095)) <> (((b.simhash >> 0) & 4095) * 4096 + ((b.simhash >> 48) & 4095)))
                  AND (a.b <= 4 OR (((a.simhash >> 12) & 4095) * 4096 + ((a.simhash >> 24) & 4095)) <> (((b.simhash >> 12) & 4095) * 4096 + ((b.simhash >> 24) & 4095)))
                  AND (a.b <= 5 OR (((a.simhash >> 12) & 4095) * 4096 + ((a.simhash >> 36) & 4095)) <> (((b.simhash >> 12) & 4095) * 4096 + ((b.simhash >> 36) & 4095)))
                  AND (a.b <= 6 OR (((a.simhash >> 12) & 4095) * 4096 + ((a.simhash >> 48) & 4095)) <> (((b.simhash >> 12) & 4095) * 4096 + ((b.simhash >> 48) & 4095)))
                  AND (a.b <= 7 OR (((a.simhash >> 24) & 4095) * 4096 + ((a.simhash >> 36) & 4095)) <> (((b.simhash >> 24) & 4095) * 4096 + ((b.simhash >> 36) & 4095)))
                  AND (a.b <= 8 OR (((a.simhash >> 24) & 4095) * 4096 + ((a.simhash >> 48) & 4095)) <> (((b.simhash >> 24) & 4095) * 4096 + ((b.simhash >> 48) & 4095)))
                  AND (a.b <= 9 OR (((a.simhash >> 36) & 4095) * 4096 + ((a.simhash >> 48) & 4095)) <> (((b.simhash >> 36) & 4095) * 4096 + ((b.simhash >> 48) & 4095))))
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        FROM cand
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: Hamming distance <= 3 over the 60-bit
    sketches, candidates blocked by Manku block-combination tables
    (WWW'07): the sketch splits into 5 disjoint 12-bit blocks, and
    each of the C(5,2)=10 block PAIRS forms a 24-bit table key. Three
    flipped bits ruin at most 3 of 5 blocks, so every Hamming<=3 pair
    keeps >= 2 intact blocks — their combination key collides exactly,
    giving the equi-join guaranteed recall, never an all-pairs scan.
    Output is IDENTICAL to the earlier 4 x 15-bit pigeonhole banding
    (same sketch, same verify); only candidate generation changed.

    Why: fixed-width band keys saturate — chance candidates are
    ~n²/2^(key bits). The 15-bit-band regime measured last-step alpha
    1.25 at the 256x ladder rung (679 s; ~1e8 chance candidates at
    1.28M docs): the onset of its n²/2^15 term. 24-bit combination
    keys cut chance collisions 2^9 = 512x for 2.5x more band rows —
    the published simhash-at-web-scale construction (Manku et al. use
    exactly this block-combination family). The 60-bit sketch itself
    is unchanged: 15 hex md5 chars is the widest fold inside signed
    BIGINT on BOTH engines, keeping the oracle exact. One aggregation
    shuffle for sketches (cached, shared across both sides), one
    equi-join shuffle on (table, key); xor+bit_count verification is
    codegen'd integer math on candidates only.
    """
    sh = _simhash_table(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("b"),
                        (
                            F.shiftright(F.col("simhash"), 12 * i)
                            .bitwiseAND(F.lit(4095))
                            * 4096
                            + F.shiftright(F.col("simhash"), 12 * j)
                            .bitwiseAND(F.lit(4095))
                        ).alias("bkey"),
                    )
                    for t, i, j in _SIMHASH_TABLES
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.b", "band.bkey")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "b", "bkey"
    )
    b_ = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        F.col("b").alias("b2"),
        F.col("bkey").alias("bkey2"),
    )
    # Verify + dedup entirely MAP-SIDE on the join output: the
    # Hamming check is codegen'd xor+bit_count, and uniqueness comes
    # from FIRST-COLLISION OWNERSHIP (the interval_overlap_pairs
    # trick): a pair is emitted only by the lowest table whose keys
    # collide — every earlier table's keys are recomputed from the
    # two sketches row-wise, so no dropDuplicates exchange exists at
    # all. That exchange was the scale killer: on a homogeneous
    # corpus sketches CONCENTRATE, so ~all band collisions are true
    # Hamming<=3 pairs (88M output pairs at the 256x ladder rung,
    # linear in replicas — 4.17x the 64x count) and deduping them
    # shuffled ~630M rows through 32 fixed local partitions.
    def _tkey(col: Column, i: int, j: int) -> Column:
        return (
            F.shiftright(col, 12 * i).bitwiseAND(F.lit(4095)) * 4096
            + F.shiftright(col, 12 * j).bitwiseAND(F.lit(4095))
        )

    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    first_owner = F.lit(True)
    for t, i, j in _SIMHASH_TABLES:
        first_owner = first_owner & (
            (F.col("b") <= t)
            | (_tkey(F.col("sh_a"), i, j) != _tkey(F.col("sh_b"), i, j))
        )
    return (
        a.join(
            b_,
            (F.col("b") == F.col("b2"))
            & (F.col("bkey") == F.col("bkey2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter((ham <= 3) & first_owner)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


def _pq_cosine_oracle() -> str:
    """Candidate pairs = same IVF cell AND same full PQ code tuple;
    exact cosine verify on candidates only. Composes BOTH quantizer
    CTE chains — `_ivf_assign_ctes` owns the bare names, the PQ chain
    is prefixed ``p`` — so each engine trains both identically."""
    from hadoop_wordcount_spark.operators.similarity import (
        IVF_ITERS,
        PQ_ITERS,
        PQ_M,
        _ivf_assign_ctes,
        _pq_ctes,
    )

    ivf_ctes, _ = _ivf_assign_ctes()
    pq_chain, _ = _pq_ctes("p")
    code_cols = ", ".join(
        f"CAST(max(CASE WHEN m = {mi} THEN cid END) AS INT) AS code{mi}"
        for mi in range(PQ_M)
    )
    code_eq = " AND ".join(f"a.code{mi} = b.code{mi}" for mi in range(PQ_M))
    side_codes = ", ".join(f"k.code{mi}" for mi in range(PQ_M))
    return f"""
        WITH {ivf_ctes},
        {pq_chain},
        codes AS (
            SELECT vec_id, {code_cols}
            FROM pa{PQ_ITERS} GROUP BY vec_id),
        side AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   {side_codes}
            FROM embeddings e
            JOIN a{IVF_ITERS} c USING (vec_id)
            JOIN codes k USING (vec_id)),
        scored AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.embedding, b.embedding) /
                         (sqrt(list_dot_product(a.embedding, a.embedding)) *
                          sqrt(list_dot_product(b.embedding, b.embedding))), 4)
                       AS cos_sim
            FROM side a JOIN side b
              ON a.cid = b.cid AND {code_eq} AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 20
    """


@query("dedup_embedding_pq", oracle=_pq_cosine_oracle())
def q_dedup_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with a PQ-ADC-style candidate stage
    (r8 verdict #4). Candidates are pairs that share BOTH the IVF
    coarse cell (`similarity.ivf_assignments`) and the full
    PQ code tuple (`similarity._pq_train`, Jegou et al. PAMI'11):
    vectors that quantize identically in every subspace. Exact cosine
    verifies candidates only; output is the top-20 pairs by rounded
    cosine, ids breaking ties.

    Scale shape: a join on the IVF cell alone leaves Θ(n/K)-sized
    blocks (Θ(n^1.5) total pairs at K ~ sqrt(n)); intersecting with
    the PQ_K^PQ_M = 256-way code partition splits every cell block
    again, so the measured pair volume drops by ~two orders of
    magnitude and the ladder exponent sits BELOW cell-only blocking's
    1.5 — the code tuple is a free product-space refinement the cell
    key can't express. Both quantizer trainings are the shared
    memoized / fixed-round deterministic stages, dimension-sized
    exchanges only. Recall tradeoff vs cell-only blocking: a true
    near-dup pair must also agree per-subspace; near-identical
    vectors do unless a subvector straddles a codeword boundary — the
    standard PQ recall dial (raise PQ_K / multi-assign to recover;
    single-assignment keeps the oracle exactly expressible)."""
    from hadoop_wordcount_spark.functions.vectors import dot, l2_norm
    from hadoop_wordcount_spark.operators.similarity import (
        PQ_M,
        _pq_train,
        ivf_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells, _cent = ivf_assignments(spark, sf_dir)
    _ev, assign, _c = _pq_train(spark, sf_dir)
    codes = assign.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == mi, F.col("cid")))
            .cast("int")
            .alias(f"code{mi}")
            for mi in range(PQ_M)
        ]
    )
    side = (
        emb.join(cells, "vec_id")
        .join(codes, "vec_id")
        .select(
            "vec_id",
            "cid",
            *[f"code{mi}" for mi in range(PQ_M)],
            "embedding",
            l2_norm(F.col("embedding")).alias("norm"),
        )
    )
    a = side.select(
        *[F.col(c).alias(f"{c}_a") for c in side.columns]
    )
    b = side.select(
        *[F.col(c).alias(f"{c}_b") for c in side.columns]
    )
    cond = (F.col("cid_a") == F.col("cid_b")) & (
        F.col("vec_id_a") < F.col("vec_id_b")
    )
    for mi in range(PQ_M):
        cond = cond & (F.col(f"code{mi}_a") == F.col(f"code{mi}_b"))
    sim = dot(F.col("embedding_a"), F.col("embedding_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("vec_id_a").alias("vec_a"),
            F.col("vec_id_b").alias("vec_b"),
            F.round(sim, 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(20)
    )


# --- Native-expression MinHash + banded LSH (oracle-checkable) -------------
#
# Unlike pyspark.ml's MinHashLSH (seeded random affine permutations —
# not reproducible in SQL), this implementation derives
# each of the k=8 permutations from md5(seed || shingle) and takes the
# LEXICOGRAPHIC min hex digest per document. md5 is identical in Spark
# and DuckDB, so the full pipeline — signatures, band keys, candidate
# pairs, exact-Jaccard verification — is value-checkable end to end.

_N_HASHES = 8
_BAND_SIZE = 2  # 4 bands of 2 rows → P(candidate) = 1-(1-s^2)^4

def _minhash_cte(cols: str = "") -> str:
    """The shared DuckDB CTE chain (toks → sh → sig → bands) behind
    every MinHash oracle. ONE template — `_ORACLE_MINHASH`,
    `_ORACLE_NGRAM_LSH`, and `_ORACLE_INCREMENTAL` all compose their
    tails onto this, so a signature-scheme change cannot silently
    diverge between them (round-4 advice: consistency of the three
    hand-duplicated copies was enforced only by a comment).

    ``cols``: extra per-doc columns carried through the chain, e.g.
    ``", source"`` for the incremental (batch x corpus) variant.
    """
    return f"""
    WITH toks AS (
        -- NOTE: the token SEQUENCE, not a distinct set — shingles are
        -- order-dependent, and DuckDB's list_distinct does not
        -- preserve order (Spark's array_distinct does).
        SELECT doc_id{cols},
               list_filter(
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                   w -> w <> '') AS tk
        FROM documents),
    sh AS (
        SELECT doc_id{cols},
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                             i -> array_to_string(tk[i:i+2], ' ')))
               END AS shingles
        FROM toks),
    sig AS (
        -- 8 x 32-bit min-hashes from TWO md5 digests per shingle:
        -- hash j is the min over 8-hex slice (j % 4) of digest
        -- (j // 4). 4x less hash compute than 8 independent md5s,
        -- same per-hash strength (md5 bits are uniformly mixed).
        SELECT doc_id{cols}, shingles,
               list_transform(range(0, 8),
                   k -> list_min(list_transform(shingles,
                            s -> substr(md5((k // 4) || ':' || s),
                                        CAST(1 + 8 * (k % 4) AS INT), 8))))
                   AS sig
        FROM sh),
    bands AS (
        SELECT doc_id{cols}, shingles, b,
               md5(sig[2*b + 1] || sig[2*b + 2]) AS band_key
        FROM sig, unnest(range(0, 4)) AS t(b))"""


_ORACLE_MINHASH = f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           round(len(list_intersect(sh_a, sh_b)) * 1.0 /
                 greatest(len(list_distinct(sh_a || sh_b)), 1), 4) AS jaccard
    FROM cand
    WHERE len(list_intersect(sh_a, sh_b)) * 1.0 /
          greatest(len(list_distinct(sh_a || sh_b)), 1) >= 0.2
"""


def _minhash_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles, sig): 3-token shingle sets + k=8 md5-derived
    MinHash signature per document. Cached — it feeds the band explode
    and the candidate verification joins, across every query built on
    the banded pipeline (same logical plan → one shared cache entry).

    The 8 x 32-bit hashes come from TWO md5 digests per shingle (four
    8-hex slices each) rather than 8 independent md5 calls — 4x less
    hash compute. Slice min ties are ~n_shingles^2/2^32 — negligible,
    and deterministic (lexicographic) when they happen.

    Tokenization stays JVM-side (`tokens_col(norm_text(...))` — the
    MapClass.java:22-27 fidelity contract lives in ONE place);
    shingling + hashing + slice-min run as an ARROW-BATCHED
    mapInPandas kernel. This stage is PURE STRING computation — md5
    hex digests, ' '-joins, first-occurrence dedup, lexicographic min
    — with bit-for-bit Python equivalents (hashlib.md5 on UTF-8 ==
    Spark md5; dict.fromkeys == array_distinct's first-occurrence
    order; str min == array_min on ASCII hex), so unlike a float
    kernel there is NO rounding surface at all. The r10 in-plan
    formulation spent 263 s of its 335 s 64x-ladder rung inside the
    interpreted per-position slice+array_join lambdas (HOFs evaluate
    interpreted per element — the bootstrap_ci_poisson lesson); the
    kernel runs the same work in ~5 s across the 32 workers. At
    100 TB this featurization is embarrassingly parallel per
    partition either way; the hatch only changes the per-row
    constant."""
    d = _docs(spark, sf_dir)
    # Shingle the token SEQUENCE (order matters); only the resulting
    # shingle SET is deduped — set ops downstream are order-free.
    tk = tokens_col(norm_text(F.col("text")))
    toks = d.select("doc_id", tk.alias("tk"))

    def featurize(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_sh, out_sig = [], []
            for tks in pdf["tk"]:
                if tks is None:
                    # NULL tokens (null/absent text) propagate as NULL
                    # shingles/sig — exactly what the replaced Column
                    # formulation did; the band posexplode then drops
                    # the row. Without this a null text would raise
                    # TypeError and fail the whole job (r11 ADVICE).
                    out_sh.append(None)
                    out_sig.append(None)
                    continue
                tl = list(tks)
                if len(tl) < 3:
                    sh = [" ".join(tl)]
                else:
                    sh = list(
                        dict.fromkeys(
                            " ".join(tl[i : i + 3])
                            for i in range(len(tl) - 2)
                        )
                    )
                d0 = [
                    hashlib.md5(("0:" + s).encode()).hexdigest() for s in sh
                ]
                d1 = [
                    hashlib.md5(("1:" + s).encode()).hexdigest() for s in sh
                ]
                # Same order as the previous in-plan formulation:
                # k (digest) outer, j (8-hex slice) inner.
                sig = [
                    min(h[8 * j : 8 * j + 8] for h in dig)
                    for dig in (d0, d1)
                    for j in range(4)
                ]
                out_sh.append(sh)
                out_sig.append(sig)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "shingles": out_sh,
                    "sig": out_sig,
                }
            )

    base = toks.mapInPandas(
        featurize,
        "doc_id bigint, shingles array<string>, sig array<string>",
    )
    return base.cache()


def _bands(base: DataFrame) -> DataFrame:
    """(doc_id, b, band_key): banded projection of the MinHash
    signatures. Bands carry ONLY the ids and band keys — never the
    shingle arrays, which would be duplicated x n_bands through the
    shuffle."""
    n_bands = _N_HASHES // _BAND_SIZE
    return base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("b"),
                    F.md5(
                        F.concat(
                            F.element_at("sig", b * _BAND_SIZE + 1),
                            F.element_at("sig", b * _BAND_SIZE + 2),
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.b", "band.band_key")


def _band_pairs(base: DataFrame) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs from the banded LSH
    self-join."""
    bands = _bands(base)
    a = bands.select(F.col("doc_id").alias("doc_a"), "b", "band_key")
    b_ = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("b").alias("b2"),
        F.col("band_key").alias("band_key2"),
    )
    return (
        a.join(
            b_,
            (F.col("b") == F.col("b2"))
            & (F.col("band_key") == F.col("band_key2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _banded_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard): banded-LSH candidates verified by
    exact shingle-Jaccard >= 0.2 — the shared pair stage behind
    `dedup_minhash_banded`, `dedup_clusters`, and (through clusters)
    both curation pipelines. Cached: the verified pair set is tiny
    (∝ true near-dups), and sharing it means the band join + verify
    joins run ONCE per session instead of once per consumer (same
    logical plan across callers → one cache entry)."""
    base = _minhash_base(spark, sf_dir)
    cand_ids = _band_pairs(base)
    # Re-attach shingles to the (few) candidates for exact verification.
    sh_a = base.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    cand = cand_ids.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union_ = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.greatest(union_, F.lit(1))
    return (
        cand.filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .cache()
    )


_EDIT_PREFIX = 256  # chars of normalized text fed to levenshtein
_EDIT_TH = 0.5


@query(
    "dedup_edit_verify",
    oracle=f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    px AS (
        SELECT doc_id, substr({NORM_TEXT_SQL}, 1, {_EDIT_PREFIX}) AS px
        FROM documents),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CASE WHEN pa.px = pb.px THEN CAST(1.0 AS DOUBLE)
                    ELSE round(1.0 - levenshtein(pa.px, pb.px) * 1.0 /
                         greatest(greatest(length(pa.px), length(pb.px)), 1),
                         4)
               END AS edit_sim
        FROM cand c
        JOIN px pa ON pa.doc_id = c.doc_a
        JOIN px pb ON pb.doc_id = c.doc_b
        WHERE abs(length(pa.px) - length(pb.px)) <=
              (1.0 - {_EDIT_TH}) *
              greatest(greatest(length(pa.px), length(pb.px)), 1))
    SELECT doc_a, doc_b, edit_sim FROM scored WHERE edit_sim >= {_EDIT_TH}
    ORDER BY edit_sim DESC, doc_a, doc_b LIMIT 20
""",
)
def q_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-similarity verification of banded-LSH candidates — the
    classic second verifier next to exact Jaccard
    (`_banded_verified_pairs`): normalized Levenshtein similarity
    1 - dist/max_len over the first 256 chars of
    normalized text. Set-based Jaccard is blind to token ORDER;
    edit distance is exactly the order-sensitive check, so pairs
    passing both are near-dups in the strict sense (same content,
    same sequence). Reference: WordCount's tokenizer discipline
    (MapClass.java:22-27) fixes the normalization both verifiers
    share.

    Scale shape: candidates come from the shared banded self-join
    (∝ true near-dups, never n²); Levenshtein runs per CANDIDATE
    pair only and is prefix-bounded, JVM-side via the codegen'd
    `levenshtein` expression. Three pre-filters cut the per-pair
    constant (r9 verdict #5 — this was the heaviest ladder op at
    1126 s / 256x):

    - length-difference bound: lev >= |len_a - len_b|, so any pair
      with |len_a - len_b| > (1-τ)·maxlen cannot clear τ — dropped
      BEFORE the DP table is built (both engines; rounding cannot
      resurrect such a pair: sim steps are >= 1/maxlen apart, far
      above the 4dp grid).
    - exact-prefix equality short-circuits to sim = 1.0 — at ladder
      scale most surviving candidates are replica pairs with
      IDENTICAL prefixes, so this removes the dominant O(L²) mass.
    - the remaining pairs run Spark's BANDED levenshtein with
      threshold (1-τ)·{_EDIT_PREFIX} — O(L·τL) not O(L²); distances
      over the threshold return -1 and are excluded (such pairs
      score < τ in the oracle's full-DP arithmetic, so both engines
      drop exactly the same pairs).

    Top-20 is a TakeOrderedAndProject k-heap."""
    base = _minhash_base(spark, sf_dir)
    cand = _band_pairs(base)
    d = load_table(spark, sf_dir, "documents")
    px = d.select(
        "doc_id",
        F.substring(norm_text(F.col("text")), 1, _EDIT_PREFIX).alias("px"),
    )
    pa = px.select(F.col("doc_id").alias("doc_a"), F.col("px").alias("px_a"))
    pb = px.select(F.col("doc_id").alias("doc_b"), F.col("px").alias("px_b"))
    maxlen = F.greatest(
        F.greatest(F.length("px_a"), F.length("px_b")), F.lit(1)
    )
    len_gap_ok = (
        F.abs(F.length("px_a") - F.length("px_b"))
        <= (1.0 - _EDIT_TH) * maxlen
    )
    lev_budget = int((1.0 - _EDIT_TH) * _EDIT_PREFIX)
    lev = F.levenshtein("px_a", "px_b", lev_budget).cast("double")
    sim = F.when(F.col("px_a") == F.col("px_b"), F.lit(1.0)).otherwise(
        F.when(
            lev >= 0, F.round(F.lit(1.0) - lev / maxlen, 4)
        )  # lev == -1 → over budget → NULL → filtered
    )
    j = cand.join(pa, "doc_a").join(pb, "doc_b").filter(len_gap_ok)
    return (
        j.select("doc_a", "doc_b", sim.alias("edit_sim"))
        .filter(F.col("edit_sim") >= _EDIT_TH)
        .orderBy(F.desc("edit_sim"), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "minhash_estimator_calibration",
    oracle=f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    est AS (
        SELECT c.doc_a, c.doc_b,
               len(list_filter(range(1, {_N_HASHES} + 1),
                               i -> sa.sig[i] = sb.sig[i])) AS n_match,
               len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                   greatest(len(list_distinct(sa.shingles || sb.shingles)), 1)
                   AS jac
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b)
    SELECT n_match,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jac), 4) AS avg_exact_jaccard,
           round(n_match * 1.0 / {_N_HASHES}, 4) AS est_jaccard
    FROM est GROUP BY n_match
""",
)
def q_minhash_estimator_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration report: for every banded-LSH
    candidate pair, the ESTIMATED Jaccard (fraction of matching
    signature slots, k={_N_HASHES}) bucketed against the average
    EXACT shingle Jaccard. E[matches/k] = J is the Broder'97
    estimator guarantee; this report is how a production dedup
    pipeline monitors that its signature scheme is calibrated
    (a biased bucket means a broken hash family or shingle bug)
    before trusting banding recall math.

    Scale shape: the candidate stage is the shared banded self-join
    (∝ true near-dups); the estimate is a k-slot array comparison
    per pair, the exact Jaccard runs on candidates only, and the
    rollup is ≤ k+1 rows. Nothing is corpus-pairwise."""
    base = _minhash_base(spark, sf_dir)
    cand = _band_pairs(base)
    feats = base.select("doc_id", "sig", "shingles")
    fa = feats.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    fb = feats.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    j = cand.join(fa, "doc_a").join(fb, "doc_b")
    n_match = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(_N_HASHES)),
            lambda i: F.element_at("sig_a", i) == F.element_at("sig_b", i),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union_ = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.greatest(union_, F.lit(1))
    return (
        j.select(n_match.alias("n_match"), jac.alias("jac"))
        .groupBy("n_match")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jac"), 4).alias("avg_exact_jaccard"),
            F.round(
                F.col("n_match") * F.lit(1.0) / _N_HASHES, 4
            ).alias("est_jaccard"),
        )
    )


@query("dedup_minhash_banded", oracle=_ORACLE_MINHASH)
def q_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH + exact-Jaccard verification,
    all in built-in expressions (md5 / array lambdas) — deterministic
    AND oracle-checkable, unlike seeded ML LSH.

    Plan at scale: signature computation is a shuffle-free projection;
    the only shuffle is the band-key self-join (candidates ∝ true
    near-dups, not n²); verification touches candidate pairs only.
    The verified pair stage is shared (cached) with `dedup_clusters`.
    """
    return _banded_verified_pairs(spark, sf_dir)


@query(
    "source_overlap_matrix",
    oracle=f"""
        WITH pairs AS (
            {_ORACLE_MINHASH.strip()}
        ),
        j AS (
            SELECT least(da.source, db.source) AS src_lo,
                   greatest(da.source, db.source) AS src_hi
            FROM pairs p
            JOIN documents da ON da.doc_id = p.doc_a
            JOIN documents db ON db.doc_id = p.doc_b)
        SELECT src_lo, src_hi, count(*) AS n_pairs
        FROM j GROUP BY src_lo, src_hi
    """,
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: how many near-dup pairs
    (banded MinHash, Jaccard >= 0.2) link each pair of sources — the
    report that tells a corpus owner which feeds overlap before they
    pay for dedup, and the provenance signal for licensing review.
    Pair direction is normalized (least/greatest) so each source pair
    appears once.

    Reuses the shared cached verified-pair stage; the only work on
    top is two doc_id->source lookups (broadcastable: pairs are tiny
    by construction) and a |sources|^2-bounded aggregate. At 100 TB
    the pair set is ∝ true near-dups, so this audit costs almost
    nothing beyond the dedup you were already running."""
    pairs = _banded_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b")
    return (
        joined.select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# The shared CTE chain with `source` carried through and the pair
# join split new-batch x corpus. The batch source is DERIVED from the
# data (lexicographic max over `source`) instead of a hardcoded
# literal, so the query can never go vacuously empty on a corpus that
# lacks some specific source name — both engines compute the same
# max() over the same table.
_ORACLE_INCREMENTAL = f"""{_minhash_cte(", source")},
    batch AS (SELECT max(source) AS src FROM documents),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS dup_of,
               n.shingles AS sh_n, o.shingles AS sh_o
        FROM bands n JOIN bands o
          ON n.b = o.b AND n.band_key = o.band_key
        WHERE n.source = (SELECT src FROM batch)
          AND o.source <> (SELECT src FROM batch))
    SELECT new_doc, dup_of,
           round(len(list_intersect(sh_n, sh_o)) * 1.0 /
                 greatest(len(list_distinct(sh_n || sh_o)), 1), 4) AS jaccard
    FROM cand
    WHERE len(list_intersect(sh_n, sh_o)) * 1.0 /
          greatest(len(list_distinct(sh_n || sh_o)), 1) >= 0.2
"""


@query("dedup_incremental", oracle=_ORACLE_INCREMENTAL)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: near-dup matches of an incoming
    batch (source = max(source), derived from the data) AGAINST the
    standing corpus (every other source) — the nightly-drop shape of
    production dedup, where you never re-pair the whole corpus, only
    new x existing.

    Same banded-MinHash machinery as `dedup_minhash_banded` (shared
    cached signature base), but the band join is one-sided: new-batch
    bands against corpus bands, so candidates scale with the BATCH
    size times collision rate, not the corpus pair space. At 100 TB
    the corpus side is a stored band index (band_key-partitioned);
    the daily job shuffles only the new batch's bands plus matching
    index entries, and exact-Jaccard verification touches candidates
    only. Output: (new_doc, dup_of, jaccard >= 0.2) — the batch rows
    to drop or link before appending."""
    base = _minhash_base(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    # Driver-side plan literal (documented pattern, one tiny agg job):
    # the incoming batch is the lexicographically-last source, same
    # max(source) the oracle computes. Assert non-empty rather than
    # letting an empty corpus make the query vacuously green.
    batch_src = src.agg(F.max("source")).head()[0]
    assert batch_src is not None, "documents table has no sources"
    bands = _bands(base).join(src, "doc_id")
    newb = bands.filter(F.col("source") == batch_src).select(
        F.col("doc_id").alias("new_doc"), "b", "band_key"
    )
    oldb = bands.filter(F.col("source") != batch_src).select(
        F.col("doc_id").alias("dup_of"),
        F.col("b").alias("b2"),
        F.col("band_key").alias("band_key2"),
    )
    cand = (
        newb.join(
            oldb,
            (F.col("b") == F.col("b2")) & (F.col("band_key") == F.col("band_key2")),
        )
        .select("new_doc", "dup_of")
        .dropDuplicates(["new_doc", "dup_of"])
    )
    sh_n = base.select(F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sh_n"))
    sh_o = base.select(F.col("doc_id").alias("dup_of"), F.col("shingles").alias("sh_o"))
    pairs = cand.join(sh_n, "new_doc").join(sh_o, "dup_of")
    inter = F.size(F.array_intersect("sh_n", "sh_o"))
    union_ = F.size(F.array_union("sh_n", "sh_o"))
    jac = inter / F.greatest(union_, F.lit(1))
    return pairs.filter(jac >= 0.2).select(
        "new_doc", "dup_of", F.round(jac, 4).alias("jaccard")
    )


_ORACLE_NGRAM_LSH = f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list_distinct(tk) AS s FROM toks)
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.s, sb.s)) * 1.0 /
                 greatest(len(list_distinct(sa.s || sb.s)), 1), 4) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.s, sb.s)) * 1.0 /
          greatest(len(list_distinct(sa.s || sb.s)), 1) >= 0.8
"""


@query("dedup_ngram_jaccard_lsh", oracle=_ORACLE_NGRAM_LSH)
def q_dedup_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= 0.8, blocked on the banded-MinHash
    candidate pairs instead of `dedup_ngram_jaccard`'s (lang,
    len-bucket) blocks — the 100 TB form of n-gram dedup as CODE, not
    docstring prose: candidate generation is the sub-quadratic LSH
    band join (pairs ∝ true near-dups), and the exact scoring stage
    touches candidates only. Same scoring semantics as
    `dedup_ngram_jaccard` (token SETS, size-ratio prune, >= 0.8);
    scored on the normalized token stream the shingles derive from,
    string-exact in both engines (no hash-encoding shortcut needed —
    the candidate set is small by construction).

    Recall note (the documented LSH tradeoff): candidates come from
    3-token shingle bands, so token-set duplicates that share no
    3-gram ordering (fully shuffled text) are not recalled; at >= 0.8
    token-Jaccard real corpora duplicates share long runs, which is
    exactly what the bands key on.
    """
    base = _minhash_base(spark, sf_dir)
    cand = _band_pairs(base)
    d = _docs(spark, sf_dir)
    sets = d.select(
        "doc_id",
        F.array_distinct(tokens_col(norm_text(F.col("text")))).alias("s"),
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    pairs = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union_ = F.size(F.array_union("s_a", "s_b"))
    jac = inter / F.greatest(union_, F.lit(1))
    # Same necessary-condition prune as dedup_ngram_jaccard: two int
    # comparisons before the O(|A|+|B|) set ops.
    size_ok = (
        F.least(F.size("s_a"), F.size("s_b"))
        >= 0.8 * F.greatest(F.size("s_a"), F.size("s_b"))
    )
    return (
        pairs.filter(size_ok)
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "dedup_clusters",
    oracle="""
        WITH RECURSIVE pairs AS (
            -- the banded-minhash candidate pairs, verified >= 0.2 (same
            -- pipeline as dedup_minhash_banded's oracle)
            """ + _ORACLE_MINHASH.replace("SELECT doc_a, doc_b,",
                                          "SELECT doc_a, doc_b,").strip() + """
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, r) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id)
        SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the near-dup
    pair graph (iterative min-label propagation) — the step that turns
    pairwise dedup output into keep-one-per-cluster decisions.

    This is the engine's one genuinely iterative algorithm: labels
    converge in O(graph diameter) rounds, each round a join + min
    aggregation (the simplified large-star operation). The loop is
    driver-side control flow but ALL data work is distributed; the
    convergence check is an aggregate, not a collect. The DuckDB
    oracle computes the same fixpoint with a recursive CTE — exact
    parity for an 'iterative, non-SQL' operator.

    At 100 TB: near-dup graphs are forests of small cliques, so
    diameter (and round count) stays tiny; each round shuffles
    O(edges). Each round's labels are materialized; on a local master
    that cuts the lineage, so the plan stays one-round deep regardless
    of iteration count — a deep component cannot build a 20-deep
    lineage.
    """
    pairs = _banded_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()
    labels = materialize(edges.select(F.col("doc_a").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ))
    for _ in range(20):  # diameter bound; near-dup cliques converge in 2-3
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # Materialize this round's labels; on a local master this
        # TRUNCATES lineage — each iteration's plan reads the previous
        # checkpoint, never the whole join chain. The change flag is
        # computed INSIDE the same update join (nbr_min improves the
        # label iff it is strictly smaller), so the convergence check
        # is a filter over the already-materialized checkpoint — no
        # second new-vs-old join per round.
        new_labels = materialize(
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("chg"),
            )
        )
        changed = new_labels.filter(F.col("chg")).limit(1).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    return labels.select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


_ORACLE_CLUSTERS_CTE = """
        pairs AS (
            """ + _ORACLE_MINHASH.strip() + """
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, r) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        clusters AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
"""


@query(
    "dedup_cluster_purity",
    oracle=f"""
        WITH RECURSIVE {_ORACLE_CLUSTERS_CTE},
        m AS (
            SELECT c.cluster_id, d.lang, count(*) AS n
            FROM clusters c JOIN documents d USING (doc_id)
            GROUP BY 1, 2),
        tot AS (SELECT cluster_id, sum(n) AS n_members FROM m GROUP BY 1),
        r AS (
            SELECT cluster_id, lang, n,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n DESC, lang) AS rn
            FROM m)
        SELECT CAST(r.cluster_id AS BIGINT) AS cluster_id,
               CAST(t.n_members AS BIGINT) AS n_members,
               r.lang AS top_lang,
               round(r.n * 1.0 / t.n_members, 4) AS purity
        FROM r JOIN tot t USING (cluster_id) WHERE rn = 1
    """,
)
def q_dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity per near-dup cluster: majority-language share
    of each connected component — the cluster-QUALITY audit between
    `dedup_graph_degree_report` (hub detection on the pair graph) and
    `dedup_cluster_representatives` (keep-one selection). A cluster
    whose members span languages is almost never true duplication;
    it is a template/boilerplate hub chaining unrelated documents —
    production pipelines read exactly this report before collapsing
    clusters to one representative (a mixed cluster keeps per-lang
    representatives instead).

    Plan: composes the verified operators (shared banded pair stage →
    iterative CC, DuckDB recursive-CTE fixpoint oracle) with one
    dimension join and two cluster-keyed aggregations; the argmax is
    min(struct(-count, lang)) — map-side partials, deterministic
    (count DESC, lang ASC) tiebreak, no window over raw members.
    Cluster count ∝ true near-dups, so every exchange past the pair
    stage is tiny at any corpus size."""
    clusters = q_dedup_clusters(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    m = (
        clusters.join(d, "doc_id")
        .groupBy("cluster_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    best = F.min(
        F.struct((-F.col("n")).alias("neg_n"), F.col("lang").alias("lang"))
    )
    return (
        m.groupBy("cluster_id")
        .agg(F.sum("n").alias("n_members"), best.alias("b"))
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("b.lang").alias("top_lang"),
            F.round((-F.col("b.neg_n")) * 1.0 / F.col("n_members"), 4).alias(
                "purity"
            ),
        )
    )


@query(
    "dedup_cluster_representatives",
    oracle=f"""
        WITH RECURSIVE {_ORACLE_CLUSTERS_CTE},
        q AS (
            SELECT doc_id,
                   round(ln(1 + n_tok) * (n_dis * 1.0 / greatest(n_tok, 1)), 4)
                       AS score
            FROM (SELECT doc_id,
                         len(list_filter(string_split(text, ' '), w -> w <> ''))
                             AS n_tok,
                         len(list_distinct(list_filter(string_split(text, ' '),
                             w -> w <> ''))) AS n_dis
                  FROM documents)),
        j AS (SELECT c.cluster_id, q.doc_id, q.score
              FROM clusters c JOIN q USING (doc_id)),
        r AS (SELECT cluster_id, doc_id, score,
                     row_number() OVER (
                         PARTITION BY cluster_id
                         ORDER BY score DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY cluster_id) AS n_members
              FROM j)
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               doc_id AS rep_doc_id,
               score AS rep_score,
               CAST(n_members AS BIGINT) AS n_members
        FROM r WHERE rn = 1
    """,
)
def q_dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection: for each
    duplicate cluster, keep the HIGHEST-quality member (log-length x
    lexical diversity, `quality_score`'s exact formula) instead of
    `dedup_clusters`/`pipeline_curate`'s min-doc_id winner — what a
    production curation pipeline actually ships when near-dups differ
    in quality (one copy is truncated, one is clean).

    The argmax is `max(struct(score, -doc_id))` — the module's
    map-side argmin/argmax convention: the shuffle carries one
    partial per cluster instead of every member row a window sort
    would move, and the (rounded score, lowest doc_id) tiebreak is
    engine-stable. Composes two verified operators (clusters +
    quality scores) and stays end-to-end oracle-checked through the
    recursive-CTE fixpoint."""
    clusters = q_dedup_clusters(spark, sf_dir)
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    score = F.round(F.log(1 + n_tok) * (n_dis / F.greatest(n_tok, F.lit(1))), 4)
    scored = d.select("doc_id", score.alias("score")).join(clusters, "doc_id")
    best = F.max(
        F.struct(F.col("score").alias("score"), (-F.col("doc_id")).alias("neg_id"))
    )
    return (
        scored.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"), best.alias("b"))
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            (-F.col("b.neg_id")).cast("long").alias("rep_doc_id"),
            F.col("b.score").alias("rep_score"),
            "n_members",
        )
    )



@query(
    "pipeline_curate",
    oracle=f"""
        WITH RECURSIVE {_ORACLE_CLUSTERS_CTE},
        quality AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
                   len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_dis,
                   length(text) AS n_ch
            FROM documents)
        SELECT q.doc_id, q.lang, CAST(q.n_tok AS BIGINT) AS n_tokens
        FROM quality q LEFT JOIN clusters c ON q.doc_id = c.doc_id
        WHERE q.n_tok >= 10 AND q.n_ch >= 50
          AND q.n_dis * 1.0 / greatest(q.n_tok, 1) >= 0.2
          AND (c.doc_id IS NULL OR c.cluster_id = q.doc_id)
    """,
)
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end curation pipeline — what this engine is
    FOR: documents → quality gate (length/diversity) → near-dup
    clustering (banded MinHash → connected components) → keep ONE
    representative per duplicate cluster (the component's min doc_id;
    unpaired docs represent themselves) → curated corpus.

    Every stage is an already-verified operator (quality_score,
    dedup_minhash_banded, dedup_clusters) composed into one plan, and
    the whole pipeline is still DuckDB-oracle-checked end to end.

    At 100 TB: quality gating is a shuffle-free scan; clustering cost
    scales with near-dup pairs, not corpus size; the final anti-join
    of non-representatives is a broadcast of (small) cluster output
    against the full corpus.
    """
    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    quality = d.select(
        "doc_id",
        "lang",
        n_tok.cast("long").alias("n_tokens"),
        (
            (n_tok >= 10)
            & (F.length("text") >= 50)
            & (n_dis / F.greatest(n_tok, F.lit(1)) >= 0.2)
        ).alias("keep"),
    ).filter(F.col("keep"))

    clusters = q_dedup_clusters(spark, sf_dir)
    # Non-representatives: clustered docs whose id is not the label.
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return quality.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tokens"
    )


@query(
    "pipeline_train_corpus",
    oracle=f"""
        WITH RECURSIVE {_ORACLE_CLUSTERS_CTE},
        quality AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
                   len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_dis,
                   length(text) AS n_ch
            FROM documents),
        curated AS (
            SELECT q.doc_id, q.lang, CAST(q.n_tok AS BIGINT) AS n_tokens
            FROM quality q LEFT JOIN clusters c ON q.doc_id = c.doc_id
            WHERE q.n_tok >= 10 AND q.n_ch >= 50
              AND q.n_dis * 1.0 / greatest(q.n_tok, 1) >= 0.2
              AND (c.doc_id IS NULL OR c.cluster_id = q.doc_id)),
        assigned AS (
            SELECT lang, n_tokens,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                            THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM curated)
        SELECT split, lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM assigned GROUP BY split, lang
    """,
)
def q_pipeline_train_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus build, end to end: quality gate →
    near-dup dedup (keep one per cluster) → deterministic train/val/
    test split → per-(split, language) document and token budgets —
    the report a data-curation run hands to the training team.

    Pure composition of verified operators (`pipeline_curate` +
    `dataset_split`'s hash-bucket assignment), still oracle-checked
    end to end. Because split membership is a hash of doc_id, the
    assignment commutes with every upstream filter: curating first
    and splitting second yields the same split for a surviving doc as
    splitting the raw corpus would — no leakage drift between runs.

    At 100 TB: adds one scan-level projection and a tiny final
    aggregate on top of `pipeline_curate`'s cost envelope."""
    from hadoop_wordcount_spark.operators.sampling import (
        _TRAIN_HI,
        _VAL_HI,
        hash_bucket,
    )

    curated = q_pipeline_curate(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < _TRAIN_HI, "train").when(b < _VAL_HI, "val").otherwise("test")
    )
    return (
        curated.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


_ORACLE_CONTAINMENT = f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           round(len(list_intersect(sh_a, sh_b)) * 1.0 /
                 greatest(least(len(sh_a), len(sh_b)), 1), 4) AS containment
    FROM cand
    WHERE len(list_intersect(sh_a, sh_b)) * 1.0 /
          greatest(least(len(sh_a), len(sh_b)), 1) >= 0.4
"""


@query("dedup_containment", oracle=_ORACLE_CONTAINMENT)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: |A∩B| / min(|A|, |B|) over
    shingle sets — the ASYMMETRIC companion to Jaccard that catches
    doc-in-doc duplication (a clean article fully embedded in a
    longer scrape has Jaccard ~|A|/|B| — arbitrarily low — but
    containment ~1). Standard contamination/quote-detection scoring
    in pretraining curation, after Broder's resemblance/containment
    pair.

    Same banded-MinHash candidate stage as `dedup_minhash_banded`
    (shared cached signature base — one featurization per session,
    zero new shuffles beyond the verify join); only the scoring
    formula differs. MinHash bands estimate Jaccard, so recall for
    extreme size-ratio pairs is bounded by their (low) Jaccard — at
    100 TB the recall-critical variant band-joins on the SMALLER
    side's partial signatures; here candidates and scoring stay
    oracle-checkable end to end."""
    base = _minhash_base(spark, sf_dir)
    sh_a = base.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    pairs = _band_pairs(base).join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cont = inter / F.greatest(F.least(F.size("sh_a"), F.size("sh_b")), F.lit(1))
    return pairs.filter(cont >= 0.4).select(
        "doc_a", "doc_b", F.round(cont, 4).alias("containment")
    )


_ORACLE_SWEEP = f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    scored AS (
        SELECT doc_a,
               round(len(list_intersect(sh_a, sh_b)) * 1.0 /
                     greatest(len(list_distinct(sh_a || sh_b)), 1), 4) AS jaccard
        FROM cand
        WHERE len(list_intersect(sh_a, sh_b)) * 1.0 /
              greatest(len(list_distinct(sh_a || sh_b)), 1) >= 0.2),
    th AS (SELECT unnest(range(2, 10)) / 10.0 AS threshold)
    SELECT th.threshold, CAST(count(s.doc_a) AS BIGINT) AS n_pairs
    FROM th LEFT JOIN scored s ON s.jaccard >= th.threshold
    GROUP BY th.threshold
"""


@query("dedup_threshold_sweep", oracle=_ORACLE_SWEEP)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sensitivity report: how many verified near-dup
    pairs survive each Jaccard cutoff 0.2..0.9 — the curve a curation
    team reads before committing to a threshold (a cliff between two
    cutoffs means the corpus has a distinct boilerplate band there;
    a flat tail means the choice barely matters).

    Reuses the shared cached `_banded_verified_pairs` stage, so the
    sweep itself costs ONE pass over the (tiny, ∝ true-near-dup)
    verified pair set joined against 8 broadcast threshold rows —
    the report is effectively free once any banded consumer has run.
    Zero-count thresholds are preserved (left join), so the report
    always has all 8 rows."""
    pairs = _banded_verified_pairs(spark, sf_dir)
    th = spark.range(2, 10).select((F.col("id") / 10.0).alias("threshold"))
    return (
        F.broadcast(th)
        .join(pairs, pairs.jaccard >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.count("doc_a").alias("n_pairs"))
    )


_ORACLE_DEGREE = f"""{_minhash_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    scored AS (
        SELECT doc_a, doc_b FROM cand
        WHERE len(list_intersect(sh_a, sh_b)) * 1.0 /
              greatest(len(list_distinct(sh_a || sh_b)), 1) >= 0.2),
    ends AS (
        SELECT doc_a AS doc_id FROM scored
        UNION ALL SELECT doc_b FROM scored),
    deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
"""


@query("dedup_graph_degree_report", oracle=_ORACLE_DEGREE)
def q_dedup_graph_degree_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph degree distribution: how many documents have
    exactly k verified near-duplicates — the observability report
    between pairs and clusters. A heavy tail (one doc with hundreds
    of edges) is the signature of template/boilerplate hubs that
    will chain unrelated docs into one giant cluster; production
    pipelines read this BEFORE trusting connected components.

    Reuses the shared cached `_banded_verified_pairs` stage: both
    endpoints explode into an edge-end list (2|E| rows), then two
    tiny aggregates — on top of any banded consumer the report is
    free, and |E| ∝ true near-dups, never the pair space."""
    pairs = _banded_verified_pairs(spark, sf_dir)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


_SEMDEDUP_TH = 0.35
# Within-cell pair blocks are bounded by sub-bucketing every cell at
# this size: vectors are ranked by id inside their cell and pairs only
# form inside a (cell, rank-band) block. One skewed/degenerate k-means
# cell can no longer make the stage quadratic — per-cell candidate
# work is O(cell_size * CAP) instead of O(cell_size^2) (r8 verdict #2).
_SEMDEDUP_CELL_CAP = 128


def _semdedup_oracle() -> str:
    """SemDeDup report in DuckDB: the k-means cell CTEs come from
    `similarity._ivf_assign_ctes` (the SAME quantizer as
    `ann_ivf_search` / `dedup_embedding_pq`), then the
    exists-a-lower-kept-neighbor prune rule — restricted to id-rank
    sub-buckets of at most `_SEMDEDUP_CELL_CAP` vectors per cell,
    exactly mirroring the Spark side — and a per-cell rollup."""
    from hadoop_wordcount_spark.operators.similarity import IVF_ITERS, _ivf_assign_ctes

    ctes, _ = _ivf_assign_ctes()
    return f"""
        WITH {ctes},
        side AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   -- // is integer division: CAST(double AS BIGINT)
                   -- ROUNDS in DuckDB (vs Spark's truncating cast)
                   (row_number() OVER (PARTITION BY c.cid
                                       ORDER BY e.vec_id) - 1)
                       // {_SEMDEDUP_CELL_CAP} AS sub
            FROM embeddings e JOIN a{IVF_ITERS} c USING (vec_id)),
        pruned AS (
            SELECT DISTINCT b.vec_id
            FROM side a JOIN side b
              ON a.cid = b.cid AND a.sub = b.sub AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.embedding, b.embedding) /
                        (sqrt(list_dot_product(a.embedding, a.embedding)) *
                         sqrt(list_dot_product(b.embedding, b.embedding))), 4)
                  >= {_SEMDEDUP_TH})
        SELECT s.cid, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(count(p.vec_id) AS BIGINT) AS n_pruned,
               CAST(min(CASE WHEN p.vec_id IS NULL THEN s.vec_id END) AS BIGINT)
                   AS first_kept
        FROM side s LEFT JOIN pruned p ON s.vec_id = p.vec_id
        GROUP BY s.cid
    """


@query("semdedup_prune", oracle=_semdedup_oracle())
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning report (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public): cluster embeddings with the engine's
    shared IVF k-means quantizer, then inside each cluster prune
    every vector that has a KEPT lower-id neighbor above the cosine
    threshold. The keep rule here is id-dominance (a vector is
    pruned iff ANY lower-id same-cell vector sits above the
    threshold) — a deterministic, join-expressible variant of the
    paper's greedy sweep; they differ only on chains where a pruned
    vector is another's sole witness (documented deviation).
    Output: per-cell (size, pruned count, first kept id).

    Plan: quantizer training is the shared fixed-round k-means
    (`similarity.ivf_assignments`); candidate pairs form by equi-join
    on (cell id, id-rank sub-bucket) — never all-pairs — and the
    prune set is a semi-join-shaped DISTINCT on the dominated side.
    Sub-bucketing caps every pair block at `_SEMDEDUP_CELL_CAP`
    vectors: a skewed or degenerate k-means cell contributes
    O(cell_size * CAP) candidate pairs, not O(cell_size^2), so the
    stage is linear in n regardless of the cell-size distribution
    (the r8 scaling ladder measured alpha 1.48 at 64x without the
    cap). Deviation from the paper: pairs that straddle sub-buckets
    of an over-cap cell are not examined — the same
    bounded-comparison concession SemDeDup's own implementation
    makes by capping cluster sizes. At 100 TB the rollup stays
    cell-count-sized and the window is partitioned by cell (no
    unpartitioned-window trap)."""
    from hadoop_wordcount_spark.functions.vectors import dot, l2_norm
    from hadoop_wordcount_spark.operators.similarity import ivf_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    cells, _cent = ivf_assignments(spark, sf_dir)
    w = Window.partitionBy("cid").orderBy("vec_id")
    side = (
        emb.join(cells, "vec_id")
        .select(
            "vec_id",
            "cid",
            "embedding",
            l2_norm(F.col("embedding")).alias("norm"),
        )
        .withColumn(
            "sub",
            F.floor(
                (F.row_number().over(w) - 1) / F.lit(_SEMDEDUP_CELL_CAP)
            ).cast("long"),
        )
    )
    a = side.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cid").alias("cid_a"),
        F.col("sub").alias("sub_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = side.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cid").alias("cid_b"),
        F.col("sub").alias("sub_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    sim = F.round(
        dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")), 4
    )
    pruned = (
        a.join(
            b,
            (F.col("cid_a") == F.col("cid_b"))
            & (F.col("sub_a") == F.col("sub_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(sim >= _SEMDEDUP_TH)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        side.join(pruned, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.count("is_pruned").cast("long").alias("n_pruned"),
            F.min(
                F.when(F.col("is_pruned").isNull(), F.col("vec_id"))
            ).cast("long").alias("first_kept"),
        )
    )


# --- Signed-random-projection (hyperplane) LSH near-dup ------------------
#
# Primitives live in functions/srp.py (shared with similarity's
# recall eval; see that module's docstring). The operator functions
# below read the CONSTANTS through the module reference so the scale
# probe's bits-per-band dial patch applies everywhere at call time.
from hadoop_wordcount_spark.functions import srp as _srp_mod
from hadoop_wordcount_spark.functions.srp import (
    _srp_ctes,
    _srp_multiprobe_body,
)


def _srp_oracle() -> str:
    n_bands = _srp_mod._SRP_BITS // _srp_mod._SRP_BAND_BITS
    keys_arr = ", ".join(f"k{b}" for b in range(n_bands))
    return f"""
        WITH {_srp_ctes()},
        side AS (
            SELECT vec_id, [{keys_arr}] AS ks FROM keys),
        expl AS (
            SELECT vec_id, ks, unnest(ks) AS key,
                   generate_subscripts(ks, 1) - 1 AS bno
            FROM side),
        cand AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM expl a JOIN expl b
              ON a.bno = b.bno AND a.key = b.key AND a.vec_id < b.vec_id
            WHERE len(list_filter(range(1, a.bno + 1),
                                  i -> a.ks[i] = b.ks[i])) = 0),
        scored AS (
            SELECT c.vec_a, c.vec_b,
                   round(list_sum(list_transform(range(1, len(ea.v) + 1),
                                  i -> ea.v[i] * eb.v[i]))
                         / (greatest(sqrt(list_sum(list_transform(ea.v,
                                          x -> x * x))), 1e-12)
                            * greatest(sqrt(list_sum(list_transform(eb.v,
                                            x -> x * x))), 1e-12)), 4)
                       AS cos_sim
            FROM cand c
            JOIN e ea ON ea.vec_id = c.vec_a
            JOIN e eb ON eb.vec_id = c.vec_b)
        SELECT vec_a, vec_b, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 20
    """


@query("dedup_embedding_srp", oracle=_srp_oracle())
def q_dedup_embedding_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via signed-random-projection LSH
    (Charikar STOC'02) — the DATA-INDEPENDENT member of the
    embedding-dedup family: no training stage at all (the quantizer
    families `dedup_embedding_pq` / SemDeDup need k-means passes),
    so it is the variant that works on the FIRST pass over a brand-
    new corpus and under adversarial drift. {_SRP_BITS} sign bits
    from fixed md5-derived hyperplanes, banded {_SRP_BAND_BITS} bits
    per band; candidate pairs share a band key, owned by their FIRST
    colliding band (row-wise test on both key arrays — the
    dedup_simhash_pairs ownership trick, so no pair-level distinct
    shuffle exists); exact cosine verifies candidates only. Top-20
    by verified cosine, directly comparable to the PQ variant.

    Determinism: hyperplane components are module-computed doubles
    injected as identical literals into both engines; dots fold in
    array index order (the codegen'd multiply-add chain of
    `srp_spark_side` — bit-identical to the interpreted fold it
    replaced) and round at 6dp before the sign test, so the bit
    vectors are engine-identical; final cosines round at 4dp with id
    tiebreaks.

    Scale shape: the bit projection is a per-row O(bits x d) map —
    linear, shuffle-free; the candidate stage is an equi-join on
    (band, key). Bucket occupancy is n / 2^band_bits per band, so
    bits-per-band is the scale dial (grow it ~log2 n to hold bucket
    size constant — the same knob as simhash's Manku tables); verify
    cost ∝ candidates, never n². Recall at 4 bands of
    {_SRP_BAND_BITS}: P[band agrees] = (1 - θ/π)^{_SRP_BAND_BITS},
    union over 4 bands ≈ 0.7+ for near-dup angles — raise bands to
    raise recall, the standard LSH dial."""
    from hadoop_wordcount_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # Vectors ride THROUGH the band shuffle (x n_bands duplication of
    # the raw float32 array — ~n_bands x 260 B per vector, a bounded
    # constant), so the candidate-PAIR stream — pairs >> vectors at
    # any bucket occupancy >= 2 — never crosses an exchange: the
    # verify dot and the top-20 heap (TakeOrderedAndProject) run
    # inside the join stage. The r11-interim plan attached vectors to
    # pairs by id, which shuffled the 55M-pair stream TWICE at 256x —
    # measured as the dominant cost (340 s of 378 s).
    side, n_bands = _srp_mod.srp_spark_side(emb, carry_embedding=True)
    withn = side.select(
        "vec_id",
        "ks",
        "embedding",
        F.greatest(l2_norm(F.col("embedding")), F.lit(1e-12)).alias("nrm"),
    )
    expl = withn.select(
        "vec_id",
        "ks",
        "embedding",
        "nrm",
        F.posexplode("ks").alias("b", "key"),
    )
    a = expl.select(
        F.col("vec_id").alias("vec_a"),
        F.col("ks").alias("ks_a"),
        F.col("embedding").alias("v_a"),
        F.col("nrm").alias("n_a"),
        "b",
        "key",
    )
    b = expl.select(
        F.col("vec_id").alias("vec_b"),
        F.col("ks").alias("ks_b"),
        F.col("embedding").alias("v_b"),
        F.col("nrm").alias("n_b"),
        "b",
        "key",
    )
    # First-colliding-band ownership as a codegen'd OR chain over the
    # (n_bands - 1) earlier positions, not an interpreted
    # slice/zip_with/exists HOF — this predicate runs on every joined
    # band-bucket row, the widest row stream in the plan.
    earlier_hit = F.lit(False)
    for i in range(n_bands - 1):
        earlier_hit = earlier_hit | (
            (F.col("b") > i)
            & (F.element_at("ks_a", i + 1) == F.element_at("ks_b", i + 1))
        )
    # Codegen'd multiply-add chain over the candidate pairs (the same
    # left-assoc order as the HOF fold and the oracle's list_sum),
    # widening the raw float32 values to double in-expression
    # (float->double is exact, so this is bit-identical to casting
    # before the join); interpreted lambdas were the verify stage's
    # dominant MATH cost at ladder scale before the exchange
    # restructure above removed its dominant SHUFFLE cost.
    pair_dot = F.element_at("v_a", 1).cast("double") * F.element_at(
        "v_b", 1
    ).cast("double")
    for i in range(2, _srp_mod._SRP_DIM + 1):
        pair_dot = pair_dot + F.element_at("v_a", i).cast(
            "double"
        ) * F.element_at("v_b", i).cast("double")
    return (
        a.join(b, ["b", "key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(~earlier_hit)
        .select(
            "vec_a",
            "vec_b",
            F.round(pair_dot / (F.col("n_a") * F.col("n_b")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(20)
    )


def _srp_multiprobe_oracle() -> str:
    return f"""
        WITH {_srp_ctes()},
        {_srp_multiprobe_body()}
        SELECT vec_id, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@query("sim_search_srp_multiprobe", oracle=_srp_multiprobe_oracle())
def q_sim_search_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH similarity search (Lv et al. VLDB'07
    applied to Charikar hyperplane sketches): top-10 neighbors of the
    vec_id=0 query, where candidates are vectors whose sign-bit band
    key matches the query's on some band within Hamming distance 1 —
    exact bucket hit plus every 1-bit "perturbed probe" of it, the
    standard trick that buys LSH recall without more tables. Exact
    cosine rescores candidates only; same output shape as the
    brute-force `sim_search_topk` and the quantizer-based
    `ann_ivf_search`, completing the family: brute force / trained
    IVF / training-free multiprobe LSH.

    This formulation tests band keys row-wise against one broadcast
    query-key row (4 integer XOR+popcounts per row — ~8x cheaper
    than the 64-mult cosine it replaces for non-candidates, and
    oracle-exact). In the indexed 100 TB deployment the same math is
    an equi-join of the (bands x 9) probe keys against the banded
    key index — candidates ∝ bucket occupancy x probe count, the
    scan never rescores. Bits/planes are the shared
    `dedup_embedding_srp` module constants; same 6dp-rounded-dot
    sign rule, same 4dp/id-tiebreak determinism."""
    emb = load_table(spark, sf_dir, "embeddings")
    keysdf, n_bands = _srp_mod.srp_spark_side(emb)
    qkeys = keysdf.filter(F.col("vec_id") == 0).select(
        F.col("ks").alias("qks")
    )
    probe_hit = None
    for b in range(n_bands):
        hit = (
            F.bit_count(
                F.element_at("ks", b + 1).bitwiseXOR(
                    F.element_at("qks", b + 1)
                )
            )
            <= 1
        )
        probe_hit = hit if probe_hit is None else (probe_hit | hit)
    cand = (
        keysdf.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qkeys))
        .filter(probe_hit)
        .select("vec_id")
    )
    # Exact-cosine rescore on the bounded candidate set only: vectors
    # re-attach from the scan by id (the keys frame stays slim).
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    pair_dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _nrm(c):
        return F.greatest(
            F.sqrt(
                F.aggregate(
                    F.transform(c, lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            F.lit(1e-12),
        )

    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                pair_dot / (_nrm(F.col("v")) * _nrm(F.col("qv"))), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )
