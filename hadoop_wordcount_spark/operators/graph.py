"""Graph analytics over corpus-derived graphs: PageRank on the word
transition (bigram) graph.

Absent from the reference (no joins at all, let alone iteration);
complements `dedup_clusters` (the engine's other iterative operator)
with the weighted-propagation family: PageRank-style scoring is how
link/citation/co-occurrence importance is computed over corpus-scale
graphs.

The iteration count is FIXED (unrolled into the plan), which makes
the whole computation one declarative DAG — and therefore exactly
reproducible by a chained-CTE DuckDB oracle, giving a full hash-check
on an 'iterative' algorithm without recursion in either engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_wordcount_spark.operators.wordcount import tokens_col
from hadoop_wordcount_spark.registry import query
from hadoop_wordcount_spark.sources.tables import load_table
from hadoop_wordcount_spark.stages import materialize

_DAMP = 0.85
_ITERS = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _oracle_pagerank() -> str:
    """Chained-CTE DuckDB twin: r0 uniform, then _ITERS unrolled
    propagation steps (same damping, same dangling-mass convention)."""
    iters = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        iters.append(
            f"""
        c{i} AS (
            SELECT en.dst AS word, sum({prev}.r * en.w) AS inflow
            FROM en JOIN {prev} ON en.src = {prev}.word GROUP BY en.dst),
        r{i} AS (
            SELECT n.word,
                   CAST({1 - _DAMP} AS DOUBLE) / nn.n
                   + CAST({_DAMP} AS DOUBLE) * coalesce(c{i}.inflow, 0) AS r
            FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON n.word = c{i}.word)"""
        )
        prev = f"r{i}"
    return f"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bi AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        edges AS (
            SELECT string_split(p, ' ')[1] AS src,
                   string_split(p, ' ')[2] AS dst,
                   count(*) AS cnt
            FROM bi GROUP BY 1, 2),
        outw AS (SELECT src, sum(cnt) AS ow FROM edges GROUP BY src),
        en AS (
            SELECT e.src, e.dst, e.cnt * CAST(1 AS DOUBLE) / o.ow AS w
            FROM edges e JOIN outw o USING (src)),
        nodes AS (SELECT DISTINCT unnest(tk) AS word FROM tok),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (SELECT word, CAST(1 AS DOUBLE) / nn.n AS r
               FROM nodes CROSS JOIN nn),{",".join(iters)}
        SELECT word, round(r, 4) AS pagerank FROM {prev}
    """


@query("pagerank_bigram", oracle=_oracle_pagerank())
def q_pagerank_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the word-transition graph: nodes are tokens,
    edge (src, dst) weighted by bigram count normalized per source
    (a random-surfer Markov chain over the corpus's word order);
    damping 0.85, uniform init, {_ITERS} fixed iterations unrolled
    into ONE declarative plan. Dangling nodes (words never followed
    by anything) leak their mass — the standard simplification, and
    the oracle applies the identical convention, so the check is
    exact to 4 decimals (coarse enough that order-dependent double
    partial-sum ulp noise cannot flip a rounding boundary — the same
    granularity convention as the other double aggregates).

    Scale shape: the edge list aggregates once (vocabulary² bound,
    heavily skew-concentrated in practice — head-word skew is the
    `salted_aggregation` pattern); each iteration is one
    edges-to-ranks equi-join + one groupBy(dst) — O(edges) shuffle
    per iteration, the textbook distributed PageRank step. Normalized
    edges and the node set are eagerly checkpointed (the unrolled plan
    references them every iteration, and the checkpoint keeps the
    corpus lineage out of the per-round plans); the vocabulary-sized
    rank/contribution tables broadcast, so the edge stream never
    re-sorts. At web scale you'd loop with `materialize` like
    `dedup_clusters` instead of unrolling — both patterns are in this
    engine."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    bi = tok.filter(F.size("tk") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.concat(
                    F.element_at("tk", i), F.lit(" "), F.element_at("tk", i + 1)
                ),
            )
        ).alias("p")
    )
    sp = F.split("p", " ")
    edges = (
        bi.select(sp.getItem(0).alias("src"), sp.getItem(1).alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    outw = edges.groupBy("src").agg(F.sum("cnt").alias("ow"))
    # Materialized (r13): the unrolled iterations reference these
    # tables every round, and on a local master the checkpoint also
    # cuts the corpus-sized lineage out of the final plan (745 -> ~250
    # lines), so per-round planning touches edge/vocab tables only.
    # materialize is eager: merely building the plan runs the edge
    # aggregate.
    en = materialize(
        edges.join(outw, "src")
        .select("src", "dst", (F.col("cnt").cast("double") / F.col("ow")).alias("w"))
    )
    nodes = materialize(
        tok.select(F.explode("tk").alias("word"))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "word", "n", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_ITERS):
        # Broadcast the vocabulary-sized rank/contribution tables so
        # the edge stream never sorts or reshuffles per round (guide
        # §3.1: SortMergeJoin -> BroadcastHashJoin; the edge table is
        # the fact side here). Ranks stay unrounded doubles through
        # every round — identical arithmetic, different join strategy.
        # Vocab ceiling (r13 advice): the unconditional hint holds a
        # |vocab|-row build relation on the driver and every executor
        # with no SMJ fallback — safe through ~10^8 rank rows (the
        # 8 GB / 512M-row broadcast cap), i.e. any natural-language
        # vocabulary; switch to an SMJ (drop the hint) only if the
        # node set ever becomes data-scaled (the ivf_assignments
        # K-ceiling discipline).
        contrib = (
            en.join(
                F.broadcast(ranks.select(F.col("word").alias("src"), "r")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w")).alias("inflow"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(F.broadcast(contrib), nodes.word == contrib.dst, "left")
            .select(
                "word",
                "n",
                (
                    F.lit(1 - _DAMP) / F.col("n")
                    + F.lit(_DAMP) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("word", F.round("r", 4).alias("pagerank"))


_TRI_EDGE_CUT = 200


@query(
    "bigram_triangle_count",
    oracle=f"""
        WITH toks AS (
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
            ORDER BY c DESC, w1, w2 LIMIT {_TRI_EDGE_CUT}),
        ue AS (
            SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
            FROM bg WHERE w1 <> w2),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM ue e1
            JOIN ue e2 ON e2.a = e1.b
            JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
        pernode AS (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM pernode GROUP BY node
    """,
)
def q_bigram_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the word-transition graph — the
    clustering-coefficient numerator of graph analytics, run on the
    same tie-safe top-200 bigram edge cut as `sql_recursive_cte`.
    Edges are canonicalized undirected (least/greatest, self-loops
    dropped); a triangle x<y<z is found once via the ordered
    two-hop + closing-edge join and credited to all three corners.

    Plan: the corpus-sized stage is the one bigram aggregate; the
    edge cut is a 200-row TakeOrdered, so both triangle joins run on
    a broadcast-sized table. At 100 TB the general pattern holds
    with the ordered-edge join (each edge joined only a->b with
    a < b), which bounds the intermediate to sum-of-degrees(a) —
    the standard distributed triangle enumeration; an unbounded edge
    set would instead shuffle-partition on the join key, same
    shape. Absent from the reference (no joins — SURVEY.md §2.3)."""
    d = _docs(spark, sf_dir)
    tok = d.select(tokens_col(F.col("text")).alias("tk")).filter(F.size("tk") >= 2)
    bi = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at("tk", i).alias("w1"),
                    F.element_at("tk", i + 1).alias("w2"),
                ),
            )
        ).alias("e")
    ).select("e.w1", "e.w2")
    bg = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(_TRI_EDGE_CUT)
    )
    # r13: the 200-row canonical edge set feeds three join sides and
    # the triangle table three union branches — without
    # materialization the corpus-sized bigram aggregate appeared ~9x
    # in the plan (840 lines).
    ue = materialize(
        bg.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
    )
    e1 = ue.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = ue.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = ue.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("y") == F.col("y2"))
        .join(
            F.broadcast(e3),
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .select("x", "y", "z")
    )
    pernode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return pernode.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


_LP_ROUNDS = 2
_LP_EDGE_CTES = f"""
        toks AS (
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
            ORDER BY c DESC, w1, w2 LIMIT {_TRI_EDGE_CUT}),
        ue AS (
            SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
            FROM bg WHERE w1 <> w2),
        nbr AS (
            SELECT a AS v, b AS u FROM ue
            UNION ALL
            SELECT b AS v, a AS u FROM ue)
"""


def _oracle_label_propagation() -> str:
    sql = f"WITH {_LP_EDGE_CTES},\n        l0 AS (SELECT DISTINCT v, v AS lbl FROM nbr)"
    prev = "l0"
    for i in range(1, _LP_ROUNDS + 1):
        sql += f""",
        l{i} AS (
            SELECT v, lbl FROM (
                SELECT n.v, p.lbl,
                       row_number() OVER (
                           PARTITION BY n.v
                           ORDER BY count(*) DESC, p.lbl) AS rn
                FROM nbr n JOIN {prev} p ON p.v = n.u
                GROUP BY n.v, p.lbl) WHERE rn = 1)"""
        prev = f"l{i}"
    sql += f"""
        SELECT lbl AS community, count(*) AS n_members,
               min(v) AS min_member
        FROM {prev} GROUP BY lbl"""
    return sql


@query("label_propagation_communities", oracle=_oracle_label_propagation())
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the word-transition graph —
    community detection, the third graph algorithm after PageRank and
    triangle counting, on the same tie-safe top-200 bigram edge cut.

    Every node starts as its own label; each round it adopts the
    most-frequent label among its neighbors, ties broken by the
    lexicographically smallest label — the deterministic variant of
    Raghavan et al.'s LPA (random tie-breaks don't cross engines).
    Two unrolled synchronous rounds (the `pagerank_bigram`
    fixed-iteration discipline), then communities report (label,
    size, smallest member).

    Plan: the corpus-sized stage is the one bigram aggregate; each
    round is a neighbor join + per-node argmax on the 200-edge
    broadcast-sized cut. At the general scale the same rounds run as
    shuffle joins on v — per-round cost tracks edges, and the
    fixed-round unroll keeps the DAG static (materialize per
    round once edges outgrow memory, as dedup_clusters does)."""
    d = _docs(spark, sf_dir)
    tok = d.select(tokens_col(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    bi = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at("tk", i).alias("w1"),
                    F.element_at("tk", i + 1).alias("w2"),
                ),
            )
        ).alias("e")
    ).select("e.w1", "e.w2")
    bg = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(_TRI_EDGE_CUT)
    )
    ue = (
        bg.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
    )
    nbr = ue.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        ue.select(F.col("b").alias("v"), F.col("a").alias("u"))
    ).cache()
    from pyspark.sql.window import Window as W

    labels = nbr.select("v").distinct().select("v", F.col("v").alias("lbl"))
    for _ in range(_LP_ROUNDS):
        votes = (
            nbr.join(
                labels.select(F.col("v").alias("u"), "lbl"), "u"
            )
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            votes.select(
                "v",
                "lbl",
                F.row_number()
                .over(W.partitionBy("v").orderBy(F.desc("n"), F.asc("lbl")))
                .alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("v").alias("min_member"),
    )


_KHOP_SEED = "spark"
_KHOP_LEVELS = 3


def _oracle_khop() -> str:
    levels = []
    prev_reach = "l0"
    prev_frontier = "l0"
    for i in range(1, _KHOP_LEVELS + 1):
        levels.append(
            f"""
        f{i} AS (
            SELECT DISTINCT e.dst AS word
            FROM edges e JOIN {prev_frontier} ON e.src = {prev_frontier}.word
            WHERE e.dst NOT IN (SELECT word FROM {prev_reach})),
        l{i} AS (
            SELECT word FROM {prev_reach}
            UNION SELECT word FROM f{i})"""
        )
        prev_frontier = f"f{i}"
        prev_reach = f"l{i}"
    unions = " UNION ALL ".join(
        f"SELECT {i} AS hop, CAST(count(*) AS BIGINT) AS n_new FROM f{i}"
        for i in range(1, _KHOP_LEVELS + 1)
    )
    return f"""
        WITH tok AS (
            SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bi AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        edges AS (
            SELECT DISTINCT string_split(p, ' ')[1] AS src,
                            string_split(p, ' ')[2] AS dst
            FROM bi),
        l0 AS (SELECT '{_KHOP_SEED}' AS word),{",".join(levels)}
        {unions}
    """


@query("bigram_khop_reach", oracle=_oracle_khop())
def q_bigram_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS reachability over the word-transition graph — how
    many NEW words become reachable from a seed term at each hop.
    The frontier-expansion join is THE building block of distributed
    graph traversal (connected components, shortest paths, taint/
    influence propagation); `pagerank_bigram` iterates weighted
    propagation over all nodes, this iterates the frontier from one.

    Fixed hop count ({_KHOP_LEVELS}) unrolls BFS into one declarative
    DAG — the same no-recursion trick as `pagerank_bigram`'s
    chained-CTE oracle, so an 'iterative' traversal hash-checks
    exactly (set semantics, integer counts; no FP anywhere).

    Plan per hop: frontier JOIN edges on src (the frontier is
    broadcast-sized here; at scale it's a hash join keyed on src),
    then LEFT ANTI against the reached set for dedup — Spark's
    standard BFS step. Edges build once from one bigram agg and are
    reused by every hop. At 100 TB the reached set is the growing
    side: production BFS checkpoints it per hop (`dedup_clusters`'
    materialize pattern) — noted, not needed for a fixed 3-hop
    DAG."""
    d = _docs(spark, sf_dir)
    tk = tokens_col(F.col("text"))
    bi = d.select(tk.alias("tk")).filter(F.size("tk") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - 2),
                lambda i: F.struct(
                    F.element_at("tk", i + 1).alias("src"),
                    F.element_at("tk", i + 2).alias("dst"),
                ),
            )
        ).alias("e")
    )
    # r13: materialize the edge set once and each hop's frontier —
    # the lazy unroll re-planned the corpus-sized distinct per hop and
    # doubled the reached-set lineage every level (the per-hop
    # checkpoint the docstring below already prescribes at scale).
    edges = materialize(bi.select("e.src", "e.dst").distinct())
    reached = spark.createDataFrame([(_KHOP_SEED,)], ["word"])
    frontier = reached
    out = []
    for hop in range(1, _KHOP_LEVELS + 1):
        nxt = materialize(
            edges.join(
                F.broadcast(frontier.withColumnRenamed("word", "src")),
                "src",
            )
            .select(F.col("dst").alias("word"))
            .distinct()
            .join(reached, "word", "left_anti")
        )
        out.append(
            nxt.agg(
                F.lit(hop).alias("hop"),
                F.count(F.lit(1)).cast("long").alias("n_new"),
            )
        )
        reached = reached.unionByName(nxt)
        frontier = nxt
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def _oracle_hits() -> str:
    return """
        WITH tok AS (
            SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
            FROM documents),
        bi AS (
            SELECT unnest(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS p
            FROM tok WHERE len(tk) >= 2),
        edges AS (
            SELECT DISTINCT string_split(p, ' ')[1] AS src,
                   string_split(p, ' ')[2] AS dst
            FROM bi),
        a1 AS (SELECT dst AS word, CAST(count(*) AS BIGINT) AS s
               FROM edges GROUP BY dst),
        h1 AS (SELECT e.src AS word, CAST(sum(a1.s) AS BIGINT) AS s
               FROM edges e JOIN a1 ON e.dst = a1.word GROUP BY e.src),
        a2 AS (SELECT e.dst AS word, CAST(sum(h1.s) AS BIGINT) AS s
               FROM edges e JOIN h1 ON e.src = h1.word GROUP BY e.dst),
        h2 AS (SELECT e.src AS word, CAST(sum(a2.s) AS BIGINT) AS s
               FROM edges e JOIN a2 ON e.dst = a2.word GROUP BY e.src),
        top_a AS (
            SELECT 'authority' AS role, a2.word, a2.s AS score,
                   a1.s AS score_l1
            FROM a2 JOIN a1 USING (word)
            ORDER BY a2.s DESC, a2.word LIMIT 10),
        top_h AS (
            SELECT 'hub' AS role, h2.word, h2.s AS score, h1.s AS score_l1
            FROM h2 JOIN h1 USING (word)
            ORDER BY h2.s DESC, h2.word LIMIT 10)
        SELECT * FROM top_a UNION ALL SELECT * FROM top_h
    """


@query("hits_hubs_authorities", oracle=_oracle_hits())
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the distinct
    word-transition graph: two full unrolled iterations
    a = A^T h, h = A a from h0 = 1 — the mutual-reinforcement
    ranking PageRank's single random walk can't express (a good HUB
    points at good authorities; a good AUTHORITY is pointed at by
    good hubs — in the bigram graph: words that precede many
    important words vs words many important words lead into). Top-10
    of each role, with the level-1 score (in/out degree-weighted)
    beside the level-2 score so the iteration's effect is visible.

    Determinism: the scores are UNNORMALIZED — the per-iteration L2
    normalization the textbook applies only rescales the ranking, so
    dropping it makes every score an exact INTEGER (sums of sums of
    degrees); no double arithmetic exists anywhere in this query —
    the strongest possible cross-engine contract for an iterative
    algorithm (c.f. `pagerank_bigram`'s 4dp-rounded doubles).
    Overflow headroom: score <= n_edges * max_indeg * max_outdeg,
    ~1e13 for this corpus family — far inside long range; at true
    web scale you'd rescale per iteration (and accept rounding).

    Plan: the distinct edge aggregate once, then each half-iteration
    is one edges-to-scores equi-join + one map-side-combined groupBy
    — O(edges) shuffle per half-step, the textbook distributed HITS
    step, same shape as `pagerank_bigram`; the final top-10 cuts are
    TakeOrderedAndProject; the level-1 attach is a broadcast join
    onto 10-row cuts."""
    d = _docs(spark, sf_dir)
    tok = d.select(tokens_col(F.col("text")).alias("tk"))
    bi = tok.filter(F.size("tk") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.concat(
                    F.element_at("tk", i), F.lit(" "), F.element_at("tk", i + 1)
                ),
            )
        ).alias("p")
    )
    sp = F.split("p", " ")
    # r13: eager checkpoint (not cache) cuts the corpus lineage out of
    # the four chained half-steps' plans; broadcasting the
    # vocabulary-sized score side of every half-step keeps the edge
    # table in place (guide §3.1) — scores are exact integer sums, so
    # join strategy cannot perturb a single bit.
    edges = materialize(
        bi.select(sp.getItem(0).alias("src"), sp.getItem(1).alias("dst"))
        .distinct()
    )
    a1 = edges.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("s"))
    h1 = (
        edges.join(
            F.broadcast(a1.withColumnRenamed("dst", "w")),
            F.col("dst") == F.col("w"),
        )
        .groupBy("src")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    a2 = (
        edges.join(
            F.broadcast(
                h1.withColumnRenamed("src", "w").withColumnRenamed("s", "hs")
            ),
            F.col("src") == F.col("w"),
        )
        .groupBy("dst")
        .agg(F.sum("hs").cast("long").alias("s"))
    )
    h2 = (
        edges.join(
            F.broadcast(
                a2.withColumnRenamed("dst", "w").withColumnRenamed("s", "as_")
            ),
            F.col("dst") == F.col("w"),
        )
        .groupBy("src")
        .agg(F.sum("as_").cast("long").alias("s"))
    )
    top_a = (
        a2.orderBy(F.desc("s"), F.asc("dst"))
        .limit(10)
        .join(
            F.broadcast(a1.withColumnRenamed("s", "s1")),
            "dst",
        )
        .select(
            F.lit("authority").alias("role"),
            F.col("dst").alias("word"),
            F.col("s").alias("score"),
            F.col("s1").alias("score_l1"),
        )
    )
    top_h = (
        h2.orderBy(F.desc("s"), F.asc("src"))
        .limit(10)
        .join(
            F.broadcast(h1.withColumnRenamed("s", "s1")),
            "src",
        )
        .select(
            F.lit("hub").alias("role"),
            F.col("src").alias("word"),
            F.col("s").alias("score"),
            F.col("s1").alias("score_l1"),
        )
    )
    return top_a.unionByName(top_h)
