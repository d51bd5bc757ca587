"""Round-10 pins: each round-10 query checked against a direct
computation, a pure-Python model or its own accounting identities."""

from __future__ import annotations

import bisect

from hadoop_wordcount_spark import registry
from tests.conftest import SF_SMALL

registry.load_all()


def test_srp_pairs_unique_and_scores_exact(spark):
    """First-colliding-band ownership must emit every candidate pair
    exactly once (no pair-level distinct anywhere in the plan), and
    the reported cosine must agree with direct computation."""
    import math

    from pyspark.sql import functions as F

    from hadoop_wordcount_spark.sources.tables import load_table

    rows = registry.QUERIES["dedup_embedding_srp"](
        spark, SF_SMALL
    ).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)
    if not rows:
        return
    top = rows[0]
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF_SMALL, "embeddings")
        .filter(F.col("vec_id").isin([top["vec_a"], top["vec_b"]]))
        .collect()
    }
    va, vb = emb[top["vec_a"]], emb[top["vec_b"]]
    dot = sum(float(x) * float(y) for x, y in zip(va, vb))
    na = math.sqrt(sum(float(x) ** 2 for x in va))
    nb = math.sqrt(sum(float(x) ** 2 for x in vb))
    assert abs(top["cos_sim"] - round(dot / (na * nb), 4)) <= 1e-3


def test_new_round10_queries_no_cartesian(spark, sf_dir):
    from tests.test_plan_quality import assert_not_in_plan

    for name in ("dedup_embedding_srp", "rake_keywords",
                 "ranker_agreement_topk", "label_margin_audit"):
        df = registry.QUERIES[name](spark, sf_dir)
        assert_not_in_plan(df, "CartesianProduct")


def test_referential_integrity_audit_clean_and_complete(spark):
    """Testdata's star schema is referentially intact — every edge
    must report zero orphans — and the audit must cover every FK
    edge exactly once, with a plan free of cartesian products."""
    df = registry.QUERIES["referential_integrity_audit"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = {r["fk_edge"]: r for r in df.collect()}
    assert len(rows) == 7
    for edge, r in rows.items():
        assert r["orphan_rows"] == 0, edge
        assert r["orphan_rate"] == 0.0, edge
        assert r["child_rows"] > 0, edge


def test_neyman_allocation_sums_to_budget(spark):
    """Hamilton's method invariant: allocations sum EXACTLY to the
    budget, every stratum appears once, base <= alloc <= base + 1."""
    rows = registry.QUERIES["neyman_allocation"](spark, SF_SMALL).collect()
    assert sum(r["alloc"] for r in rows) == 100
    assert len({r["source"] for r in rows}) == len(rows)
    for r in rows:
        assert r["base_alloc"] <= r["alloc"] <= r["base_alloc"] + 1
        assert r["sd_chars"] > 0


def test_events_autocorrelation_series_identities(spark):
    """24 lags, pair counts shrink by exactly one grid row per lag,
    and every sample-ACF value is bounded."""
    rows = sorted(
        registry.QUERIES["events_autocorrelation"](spark, SF_SMALL).collect(),
        key=lambda r: r["lag"],
    )
    assert [r["lag"] for r in rows] == list(range(1, 25))
    n_grid = rows[0]["n_pairs"] + 1
    for r in rows:
        assert r["n_pairs"] == n_grid - r["lag"]
        assert abs(r["acf"]) <= 1.0
    # hourly event arrivals in testdata are near-uniform Poisson —
    # low-lag autocorrelation should be weak, not structural
    assert abs(rows[0]["acf"]) < 0.5


def test_heaps_law_fit_checkpoints(spark):
    """10 checkpoints; vocabulary growth exponent is a proper power
    law reading: 0 <= beta <= 1 (0 = closed vocab, 1 = all-new)."""
    r = registry.QUERIES["heaps_law_fit"](spark, SF_SMALL).collect()
    assert len(r) == 1
    assert r[0]["n_points"] == 10
    assert 0.0 <= r[0]["heaps_beta"] <= 1.0


def test_ddsketch_relative_error_bound(spark):
    """DDSketch guarantee: the estimate's relative error vs the exact
    rank-target order statistic is at most alpha = (gamma-1)/(gamma+1)
    (~0.99% at gamma=1.02) at every probed quantile."""
    from hadoop_wordcount_spark.sources.tables import load_table

    rows = registry.QUERIES["ddsketch_quantiles"](spark, SF_SMALL).collect()
    vals = sorted(
        r["value"]
        for r in load_table(spark, SF_SMALL, "events").select("value").collect()
    )
    alpha = 0.02 / 2.02
    assert [r["pct"] for r in rows] == [50, 95, 99]
    for r in rows:
        exact = vals[r["rank_target"] - 1]
        assert abs(r["est"] - exact) / exact <= alpha, (r["pct"], r["est"], exact)


def test_l_diversity_accounting(spark):
    """Every event lands in exactly one equivalence class; entropy
    l-diversity never exceeds the distinct-sensitive count l (exp(H)
    <= l, equality iff the class mix is uniform)."""
    from hadoop_wordcount_spark.sources.tables import load_table

    rows = registry.QUERIES["l_diversity_audit"](spark, SF_SMALL).collect()
    total = load_table(spark, SF_SMALL, "events").count()
    assert sum(r["n_records"] for r in rows) == total
    for r in rows:
        assert 1 <= r["l"] <= 5
        assert r["max_entropy_l"] <= r["l"] + 1e-6
        assert 1.0 - 1e-6 <= r["min_entropy_l"] <= r["max_entropy_l"] + 1e-9


def test_auc_matches_pairwise_bruteforce(spark):
    """The rank-sum AUC must equal the O(P*N) pairwise definition
    P(pos > neg) + 0.5 * P(pos == neg), computed directly at sf0.001."""
    from hadoop_wordcount_spark.sources.tables import load_table

    r = registry.QUERIES["auc_mann_whitney"](spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("event_type", "value").collect()
    pos = sorted(e["value"] for e in ev if e["event_type"] == "purchase")
    neg = sorted(e["value"] for e in ev if e["event_type"] != "purchase")
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    import bisect

    wins = sum(bisect.bisect_left(neg, p) for p in pos)
    ties = sum(
        bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p) for p in pos
    )
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(r["auc"] - round(auc, 6)) < 1e-9


def test_streaming_ddsketch_equals_batch_sketch(spark):
    """One availableNow pass must settle the streamed bucket census
    to exactly the batch census — so the streamed quantile report
    equals `ddsketch_quantiles` row for row."""
    batch = {
        r["pct"]: r
        for r in registry.QUERIES["ddsketch_quantiles"](spark, SF_SMALL).collect()
    }
    stream = {
        r["pct"]: r
        for r in registry.QUERIES["streaming_ddsketch_quantiles"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(batch) == set(stream) == {50, 95, 99}
    for pct in batch:
        assert batch[pct].asDict() == stream[pct].asDict()


def test_hits_matches_pure_python_iteration(spark):
    """Unnormalized integer HITS on sf0.001 recomputed in pure
    Python from the distinct bigram edge set must reproduce the
    distributed top-10s exactly (scores are integers — no tolerance)."""
    from collections import defaultdict

    from hadoop_wordcount_spark.operators.wordcount import tokens_col
    from hadoop_wordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select(tokens_col(F.col("text")).alias("tk"))
        .collect()
    )
    edges = set()
    for r in docs:
        tk = r["tk"]
        for i in range(len(tk) - 1):
            edges.add((tk[i], tk[i + 1]))
    a = defaultdict(int)
    for _, v in edges:
        a[v] += 1
    h = defaultdict(int)
    for u, v in edges:
        h[u] += a[v]
    a2 = defaultdict(int)
    for u, v in edges:
        a2[v] += h[u]
    h2 = defaultdict(int)
    for u, v in edges:
        h2[u] += a2[v]
    top_a = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    top_h = sorted(h2.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = registry.QUERIES["hits_hubs_authorities"](spark, SF_SMALL).collect()
    got_a = [(r["word"], r["score"]) for r in rows if r["role"] == "authority"]
    got_h = [(r["word"], r["score"]) for r in rows if r["role"] == "hub"]
    assert sorted(got_a, key=lambda kv: (-kv[1], kv[0])) == top_a
    assert sorted(got_h, key=lambda kv: (-kv[1], kv[0])) == top_h


def test_seasonality_profile_accounting(spark):
    """Every event lands in exactly one (dow, hod) cell; shares sum
    to 1; the load index averages 1 over a full 168-cell grid."""
    from hadoop_wordcount_spark.sources.tables import load_table

    rows = registry.QUERIES["events_seasonality_profile"](spark, SF_SMALL).collect()
    total = load_table(spark, SF_SMALL, "events").count()
    assert sum(r["n"] for r in rows) == total
    assert abs(sum(r["pct_of_total"] for r in rows) - 1.0) < 1e-3
    assert len(rows) <= 168
    assert all(r["top_type"] for r in rows)
    assert all(0 <= r["dow"] <= 6 and 0 <= r["hod"] <= 23 for r in rows)


def test_psi_self_comparison_is_near_zero(spark):
    """Identity check: the two halves of a stationary synthetic feed
    must read near-zero total PSI (well under the 0.1 'stable' bar),
    and bin populations must account for every event."""
    from hadoop_wordcount_spark.sources.tables import load_table

    rows = registry.QUERIES["psi_feature_drift"](spark, SF_SMALL).collect()
    total = load_table(spark, SF_SMALL, "events").count()
    assert sum(r["n_ref"] + r["n_cur"] for r in rows) == total
    psi = sum(r["psi_contrib"] for r in rows)
    assert psi < 0.1, psi
    # reference deciles => reference bins are near-uniform
    n_ref = sum(r["n_ref"] for r in rows)
    for r in rows:
        assert abs(r["n_ref"] - n_ref / 10) <= n_ref * 0.02 + 2


def test_naive_bayes_beats_chance_and_accounts(spark):
    """Confusion matrix covers every held-out doc with tokens;
    accuracy above the majority-class baseline (the honest bar for
    this corpus's near-shared vocabulary — see the op docstring)."""
    from hadoop_wordcount_spark.operators.wordcount import tokens_col
    from hadoop_wordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = registry.QUERIES["naive_bayes_langid"](spark, SF_SMALL).collect()
    d = load_table(spark, SF_SMALL, "documents")
    n_eval = d.filter(
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) > "cc")
        & (F.size(tokens_col(F.col("text"))) >= 1)
    ).count()
    assert sum(r["n"] for r in rows) == n_eval
    acc = sum(r["n"] for r in rows if r["actual_lang"] == r["predicted_lang"]) / n_eval
    # the synthetic langs share one vocabulary (see docstring): pin
    # weak learnability — NB must beat always-predict-majority
    from collections import Counter

    maj = Counter()
    for r in rows:
        maj[r["actual_lang"]] += r["n"]
    assert acc > max(maj.values()) / n_eval, acc


def test_weighted_reservoir_matches_python(spark):
    """A-Res keys recomputed in pure Python from the md5 uniform must
    reproduce the exact top-20 (ids and order-defining keys)."""
    import hashlib
    import math

    from hadoop_wordcount_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    keys = []
    for r in docs:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        keys.append((math.log(u) / max(r["n_chars"], 1), r["doc_id"]))
    expect = sorted(keys, key=lambda kv: (-kv[0], kv[1]))[:20]
    got = registry.QUERIES["weighted_reservoir_sample"](spark, SF_SMALL).collect()
    assert [g["doc_id"] for g in got] == [e[1] for e in expect]
    for g, e in zip(got, expect):
        assert g["lnkey_ppb"] == round(e[0] * 1e9, 4)


def test_conformal_coverage_near_nominal(spark):
    """Split-conformal guarantee: realized coverage on the held-out
    third sits near the 90% nominal level for every event type
    (finite-sample slack for ~65-row test cells at sf0.001)."""
    rows = registry.QUERIES["conformal_interval_coverage"](spark, SF_SMALL).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.75 <= r["coverage"] <= 1.0, (r["event_type"], r["coverage"])
        assert r["q90"] > 0


def test_theil_sen_matches_python(spark):
    """Median-of-pairwise-slopes recomputed in pure Python from the
    daily counts must match exactly (slope AND intercept)."""
    from collections import Counter

    from hadoop_wordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    days = Counter(
        r["day"]
        for r in load_table(spark, SF_SMALL, "events")
        .select(F.expr("ts_ns div 86400000000000").alias("day"))
        .collect()
    )
    m0 = min(days)
    s = sorted((d - m0, c) for d, c in days.items())

    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        h = 0.5 * (n - 1)
        lo, frac = int(h), h - int(h)
        return xs[lo] + frac * (xs[min(lo + 1, n - 1)] - xs[lo])

    slopes = [
        (xb - xa) / (tb - ta) for i, (ta, xa) in enumerate(s)
        for tb, xb in s[i + 1:]
    ]
    slope = round(med(slopes), 6)
    intercept = round(med([x - slope * t for t, x in s]), 6)
    r = registry.QUERIES["theil_sen_trend"](spark, SF_SMALL).collect()[0]
    assert r["n_days"] == len(s) and r["n_pairs"] == len(slopes)
    assert r["slope"] == slope and r["intercept"] == intercept


def test_jdbc_read_pushes_filter_down(spark):
    """The V2 JDBC scan must carry the predicate in PushedFilters —
    the database filters, not the cluster."""
    df = registry.QUERIES["jdbc_pushdown_read"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "n_regionkey >= 2" in plan or "N_REGIONKEY >= 2" in plan


def test_linear_interpolate_geometry(spark):
    """Observed rows reproduce the direct bucket means; every
    interpolated value lies strictly between (or at) its neighbor
    values; edge rows carry null and exist only where a type's grid
    has no earlier/later observation (never interior)."""
    rows = registry.QUERIES["events_linear_interpolate"](spark, SF_SMALL).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for tp, rs in by_type.items():
        rs.sort(key=lambda r: r["bkt"])
        obs = [r for r in rs if r["kind"] == "observed"]
        assert obs, tp
        lo = min(r["bkt"] for r in obs)
        hi = max(r["bkt"] for r in obs)
        for r in rs:
            if r["kind"] == "edge":
                assert r["value"] is None and not (lo <= r["bkt"] <= hi)
            else:
                assert r["value"] is not None
        vals = {r["bkt"]: r["value"] for r in rs if r["value"] is not None}
        # Observed buckets all carry a value (asserted above), so the
        # previous/next observed bucket is a bisect into one sorted list.
        obs_bkts = sorted({o["bkt"] for o in obs})
        for r in rs:
            if r["kind"] != "interpolated":
                continue
            i = bisect.bisect_left(obs_bkts, r["bkt"])
            j = bisect.bisect_right(obs_bkts, r["bkt"])
            assert 0 < i and j < len(obs_bkts), (tp, r["bkt"])
            pb, nb = obs_bkts[i - 1], obs_bkts[j]
            bounds = sorted([vals[pb], vals[nb]])
            assert bounds[0] - 1e-9 <= r["value"] <= bounds[1] + 1e-9


def test_delete_cascade_accounting(spark):
    """The forget-set counts match direct recomputation and shares
    are sane (the cascade can only shrink relative to each table)."""
    from hadoop_wordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = {
        r["tbl"]: r
        for r in registry.QUERIES["delete_cascade_audit"](spark, SF_SMALL).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem"}
    c = load_table(spark, SF_SMALL, "customer")
    n_fs = c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) == "00"
    ).count()
    assert rows["customer"]["n_delete"] == n_fs
    for r in rows.values():
        assert 0 <= r["n_delete"] <= r["n_table"]
        assert 0.0 <= r["pct_of_table"] <= 1.0


def test_f2_sketch_one_sided_and_tight(spark):
    """CMS F2 guarantee: the sketch estimate is >= exact (one-sided,
    collision cross terms only add), and the excess is bounded by
    the expected F1^2/w collision mass per row (x4 slack)."""
    rows = registry.QUERIES["f2_self_join_size_cms"](spark, SF_SMALL).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["cms_f2"] >= r["exact_f2"]
        bound = 4.0 * (r["n_rows"] ** 2) / 256
        assert r["overestimate"] <= bound, (r["fact_key"], r["overestimate"], bound)


def test_value_moments_match_numpy(spark):
    """Exact-integer-moment skewness/kurtosis must agree with a
    direct numpy recomputation on the raw cents."""
    import numpy as np

    from hadoop_wordcount_spark.sources.tables import load_table

    rows = {
        r["event_type"]: r
        for r in registry.QUERIES["value_moments_by_type"](spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events").select("event_type", "value").collect()
    for tp in rows:
        c = np.array(
            [round(e["value"] * 100) for e in ev if e["event_type"] == tp],
            dtype=np.float64,
        )
        mu, m2 = c.mean(), ((c - c.mean()) ** 2).mean()
        skew = ((c - mu) ** 3).mean() / m2**1.5
        kurt = ((c - mu) ** 4).mean() / m2**2 - 3
        r = rows[tp]
        assert abs(r["skewness"] - skew) < 1e-4, tp
        assert abs(r["kurtosis_excess"] - kurt) < 1e-4, tp
        assert abs(r["mean"] - mu / 100) < 1e-4


def test_nucleus_cut_is_minimal_cover(spark):
    """The reported set really is the smallest prefix covering 90%:
    its cumulative mass >= 0.9 * total, and one word fewer < 0.9."""
    from collections import Counter

    from hadoop_wordcount_spark.operators.wordcount import tokens_col
    from hadoop_wordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = {
        r["source"]: r
        for r in registry.QUERIES["nucleus_vocab_cut"](spark, SF_SMALL).collect()
    }
    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("source", tokens_col(F.col("text")).alias("tk"))
        .collect()
    )
    per = {}
    for d in docs:
        cnt = per.setdefault(d["source"], Counter())
        cnt.update(d["tk"])
    for src, cnt in per.items():
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        tot = sum(cnt.values())
        k = rows[src]["n_words_p90"]
        cum_k = sum(c for _, c in ranked[:k])
        assert cum_k * 10 >= tot * 9
        assert sum(c for _, c in ranked[: k - 1]) * 10 < tot * 9
        assert rows[src]["vocab_size"] == len(cnt)
