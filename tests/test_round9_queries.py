"""Round-9 coverage batch: property tests beyond the oracle parity
that `tests/test_oracle_parity.py` already applies to every
registered entry.

- dedup_edit_verify: edit similarity is 1.0 exactly for identical
  normalized prefixes and lives in [0, 1]; the threshold holds.
- minhash_estimator_calibration: the estimator is n_match/8 by
  construction and every bucket is within the signature range.
- k_anonymity_audit: the band census partitions the corpus (records
  sum to |events|, shares sum to 1).
- class_balance_weights: weights are positive and normalized to the
  class count; more populous classes never get a larger weight.
- dedup_embedding_pq: every reported pair shares an IVF cell (the PQ
  code key only ever refines the cell key).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL


def _q(name):
    from hadoop_wordcount_spark import registry

    registry.load_all()
    return registry.QUERIES[name]


def test_edit_verify_bounds_and_threshold(spark):
    rows = _q("dedup_edit_verify")(spark, SF_SMALL).collect()
    for r in rows:
        assert 0.5 <= r["edit_sim"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_edit_verify_identical_prefixes_score_one(spark):
    """Two docs with the same normalized 256-char prefix must score
    exactly 1.0 whenever they surface as banded candidates."""
    from hadoop_wordcount_spark.operators.dedup import (
        _EDIT_PREFIX,
        q_dedup_edit_verify,
    )
    from hadoop_wordcount_spark.operators.text_analysis import norm_text
    from hadoop_wordcount_spark.sources.tables import load_table

    out = {
        (r["doc_a"], r["doc_b"]): r["edit_sim"]
        for r in q_dedup_edit_verify(spark, SF_SMALL).collect()
    }
    d = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", F.substring(norm_text(F.col("text")), 1, _EDIT_PREFIX).alias("px")
    )
    px = {r["doc_id"]: r["px"] for r in d.collect()}
    for (a, b), sim in out.items():
        if px[a] == px[b]:
            assert sim == 1.0


def test_minhash_calibration_buckets(spark):
    rows = _q("minhash_estimator_calibration")(spark, SF_SMALL).collect()
    assert rows, "banded candidates exist at sf0.001"
    for r in rows:
        assert 0 <= r["n_match"] <= 8
        assert abs(r["est_jaccard"] - r["n_match"] / 8.0) < 1e-9
        assert 0.0 <= r["avg_exact_jaccard"] <= 1.0
        assert r["n_pairs"] >= 1


def test_k_anonymity_partitions_corpus(spark):
    from hadoop_wordcount_spark.sources.tables import load_table

    rows = _q("k_anonymity_audit")(spark, SF_SMALL).collect()
    total = load_table(spark, SF_SMALL, "events").count()
    assert sum(r["n_records"] for r in rows) == total
    assert abs(sum(r["record_share"] for r in rows) - 1.0) < 1e-3
    assert {r["k_band"] for r in rows} <= {"k=1", "k=2-4", "k=5-19", "k>=20"}
    for r in rows:
        assert r["n_classes"] <= r["n_records"]


def test_class_balance_weights_normalized_and_monotone(spark):
    rows = _q("class_balance_weights")(spark, SF_SMALL).collect()
    k = len(rows)
    assert k >= 2
    assert abs(sum(r["weight"] for r in rows) - k) < 1e-3
    by_n = sorted(rows, key=lambda r: r["n_vecs"])
    for lo, hi in zip(by_n, by_n[1:]):
        # effective_n grows with n, so weight never increases with n
        assert lo["weight"] >= hi["weight"] - 1e-9
        assert lo["effective_n"] <= hi["effective_n"] + 1e-9
    for r in rows:
        assert r["weight"] > 0
        assert 1.0 <= r["effective_n"] <= 1.0 / (1.0 - 0.999)


def test_pq_candidates_subset_of_ivf_blocks(spark):
    """Every PQ-reported pair shares an IVF cell by construction —
    the code key refines, never widens, the candidate set."""
    from hadoop_wordcount_spark.operators.similarity import ivf_assignments

    pairs = _q("dedup_embedding_pq")(spark, SF_SMALL).collect()
    cells, _ = ivf_assignments(spark, SF_SMALL)
    cid = {r["vec_id"]: r["cid"] for r in cells.collect()}
    for r in pairs:
        assert cid[r["vec_a"]] == cid[r["vec_b"]]


def test_cluster_purity_shape(spark):
    rows = _q("dedup_cluster_purity")(spark, SF_SMALL).collect()
    assert rows, "near-dup clusters exist at sf0.001"
    from hadoop_wordcount_spark.operators.dedup import q_dedup_clusters

    clustered = q_dedup_clusters(spark, SF_SMALL).count()
    assert sum(r["n_members"] for r in rows) == clustered
    for r in rows:
        assert r["n_members"] >= 2  # every clustered doc has a partner
        assert 0.0 < r["purity"] <= 1.0
        # majority share can never be below 1/n_members
        assert r["purity"] >= 1.0 / r["n_members"] - 1e-9
