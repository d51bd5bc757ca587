"""Quality bounds for the approximate near-neighbour queries.

Round-4 verdict: `sim_search_lsh` was the one rows-only registry
entry with neither an oracle, an exact twin, nor a pytest bound. Its
recall is bounded here, and so is the banded MinHash dedup's recall
on a planted near-dup corpus, whose truth is known by construction
(the sf-table oracle cannot plant one). Same pattern as
`test_ivf_ann_recall_vs_brute_force` (tests/test_properties.py):
approximate result vs exact ground truth, recall floor asserted.
"""

from __future__ import annotations

from hadoop_wordcount_spark import registry

registry.load_all()


def test_sim_search_lsh_recall_vs_brute_force(spark, sf_dir):
    """BucketedRandomProjectionLSH top-10 for the query vector must
    recover >= 0.8 of the exact euclidean top-10 (recall@10). Ground
    truth is computed directly from the embeddings table, same metric
    (euclidean), same exclusion of the query vector itself."""
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    dists = sorted(
        (float(np.linalg.norm(v - q)), vid)
        for vid, v in vecs.items()
        if vid != 0
    )
    exact = {vid for _, vid in dists[:10]}
    approx = {
        r["vec_id"]
        for r in registry.QUERIES["sim_search_lsh"](spark, sf_dir).collect()
    }
    assert len(approx) == 10
    assert len(approx & exact) / len(exact) >= 0.8


def test_dedup_minhash_recall_on_planted_near_dups(spark, tmp_path):
    """Plant 20 high-Jaccard near-dup pairs among mutually-dissimilar
    base docs; the registered banded MinHash path must recover >= 0.8
    of them and must not report any cross-base pair (precision on the
    planted corpus)."""
    import pandas as pd

    docs = []
    planted = set()
    for k in range(20):
        base_tokens = [f"w{k}x{j}" for j in range(30)]
        dup_tokens = list(base_tokens)
        dup_tokens[15] = f"q{k}"  # one-token edit: shingle sim ~0.84
        a, b = 2 * k, 2 * k + 1
        docs.append((a, " ".join(base_tokens), "en", "src1", 200))
        docs.append((b, " ".join(dup_tokens), "en", "src1", 200))
        planted.add((a, b))
    pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in registry.QUERIES["dedup_minhash_banded"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got & planted) / len(planted) >= 0.8
    assert got <= planted  # disjoint vocabularies -> no false pairs
