"""Round-3 regression tests: judge/advisor findings.

- repeated_spans_verified must equal repeated_spans on collision-free
  input (the belt-and-braces variant only removes hash-collision false
  positives, VERDICT r2 next-step #9) and must still find the planted
  shared passage.
- dedup_ngram_jaccard's token-set encoding (round 3: xxhash64 ids;
  round 4: broadcast-vocabulary bitmasks) must compute exactly the
  string-set Jaccard — checked pair-by-pair against a brute-force
  string-set computation on the fixture corpus.
- streaming_foreach_batch must return an empty (not raising) frame
  when the source produces zero micro-batches (ADVICE r2 #3).
- colocated_join must derive its partition count from
  spark.sql.shuffle.partitions, not a hard-coded width (VERDICT r2
  "what's wrong" #3).
- streaming_dedup must actually drop in-stream duplicate event_ids
  (the behavior its count(DISTINCT) oracle assumes away on the
  dup-free fixture).
"""

from __future__ import annotations

import inspect
import os

import pytest

from pyspark.sql import functions as F

from hadoop_wordcount_spark import registry

registry.load_all()

SF_SMALL = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_repeated_spans_verified_equals_unverified(spark):
    got_v = _rows(registry.QUERIES["repeated_spans_verified"](spark, SF_SMALL))
    got = _rows(registry.QUERIES["repeated_spans"](spark, SF_SMALL))
    assert got_v == got
    assert len(got_v) > 0  # fixture plants real shared spans


def test_repeated_spans_verified_finds_planted_passage(spark, tmp_path):
    import pandas as pd

    shared = " ".join(f"tok{i}" for i in range(15))
    docs = [
        (1, f"alpha {shared} omega", "en", "s", 1),
        (2, f"{shared} tail tail", "en", "s", 1),
        (3, "unrelated words only here now there and more pad pad pad pad", "en", "s", 1),
    ]
    pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    out = {
        (r["doc_a"], r["doc_b"]): r["span_len"]
        for r in registry.QUERIES["repeated_spans_verified"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {(1, 2): 15}


def test_ngram_jaccard_matches_string_set_brute_force(spark):
    """The encoded scoring (vocab-bitmask popcounts) must equal the
    straightforward string-set Jaccard, pair by pair — any encoding
    bug (id collision, mask-width truncation) perturbs a score."""
    from hadoop_wordcount_spark.operators.wordcount import tokens_col

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in registry.QUERIES["dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    }
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    s = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("lb"),
        F.array_distinct(tokens_col(F.col("text"))).alias("toks"),
    )
    a, b = s.alias("a"), s.alias("b")
    jac = F.size(F.array_intersect("a.toks", "b.toks")) / F.greatest(
        F.size(F.array_union("a.toks", "b.toks")), F.lit(1)
    )
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .collect()
    }
    assert got == want


def test_foreach_batch_empty_source_returns_empty(spark, tmp_path):
    """Zero micro-batches (events.parquet exists but holds no rows):
    the query must return an empty frame with the agg schema, not
    raise on a missing output path."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_SMALL}/events.parquet")
    os.makedirs(tmp_path / "events.parquet", exist_ok=True)
    pq.write_table(src.slice(0, 0), tmp_path / "events.parquet" / "part-0.parquet")
    df = registry.QUERIES["streaming_foreach_batch"](spark, str(tmp_path))
    assert df.count() == 0
    assert {f.name for f in df.schema.fields} == {
        "window_start_s", "event_type", "n", "sum_value",
    }


def test_colocated_join_has_no_hardcoded_partition_count():
    from hadoop_wordcount_spark.operators import relational

    src = inspect.getsource(relational.q_colocated_join)
    assert "repartition(8" not in src
    assert "spark.sql.shuffle.partitions" in src


def test_streaming_dedup_drops_in_stream_duplicates(spark, tmp_path):
    """Duplicate event_ids across source files collapse to one
    surviving row each — the semantics the count(DISTINCT event_id)
    oracle encodes."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_SMALL}/events.parquet")
    head = src.slice(0, 200)
    os.makedirs(tmp_path / "events.parquet", exist_ok=True)
    # same 200 events twice -> dedup must halve them
    pq.write_table(head, tmp_path / "events.parquet" / "part-0.parquet")
    pq.write_table(head, tmp_path / "events.parquet" / "part-1.parquet")
    got = {
        r["event_type"]: r["n"]
        for r in registry.QUERIES["streaming_dedup"](spark, str(tmp_path)).collect()
    }
    pdf = head.to_pandas()
    expect = pdf.groupby("event_type")["event_id"].nunique().to_dict()
    assert got == expect


def test_zorder_chunks_are_rectangles_in_both_dims(spark, sf_dir):
    """The z-order locality property: with 16 chunks (top 4 interleaved
    bits = 2 high bits per dimension), every chunk must span < 64 of
    the 256-bucket range in BOTH dimensions — the guarantee that makes
    min/max file stats prune on either column."""
    from hadoop_wordcount_spark import registry

    registry.load_all()
    rows = registry.QUERIES["zorder_layout"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_x"] - r["min_x"] < 64, r
        assert r["max_y"] - r["min_y"] < 64, r
