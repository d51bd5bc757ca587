"""Golden end-to-end test of the reference's O1-O10 semantic contract
(FIXTURES.md F1): StringTokenizer(line, " ") fidelity, cross-file
accumulation, UTF-8-byte-order sort, single-file tab-KV sink,
errorifexists guard."""

from __future__ import annotations

import fcntl
import os
import re
import subprocess
import sys

import pytest

from hadoop_wordcount_spark.cli import main as cli_main
from hadoop_wordcount_spark.operators.wordcount import (
    distinct_words,
    grep_filter,
    top_k_words,
    word_count,
    word_count_sorted,
)
from hadoop_wordcount_spark.sources.textfiles import read_lines

LINES = [
    "the quick brown fox",
    "the  quick",
    " leading and trailing ",
    "tab\tinside",
    "Punct, kept! (yes)",
    "Case case CASE",
    "",
    "héllo héllo 世界",
    "the the the",
]

GOLDEN = {
    "(yes)": 1, "Case": 1, "CASE": 1, "Punct,": 1, "and": 1, "brown": 1,
    "case": 1, "fox": 1, "héllo": 2, "kept!": 1, "leading": 1, "quick": 2,
    "tab\tinside": 1, "the": 5, "trailing": 1, "世界": 1,
}


@pytest.fixture(scope="module")
def corpus_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "golden.txt"
    p.write_text("\n".join(LINES) + "\n", encoding="utf-8")
    return str(p)


@pytest.fixture(scope="module")
def corpus_split(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus_split")
    (d / "a.txt").write_text("\n".join(LINES[:5]) + "\n", encoding="utf-8")
    (d / "b.txt").write_text("\n".join(LINES[5:]) + "\n", encoding="utf-8")
    return [str(d / "a.txt"), str(d / "b.txt")]


def test_golden_counts(spark, corpus_file):
    rows = word_count(read_lines(spark, corpus_file)).collect()
    assert {r["word"]: r["count"] for r in rows} == GOLDEN


def test_multi_file_union_matches(spark, corpus_file, corpus_split):
    one = {r["word"]: r["count"] for r in word_count(read_lines(spark, corpus_file)).collect()}
    two = {r["word"]: r["count"] for r in word_count(read_lines(spark, corpus_split)).collect()}
    assert one == two == GOLDEN


def test_sorted_output_is_utf8_byte_order(spark, corpus_file):
    words = [r["word"] for r in word_count_sorted(read_lines(spark, corpus_file)).collect()]
    assert words == sorted(GOLDEN, key=lambda w: w.encode("utf-8"))


def test_top_k(spark, corpus_file):
    rows = top_k_words(read_lines(spark, corpus_file), k=2).collect()
    assert [(r["word"], r["count"]) for r in rows] == [("the", 5), ("héllo", 2)]


def test_distinct_words(spark, corpus_file):
    assert distinct_words(read_lines(spark, corpus_file)).head()["n_words"] == len(GOLDEN)


def test_grep_filter(spark, corpus_file):
    rows = grep_filter(read_lines(spark, corpus_file), "quick").collect()
    assert sorted(r["value"] for r in rows) == ["the  quick", "the quick brown fox"]


def test_cli_end_to_end(spark, corpus_file, tmp_path):
    out = str(tmp_path / "out")
    assert cli_main([corpus_file, out]) == 0
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1, "single-reducer layout: exactly one part file"
    lines = open(os.path.join(out, parts[0]), encoding="utf-8").read().splitlines()
    parsed = [(w, int(c)) for w, c in (ln.rsplit("\t", 1) for ln in lines)]
    assert dict(parsed) == GOLDEN
    assert [w for w, _ in parsed] == sorted(GOLDEN, key=lambda w: w.encode("utf-8"))
    # O10: output dir now exists → job must fail up-front, not overwrite
    assert cli_main([corpus_file, out]) == 1


def test_empty_input(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("", encoding="utf-8")
    assert word_count(read_lines(spark, str(p))).count() == 0


def test_read_lines_directory_and_glob(spark, corpus_split, tmp_path):
    """O2: a directory path reads all its files; a glob selects."""
    import os

    from hadoop_wordcount_spark.sources.textfiles import read_lines

    d = os.path.dirname(corpus_split[0])
    via_dir = {r["word"]: r["count"] for r in word_count(read_lines(spark, d)).collect()}
    via_glob = {
        r["word"]: r["count"]
        for r in word_count(read_lines(spark, f"{d}/*.txt")).collect()
    }
    assert via_dir == via_glob == GOLDEN


def test_connector_stubs_fail_loudly(spark):
    import pytest as _pytest

    from hadoop_wordcount_spark.sources.lakehouse import read_delta, read_iceberg
    from hadoop_wordcount_spark.streaming.stream_queries import kafka_events_stream

    with _pytest.raises(NotImplementedError, match="[Dd]elta"):
        read_delta(spark, "/tmp/nope")
    with _pytest.raises(NotImplementedError, match="[Ii]ceberg"):
        read_iceberg(spark, "iceberg.db.t")
    with _pytest.raises(NotImplementedError, match="[Kk]afka"):
        kafka_events_stream(spark, "localhost:9092", "events")
    # Avro is NOT gated here: the classes ship inside spark-sql 4.1
    # and resolve via the fully-qualified format name even without
    # the spark-avro service-registration jar.
    from hadoop_wordcount_spark.sources.lakehouse import avro_format

    assert avro_format(spark).endswith("AvroFileFormat")


def test_run_query_cli(spark, tmp_path, capsys):
    from hadoop_wordcount_spark.run_query import main as rq_main

    assert rq_main(["--list"]) == 0
    listing = capsys.readouterr().out
    assert re.search(
        r"^agg_multi +\[oracle\] +TPC-H Q1-shaped multi-aggregate scan\.$",
        listing,
        re.M,
    ), listing[:500]
    assert rq_main(["word_count", "--sf-dir", "/root/testdata/sf0.001", "--limit", "3",
                    "--explain"]) == 0
    plan = capsys.readouterr().out
    # The combiner the reference never configured: partial + final aggregate.
    assert "partial_count(1)" in plan and plan.count("HashAggregate") >= 2, plan
    out = str(tmp_path / "res")
    assert rq_main(["distinct_words", "--sf-dir", "/root/testdata/sf0.001",
                    "--out", out, "--format", "json"]) == 0
    assert rq_main(["nope"]) == 2

    # `--list | head -1`: a reader that leaves early must not make the
    # lister print a BrokenPipeError traceback. The pipe is shrunk to
    # one page so the lister is still writing when the reader closes.
    r, w = os.pipe()
    fcntl.fcntl(r, fcntl.F_SETPIPE_SZ, 4096)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [sys.executable, "-m", "hadoop_wordcount_spark.run_query", "--list"],
        cwd=repo, stdout=w, stderr=subprocess.PIPE,
    )
    os.close(w)
    with os.fdopen(r, "rb") as reader:
        first = reader.readline()
    err = child.stderr.read().decode()
    child.stderr.close()
    assert child.wait(timeout=120) == 1
    assert first.decode() == listing.splitlines(keepends=True)[0], first
    assert "Traceback" not in err, err


def test_read_lines_with_offsets(spark, corpus_file):
    from hadoop_wordcount_spark.sources.textfiles import read_lines_with_offsets

    rows = read_lines_with_offsets(spark, corpus_file).orderBy("line_no").collect()
    assert [r["line_no"] for r in rows] == list(range(len(LINES)))
    assert [r["value"] for r in rows] == LINES
    assert all(r["file"].endswith("golden.txt") for r in rows)


# UTF-16 code-unit order puts the astral emoji (surrogate 0xD83D) before
# the fullwidth "！" (0xFF01); UTF-8 byte order, the reference's Text
# comparator, puts it after. "Z" < "z" < "é" in both.
BYTE_ORDER_TOKENS = ["！", "\U0001F600", "é", "Z", "z", "tab\tinside", "b", "a"]


def test_cli_byte_order_across_aggregate_partitions(spark, tmp_path):
    """Several aggregate partitions feed the one sorting/writing task:
    the single part file must be byte-equal to counts sorted by UTF-8."""
    expected = {}
    paths = []
    for i in range(9):
        toks = BYTE_ORDER_TOKENS[i % len(BYTE_ORDER_TOKENS):] + [f"w{i}", "a"]
        p = tmp_path / f"in{i}.txt"
        p.write_text("  ".join(toks) + "\n" + " ".join(toks[::-1]) + " \n", encoding="utf-8")
        paths.append(str(p))
        for t in toks:
            expected[t] = expected.get(t, 0) + 2
    want = "".join(
        f"{w}\t{expected[w]}\n" for w in sorted(expected, key=str.encode)
    ).encode("utf-8")

    # --conf reaches the shared test session (getOrCreate applies it):
    # 8 aggregate partitions that AQE may not merge into one.
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    out = tmp_path / "out"
    try:
        flags = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
        assert cli_main([*paths, str(out), *flags]) == 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    assert (out / parts[0]).read_bytes() == want
