"""CLI driver — the reference's E1 entry path (SURVEY.md §3).

Reference: ``main → ToolRunner.run`` (``WordCount.java:19-22``),
arity check "needs two arguments, input and outputfiles"
(``WordCount.java:25-28``), job assembly (:30-42), synchronous wait
(:44), exit code 0/1 (:21,52).

Contract reproduced end-to-end: read text lines from the input
path(s)/glob, tokenize on single spaces, count, sort by word in
UTF-8 byte order, write ONE ``word\\tcount`` text file under the
output dir, failing up-front if it exists (``errorifexists`` — the
exact semantics of Hadoop's ``checkOutputSpecs``, ``WordCount.java:35``).

Fixed here: the reference drops ToolRunner's ``-D`` options on the
floor (``new Job()`` without conf, ``WordCount.java:30``) — our
``--conf k=v`` flags genuinely reach the session.

Plan of one run (3 Spark jobs under AQE): (1) scan + tokenize +
partial count, hash shuffle on ``word``; (2) final count per shuffle
partition, then one single-partition exchange of the aggregated
vocabulary; (3) the single writing task sorts it by word and writes
the part file. A global ``orderBy`` would add a range-sampling job and
a range shuffle only to funnel everything into one task again.

Trade-off at large vocabularies: the sort runs in one task, like the
reference's single reducer (a global sort feeding one output file
ends in one task either way). Spark's external sorter spills to disk
past memory rather than failing, and the exchange moves the distinct
words (already combined map-side), never the tokens.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_wordcount_spark.operators.wordcount import word_count
from hadoop_wordcount_spark.session import get_spark
from hadoop_wordcount_spark.sources.textfiles import read_lines


def output_frame(spark, input_paths: list[str]) -> DataFrame:
    """The one-column ``word\\tcount`` frame that ``run`` writes.

    Single sorted output file = the reference's single-reducer layout
    (O8/O9). The single-partition step lives ONLY here in the sink; the
    aggregation itself runs parallel over the shuffle partitions.
    """
    counts = word_count(read_lines(spark, input_paths))
    return (
        counts.repartition(1)
        .sortWithinPartitions("word")
        .select(F.concat_ws("\t", F.col("word"), F.col("count")))
    )


def run(spark, input_paths: list[str], output_path: str, save_mode: str = "error") -> None:
    """Programmatic entry (the reference's E2 ``Tool.run`` analog)."""
    output_frame(spark, input_paths).write.mode(save_mode).text(output_path)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="wordcount",
        description="WordCount: count space-delimited tokens in text files.",
    )
    parser.add_argument("input", nargs="+", help="input file(s)/dir(s)/glob(s)")
    parser.add_argument("output", help="output directory (must not exist)")
    def conf_kv(s: str) -> tuple[str, str]:
        k, sep, v = s.partition("=")
        if not sep or not k:
            raise argparse.ArgumentTypeError(f"expected K=V, got {s!r}")
        return k, v

    parser.add_argument(
        "--conf",
        action="append",
        default=[],
        type=conf_kv,
        metavar="K=V",
        help="Spark conf, repeatable (actually honored, unlike the reference)",
    )
    parser.add_argument("--overwrite", action="store_true")
    args = parser.parse_args(argv)

    conf = dict(args.conf)
    spark = get_spark(app_name="WordCounter", extra_conf=conf)
    try:
        run(spark, args.input, args.output, "overwrite" if args.overwrite else "error")
    except Exception as exc:  # mirror WordCount.java:44-52's 0/1 contract
        print(f"Job Failed: {exc}", file=sys.stderr)
        return 1
    print("Job was successful")
    return 0


if __name__ == "__main__":
    sys.exit(main())
