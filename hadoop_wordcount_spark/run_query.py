"""Run any registered query from the command line.

    python -m hadoop_wordcount_spark.run_query <name> \
        [--sf-dir DIR] [--limit N] [--out PATH] [--format parquet|csv|json] \
        [--explain] [--conf K=V ...]
    python -m hadoop_wordcount_spark.run_query --list

The registry exposes every operator in COVERAGE.md; this is the
user-facing way to run them outside the driver harness. ``--list``
prints each query's name, its check mode ("oracle" = DuckDB
hash-checked, "rows-only" = bounded by a dedicated pytest) and the
first line of its docstring; ``--explain`` prints the formatted
physical plan before the result. Without
``--out`` the first ``--limit`` rows print to stdout; with it, the
FULL result writes to the given path (parallel writers — no
driver-side collect).
"""

from __future__ import annotations

import argparse
import inspect
import os
import sys

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    registry.load_all()
    parser = argparse.ArgumentParser(prog="run_query", description=__doc__)
    parser.add_argument("name", nargs="?", help="query name (see --list)")
    parser.add_argument("--list", action="store_true", help="list queries and exit")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument("--limit", type=int, default=20)
    parser.add_argument("--out", help="write full result here instead of printing")
    parser.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    parser.add_argument("--explain", action="store_true", help="print the physical plan")
    parser.add_argument("--conf", action="append", default=[], metavar="K=V")
    args = parser.parse_args(argv)

    if args.list:
        try:
            for name in sorted(registry.QUERIES):
                mark = "[oracle]" if name in registry.ORACLES else "[rows-only]"
                summary = (inspect.getdoc(registry.QUERIES[name]) or "").split("\n", 1)[0]
                print(f"{name:32s} {mark:11s} {summary}")
            sys.stdout.flush()
        except BrokenPipeError:
            # The reader went away (`--list | head`). Point stdout at
            # devnull so the interpreter's exit-time flush cannot raise
            # again (the idiom from the Python `signal` docs).
            os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
            return 1
        return 0
    if not args.name:
        parser.error("query name required (or --list)")
    if args.name not in registry.QUERIES:
        print(f"unknown query {args.name!r}; try --list", file=sys.stderr)
        return 2

    spark = get_spark(
        app_name=f"run_query:{args.name}",
        extra_conf=dict(kv.split("=", 1) for kv in args.conf),
    )
    try:
        df = registry.QUERIES[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        if args.out:
            df.write.mode("errorifexists").format(args.format).save(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.limit, truncate=80)
    except Exception as exc:
        print(f"Query failed: {exc}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
