"""One benchmark process: set up the engine, then run one workload.

``run.py`` starts this script as a fresh interpreter, with the checkout
root on ``PYTHONPATH``, and reads the JSON it writes to ``--out``. With
``--setup-only`` the process only sets up (import, ``registry.load_all``,
``get_spark``, a warm-up action) and stops. Every call into the engine
goes through the package's public functions; nothing in the package is
patched.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import time
import traceback

from spans import NullTracer, Tracer

# Modules whose build/exec time is reported per layer (traced runs).
OPERATOR_MODULES = (
    "relational", "dedup", "text_analysis", "similarity", "corpus",
    "pandas_ops", "sinks",
)

# Queries that consume a cached stage shared within a pass: the banded
# verified-pair stage of operators/dedup.py.
SHARED_STAGE_CONSUMERS = frozenset({"dedup_minhash_banded", "source_overlap_matrix"})

MAX_ERRORS_KEPT = 5


def spark_conf(workdir: str) -> dict[str, str]:
    """Keep every file Spark, Derby and the JVM write under ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={workdir} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def setup(workdir: str):
    t0 = time.perf_counter()
    from hadoop_wordcount_spark import registry
    from hadoop_wordcount_spark.session import get_spark

    registry.load_all()
    t1 = time.perf_counter()
    spark = get_spark(extra_conf=spark_conf(workdir))
    t2 = time.perf_counter()
    spark.range(0, 100_000, 1, 4).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    timings = {
        "registry.load_all_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.warmup_s": t3 - t2,
        "ready_epoch": time.time(),
    }
    return spark, registry, timings


# ---------------------------------------------------------------------------
# Result normalization, as the repository's oracle parity tests do it:
# columns sorted by name, floats rounded to 6 places, rows sorted.


def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(round(v, 6))
    if isinstance(v, bool):
        return repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return repr(v)


def normalize(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    # iterrows, not itertuples: its per-row dtype upcasting is part of
    # the comparison the parity tests make.
    rows = [tuple(_norm_cell(row[c]) for c in cols) for _, row in pdf[cols].iterrows()]
    return cols, sorted(rows)


def oracle_results(registry, names, sf_dir):
    import duckdb
    from hadoop_wordcount_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {n: normalize(con.execute(registry.ORACLES[n]).fetchdf()) for n in names}
    finally:
        con.close()


# ---------------------------------------------------------------------------


class Run:
    """Counts attempts and failures and collects per-layer counters."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.stats = None
        self.counters: dict[str, float] = {}
        if tracer.enabled:
            from sparkstats import QueryStats

            self.stats = QueryStats(spark)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < MAX_ERRORS_KEPT:
            self.errors.append(msg[-2000:])

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def begin_query(self, qid: str) -> None:
        if self.stats is not None:
            self.stats.begin(qid)

    def end_query(self, qid: str) -> dict[str, float]:
        if self.stats is None:
            return {}
        with self.tracer.span("trace"):
            c = self.stats.collect(qid)
        for k, v in c.items():
            self.add(k, v)
        return c


def run_mix(spark, registry, cfg, run: Run) -> dict:
    """Closed loop over a query mix: a checked warm pass, then timed
    passes in seed-permuted order, at least one and more while
    ``seconds`` have not passed."""
    from hadoop_wordcount_spark.operators.similarity import reset_ivf_memo

    names, sf_dir, tracer = cfg["queries"], cfg["tables"], run.tracer
    modules = {n: registry.QUERIES[n].__module__.rsplit(".", 1)[1] for n in names}
    t0 = time.perf_counter()
    expected = oracle_results(registry, names, sf_dir)
    oracle_s = time.perf_counter() - t0
    rng = random.Random(cfg["seed"])
    samples: list[float] = []
    pass_walls: list[float] = []
    per_query: dict[str, list[float]] = {}
    reused = consumers = 0
    peak_cached = 0

    def one_pass(p: int, timed: bool) -> None:
        nonlocal reused, consumers, peak_cached
        order = list(names)
        rng.shuffle(order)
        untimed = 0.0
        t_pass = time.perf_counter()
        with tracer.span("pass"):
            with tracer.span("reset"):
                spark.catalog.clearCache()
                reset_ivf_memo()
            for n in order:
                qid = f"p{p}:{n}"
                run.attempted += 1
                mod = modules[n]
                cached_before = run.stats.cached_entries() if run.stats else 0
                try:
                    with tracer.span("query", qid):
                        run.begin_query(qid)
                        t0 = time.perf_counter()
                        with tracer.span(f"build:{mod}"):
                            df = registry.QUERIES[n](spark, sf_dir)
                        with tracer.span(f"exec:{mod}"):
                            pdf = df.toPandas()
                        dt = time.perf_counter() - t0
                except Exception:
                    run.fail(f"{n}: {traceback.format_exc()}")
                    continue
                t_check = time.perf_counter()
                with tracer.span("check"):
                    if normalize(pdf) != expected[n]:
                        run.fail(f"{n}: result differs from its DuckDB oracle")
                untimed += time.perf_counter() - t_check
                if timed:
                    samples.append(dt)
                    per_query.setdefault(n, []).append(round(dt, 4))
                    if run.stats is not None:
                        t_tr = time.perf_counter()
                        run.end_query(qid)
                        with tracer.span("trace"):
                            peak_cached = max(peak_cached, run.stats.cached_bytes())
                            if n in SHARED_STAGE_CONSUMERS:
                                consumers += 1
                                if cached_before and run.stats.cached_entries() == cached_before:
                                    reused += 1
                        run.add("trace_s", time.perf_counter() - t_tr)
                elif run.stats is not None:
                    run.end_query(qid)  # keep the SQL execution cursor current
        if timed:
            pass_walls.append(time.perf_counter() - t_pass - untimed)

    t0 = time.perf_counter()
    one_pass(0, timed=False)
    warm_s = time.perf_counter() - t0
    if run.stats is not None:
        run.counters.clear()
        run.tracer.spans.clear()
    start = time.perf_counter()
    p = 1
    while p == 1 or time.perf_counter() - start < cfg["seconds"]:
        one_pass(p, timed=True)
        p += 1
    if run.stats is not None:
        run.counters["cache_stored_bytes"] = float(peak_cached)
        run.counters["cache_reuse_ratio"] = reused / consumers if consumers else 0.0
        run.counters["tables_scan_s"] = probe_tables(spark, cfg)
    return {
        "samples": samples,
        "pass_walls": pass_walls,
        "per_query": per_query,
        "phases_s": {"oracle": oracle_s, "warm": warm_s},
        "input_mb_per_pass": sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in cfg["reads"]
        ) / 1e6,
    }


def probe_tables(spark, cfg) -> float:
    """Median over three reps of ``load_table`` + a noop action over
    every table the mix reads."""
    from hadoop_wordcount_spark.sources.tables import load_table

    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        for t in cfg["reads"]:
            load_table(spark, cfg["tables"], t).write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def run_wordcount(spark, cfg, run: Run) -> dict:
    """Closed loop of ``cli.run`` jobs over the seeded corpus, in passes of
    ``jobs_per_pass`` jobs; each job's single output file is compared
    byte for byte with the expected output, untimed."""
    from hadoop_wordcount_spark import cli

    corpus, tracer = cfg["corpus"], run.tracer
    with open(corpus["expected"], "rb") as fh:
        expected = fh.read()
    out_root = os.path.join(cfg["workdir"], "out")
    os.makedirs(out_root, exist_ok=True)
    samples: list[float] = []
    pass_walls: list[float] = []

    def job(qid: str, timed: bool) -> float:
        """Runs one job and checks it; returns the untimed check time."""
        path = os.path.join(out_root, qid)
        run.attempted += 1
        try:
            with tracer.span("query", qid):
                run.begin_query(qid)
                t0 = time.perf_counter()
                with tracer.span("exec:cli"):
                    cli.run(spark, corpus["files"], path)
                dt = time.perf_counter() - t0
        except Exception:
            run.fail(f"cli.run: {traceback.format_exc()}")
            shutil.rmtree(path, ignore_errors=True)
            return 0.0
        if timed:
            samples.append(dt)
            if run.stats is not None:
                t_tr = time.perf_counter()
                run.end_query(qid)
                run.add("trace_s", time.perf_counter() - t_tr)
        elif run.stats is not None:
            run.end_query(qid)
        t_check = time.perf_counter()
        with tracer.span("check"):
            parts = [f for f in os.listdir(path) if f.startswith("part-")]
            if len(parts) != 1:
                run.fail(f"cli.run wrote {len(parts)} part files, expected 1")
            else:
                with open(os.path.join(path, parts[0]), "rb") as fh:
                    if fh.read() != expected:
                        run.fail("cli.run output differs from the expected word counts")
            shutil.rmtree(path, ignore_errors=True)
        return time.perf_counter() - t_check

    for i in range(cfg["warm_jobs"]):
        job(f"warm{i}", timed=False)
    if run.stats is not None:
        run.counters.clear()
        run.tracer.spans.clear()
    start = time.perf_counter()
    p = 1
    while p == 1 or time.perf_counter() - start < cfg["seconds"]:
        t_pass = time.perf_counter()
        with tracer.span("pass"):
            untimed = sum(job(f"p{p}j{j}", timed=True) for j in range(cfg["jobs_per_pass"]))
        pass_walls.append(time.perf_counter() - t_pass - untimed)
        p += 1
    if run.stats is not None:
        probe_wordcount(spark, corpus, run)
    return {
        "samples": samples,
        "pass_walls": pass_walls,
        "input_mb_per_pass": cfg["jobs_per_pass"] * corpus["bytes"] / 1e6,
    }


def probe_wordcount(spark, corpus, run: Run) -> None:
    """Traced-run probes: text scan alone, and the unsorted aggregation
    alone (whose shuffle gives the map-side combine ratio)."""
    from hadoop_wordcount_spark.operators.wordcount import word_count
    from hadoop_wordcount_spark.sources.textfiles import read_lines

    scans, aggs, ratios = [], [], []
    for r in range(3):
        t0 = time.perf_counter()
        read_lines(spark, corpus["files"]).write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t0)
        qid = f"agg{r}"
        run.stats.begin(qid)
        t0 = time.perf_counter()
        word_count(read_lines(spark, corpus["files"])).write.format("noop").mode(
            "overwrite"
        ).save()
        aggs.append(time.perf_counter() - t0)
        c = run.stats.collect(qid)
        ratios.append(c["shuffle_write_records"] / corpus["tokens"])
    run.counters["textfiles_scan_mb_per_s"] = corpus["bytes"] / 1e6 / statistics.median(scans)
    run.counters["wordcount_agg_s"] = statistics.median(aggs)
    run.counters["wordcount_combine_ratio"] = statistics.median(ratios)


def layer_metrics(run: Run, result: dict, setup_t: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run as ``name -> (value, unit)``,
    per timed pass."""
    c, tracer = run.counters, run.tracer
    passes = max(1, len(result["pass_walls"]))
    self_t = tracer.self_times()

    def per_pass(key: str, scale: float = 1.0) -> float:
        return c.get(key, 0.0) * scale / passes

    agg_s = c.get("wordcount_agg_s")
    out = {
        "registry.load_all_s": (setup_t["registry.load_all_s"], "s"),
        "session.get_spark_s": (setup_t["session.get_spark_s"], "s"),
        "session.warmup_s": (setup_t["session.warmup_s"], "s"),
        "sources.tables.scan_s": (c.get("tables_scan_s", 0.0), "s"),
        "sources.textfiles.scan_mb_per_s": (c.get("textfiles_scan_mb_per_s", 0.0), "MB/s"),
        "operators.wordcount.agg_s": (agg_s or 0.0, "s"),
        "cli.sort_write_s": (
            max(0.0, statistics.median(result["samples"]) - agg_s) if agg_s else 0.0, "s"
        ),
        "wordcount.combine_ratio": (c.get("wordcount_combine_ratio", 0.0), "ratio"),
    }
    for mod in OPERATOR_MODULES:
        out[f"operators.{mod}.build_s"] = (self_t.get(f"build:{mod}", 0.0) / passes, "s")
        out[f"operators.{mod}.exec_s"] = (self_t.get(f"exec:{mod}", 0.0) / passes, "s")
    mb = 1e-6
    out.update({
        "cache.stored_mb": (c.get("cache_stored_bytes", 0.0) * mb, "MB"),
        "cache.reuse_ratio": (c.get("cache_reuse_ratio", 0.0), "ratio"),
        "python.arrow_mb": (per_pass("python_sent_bytes", mb), "MB"),
        "spark.jobs": (per_pass("jobs"), "count"),
        "spark.stages": (per_pass("stages"), "count"),
        "spark.tasks": (per_pass("tasks"), "count"),
        "spark.input_mb": (per_pass("input_bytes", mb), "MB"),
        "spark.shuffle_write_mb": (per_pass("shuffle_write_bytes", mb), "MB"),
        "spark.shuffle_read_mb": (per_pass("shuffle_read_bytes", mb), "MB"),
        "spark.spill_mb": (per_pass("spill_bytes", mb), "MB"),
        "spark.executor_cpu_s": (per_pass("executor_cpu_s"), "s"),
        "spark.gc_s": (per_pass("gc_s"), "s"),
        "spark.shuffle_fetch_wait_s": (per_pass("shuffle_fetch_wait_s"), "s"),
        "spark.failed_tasks": (per_pass("failed_tasks"), "count"),
        "sinks.bytes_written": (per_pass("written_bytes"), "B"),
        "sinks.files_written": (per_pass("written_files"), "count"),
        "trace.wall_s": (statistics.median(result["pass_walls"]), "s"),
        "trace.overhead_s": (per_pass("trace_s"), "s"),
    })
    # Harness time inside a pass that no layer span covers: near 0 means
    # the layer self times above account for the pass wall time.
    pass_total = tracer.total("pass")
    unaccounted = self_t.get("pass", 0.0) / pass_total if pass_total else 0.0
    out["trace.unaccounted_frac"] = (unaccounted, "ratio")
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True, help="JSON run configuration")
    ap.add_argument("--out", required=True, help="where to write the JSON result")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)
    with open(args.config) as fh:
        cfg = json.load(fh)

    spark, registry, setup_t = setup(cfg["workdir"])
    if args.setup_only:
        result = {"setup": setup_t}
    else:
        tracer = Tracer() if cfg["trace"] else NullTracer()
        run = Run(spark, tracer)
        if cfg["workload"] == "wordcount_cli":
            result = run_wordcount(spark, cfg, run)
        else:
            result = run_mix(spark, registry, cfg, run)
        result.update(
            setup=setup_t,
            attempted=run.attempted,
            failed=run.failed,
            errors=run.errors,
        )
        if tracer.enabled:
            result["layers"] = layer_metrics(run, result, setup_t)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    # Leave without spark.stop() or interpreter teardown, which take 1-2 s
    # a process: run.py kills this process group (JVM, Python workers)
    # as soon as this process has exited.
    os._exit(0)


if __name__ == "__main__":
    main()
