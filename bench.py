"""Benchmark harness: run every registered query at the bench scale
factor and print ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may use; the
     canary probes below still assume a 32-core host).

Each query is fully materialized via a count-ish action
(``df.write.format("noop")``) so the measured time includes the whole
plan execution, not just plan construction.

Per-query timings are COLD: ``spark.catalog.clearCache()`` runs
before every query. Plan-keyed ``.cache()`` stages shared across
queries (the banded verified-pair stage; the trained IVF quantizer)
are PRE-BUILT untimed before each of their consumers and reported
once as their own ``shared_stages`` lines — so consumer timings are
marginal work, stable run-over-run, and the build cost appears
exactly once instead of being charged to whichever consumer runs
first (or to all of them). Cold + ``shared_stages`` is the SOLE
published protocol: the former warm pass reported eviction-order
artifacts (the accumulated 269-query cache landed a shared build on
whichever consumer ran first alphabetically, e.g. a 44.9 s "warm"
row for a 1.9 s query) and was dropped per the r7 verdict.

Host-steal canary: a fixed CPU-bound probe set is timed before,
midway through, and after the sweep and published under ``canary`` —
round-over-round tail comparisons should first normalize by the
canary ratio. The r7 driver tail ran a near-uniform 1.38x slower
than r6 across unrelated families (hypervisor steal), which was only
diagnosable indirectly; the canary makes it attributable at a
glance. Probes:

- ``python_spin_s``: single-thread pure-Python spin (raw host CPU,
  no JVM).
- ``mp_spin32_s``: the SAME spin forked across 32 processes —
  saturates every core, so it sees contention on the other 31 cores
  that the single-thread spin is blind to (the r9 blind spot: the
  driver tail ran ~1.6x slow uniformly while the 1-thread spin
  stayed flat; r9 verdict "What's wrong" #3).
- ``jvm_hash32_s``: a fixed 32-partition xxhash64 reduce over
  ``spark.range`` — the parallel Spark task path itself (JVM thread
  scheduling + whole-stage codegen), zero I/O, constant work.
- ``word_count_sf001_s``: the Spark task path end-to-end incl. scan.

``vs_prior`` reports the tail median ratio of this run against the
committed standing BENCH.json, both raw and divided by the
multicore canary ratio — so a uniform host-steal round reads ~1.0
normalized and never needs adjudicating again.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_wordcount_spark import registry
from hadoop_wordcount_spark.session import get_spark

registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CANARY_SF_DIR = "/root/testdata/sf0.01"


def _spin(n: int = 5_000_000) -> int:
    acc = 0
    for i in range(n):
        acc += i * i
    return acc


def _canary_probe(spark) -> dict[str, float]:
    """Fixed CPU-bound probes (see module docstring). Constant work
    by construction — any round-over-round drift in these numbers is
    the HOST, not the queries, so tail comparisons divide by the
    canary ratio first. ``mp_spin32_s`` / ``jvm_hash32_s`` saturate
    all 32 cores; the single-thread spin alone missed the r9 drift
    because hypervisor steal hit the OTHER 31 cores."""
    t0 = time.perf_counter()
    _spin()
    py_s = time.perf_counter() - t0

    import multiprocessing as mp

    ctx = mp.get_context("fork")
    t0 = time.perf_counter()
    with ctx.Pool(32) as pool:
        pool.map(_spin, [5_000_000] * 32)
    mp_s = time.perf_counter() - t0

    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    # max (not sum): sum of 160M xxhash64 values overflows long
    # under ANSI mode; max still forces every hash to evaluate.
    spark.range(0, 160_000_000, 1, 32).select(
        F.max(F.xxhash64("id"))
    ).write.format("noop").mode("overwrite").save()
    jvm_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    registry.QUERIES["word_count"](spark, CANARY_SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    wc_s = time.perf_counter() - t0
    return {
        "python_spin_s": round(py_s, 3),
        "mp_spin32_s": round(mp_s, 3),
        "jvm_hash32_s": round(jvm_s, 3),
        "word_count_sf001_s": round(wc_s, 3),
    }


def _vs_prior(timings: dict[str, float], canary: dict) -> dict | None:
    """Tail-median comparison against the committed standing
    BENCH.json, raw and canary-normalized. The canary ratio prefers
    the multicore probes (median of per-probe-point ratios across
    mp_spin32_s / jvm_hash32_s), falling back to the probes the
    prior artifact actually has."""
    prior_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH.json"
    )
    try:
        with open(prior_path) as f:
            prior = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    prior_q = prior.get("queries") or {}
    common = [
        n
        for n in timings
        if n in prior_q and timings[n] > 0 and prior_q[n] > 0
    ]
    if len(common) < 10:
        return None
    ratios = sorted(timings[n] / prior_q[n] for n in common)
    median_raw = ratios[len(ratios) // 2]

    prior_canary = prior.get("canary") or {}
    probe_ratios: list[float] = []
    probes_used: list[str] = []
    for probe in ("mp_spin32_s", "jvm_hash32_s", "word_count_sf001_s",
                  "python_spin_s"):
        pts = []
        for point in ("start", "mid", "end"):
            cur = (canary.get(point) or {}).get(probe)
            prev = (prior_canary.get(point) or {}).get(probe)
            if cur and prev:
                pts.append(cur / prev)
        if pts:
            probe_ratios.append(sorted(pts)[len(pts) // 2])
            probes_used.append(probe)
        if len(probe_ratios) == 2:
            break  # the two strongest available probes suffice
    if not probe_ratios:
        return {"n_common": len(common),
                "median_ratio_raw": round(median_raw, 3)}
    canary_ratio = sum(probe_ratios) / len(probe_ratios)
    return {
        "n_common": len(common),
        "median_ratio_raw": round(median_raw, 3),
        "canary_ratio": round(canary_ratio, 3),
        "canary_probes": probes_used,
        "median_ratio_canary_normalized": round(
            median_raw / canary_ratio, 3
        ),
    }


def main() -> None:
    spark = get_spark(app_name="hwcs-bench")
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}

    # Warm the JVM/codegen once so query timings measure the engine,
    # not first-call classloading — one warmer per engine family with
    # meaningful one-time setup: relational codegen (word_count), the
    # Python data source path (~10s one-time worker spawn +
    # registration), the Arrow/pandas worker pool, the streaming
    # state-store machinery, and the ML-pipeline classes. Each query
    # still pays its own per-run cost inside the timed loop below.
    for warm in (
        "word_count",
        "python_datasource_scan",
        "group_zscore_pandas",
        "streaming_wordcount",
        "sim_search_lsh",
    ):
        registry.QUERIES[warm](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    # Shared cached stages, benched as their OWN lines. Several
    # queries deliberately share a cached stage (the banded
    # MinHash verified-pair set; the trained IVF quantizer memo).
    # Charging that build to whichever consumer happens to run first
    # produced phantom 6x round-over-round swings (r5 verdict #4), and
    # charging it to EVERY consumer (plain cold mode) reports build
    # cost n_consumers times. Instead: in cold mode each consumer
    # still starts from a cleared cache, but its shared stage is
    # PRE-BUILT (untimed) right before it, so per-consumer numbers are
    # marginal work — stable across runs — and the build itself is
    # reported once under "shared_stages".
    def _build_banded_pairs() -> None:
        from hadoop_wordcount_spark.operators.dedup import _banded_verified_pairs

        _banded_verified_pairs(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    def _build_ivf() -> None:
        from hadoop_wordcount_spark.operators.similarity import ivf_assignments

        cells, _cent = ivf_assignments(spark, SF_DIR)
        cells.write.format("noop").mode("overwrite").save()

    shared_stages = {
        "banded_pairs": (
            _build_banded_pairs,
            {
                "dedup_minhash_banded",
                "source_overlap_matrix",
                "dedup_clusters",
                "dedup_cluster_representatives",
                "dedup_threshold_sweep",
                "dedup_graph_degree_report",
                "dedup_containment",
                "dedup_incremental",
                "dedup_ngram_jaccard_lsh",
                "pipeline_curate",
                # r14 measurement fix: pipeline_train_corpus composes
                # pipeline_curate and therefore consumes the SAME
                # cached banded-pair stage — it was the one consumer
                # missing from this set, so its bench line alone was
                # charged the shared build every sweep (the exact
                # first-consumer accounting bug this map exists to
                # prevent). Old readings: 24.25 s (r14 round-start,
                # burst-inflated) / 5.50 s (r13 driver) INCLUDING the
                # build; the line now reports marginal work like every
                # other consumer.
                "pipeline_train_corpus",
                "dedup_edit_verify",
                "minhash_estimator_calibration",
                "dedup_cluster_purity",
            },
        ),
        "ivf_quantizer": (
            _build_ivf,
            {
                "ann_ivf_search",
                "embedding_cell_stats",
                "contrastive_hard_negatives",
                "cluster_topic_terms",
                "semdedup_prune",
                "dedup_embedding_pq",
            },
        ),
    }
    stage_of = {
        q: stage for stage, (_, qs) in shared_stages.items() for q in qs
    }
    stage_times: dict[str, float] = {}

    names = sorted(registry.QUERIES)
    midpoint = len(names) // 2
    # Warm the canary's own JVM probe plan once so the "start" point
    # measures the host, not first-call codegen (~4s one-time).
    from pyspark.sql import functions as F

    spark.range(0, 1_000_000, 1, 32).select(
        F.max(F.xxhash64("id"))
    ).write.format("noop").mode("overwrite").save()
    canary = {"start": _canary_probe(spark)}

    t_total = time.perf_counter()
    for idx, name in enumerate(names):
        if idx == midpoint:
            t_pause = time.perf_counter()
            canary["mid"] = _canary_probe(spark)
            # Canary time is excluded from the published total.
            t_total += time.perf_counter() - t_pause
        fn = registry.QUERIES[name]
        spark.catalog.clearCache()
        # Also drop the trained-IVF memo — cold means cold.
        from hadoop_wordcount_spark.operators.similarity import reset_ivf_memo

        reset_ivf_memo()
        stage = stage_of.get(name)
        if stage is not None:
            t0 = time.perf_counter()
            try:
                shared_stages[stage][0]()
                # Report the build cost once: the median build is
                # the honest number, but first-build suffices and
                # keeps one line per stage — keep the FIRST.
                stage_times.setdefault(
                    stage, round(time.perf_counter() - t0, 3)
                )
            except Exception as exc:
                failures.setdefault(
                    f"shared:{stage}", f"{type(exc).__name__}: {exc}"[:200]
                )
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # record, keep benching the rest
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
    total = round(time.perf_counter() - t_total, 3)
    canary["end"] = _canary_probe(spark)

    out = {
        "metric": "total_wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "mode": "cold",
        "queries": timings,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "canary": canary,
    }
    vs_prior = _vs_prior(timings, canary)
    if vs_prior:
        out["vs_prior"] = vs_prior
    if stage_times:
        out["shared_stages"] = stage_times

    if failures:
        out["failures"] = failures
    print(json.dumps(out))


if __name__ == "__main__":
    main()
