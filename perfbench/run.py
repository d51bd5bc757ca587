"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wordcount_cli --seed 1 --seconds 7 --trace 0

Run from the repository root. The script builds the workload's inputs
(cached under ``.perfbench/cache``), sets the engine up several times in
fresh processes to time set-up, then runs the workload in a fresh
``worker.py`` process with Spark on ``local[<cpus>]`` and samples the
peak memory (summed PSS) of that process tree. All scratch files (Spark
local dirs, warehouse, Derby, temp files, sink outputs) live under
``.perfbench/run-<pid>`` and are removed at the end. The last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones. The line before
it is an ``info`` object (cpus, input sizes, sample counts, errors).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

# Runs are sized for a 4-CPU host where one set-up takes 8-14 s and the
# first (untimed) pass over the mix takes two to three times a warm one:
# a run of either workload then takes about 50-70 s.
SETUP_SAMPLES = 3  # the worker's own set-up plus two set-up-only processes
SETUP_TIMEOUT_S = 40
RUN_DEADLINE_S = 170  # the whole run, including every set-up
DRIVER_MEMORY = "2g"
DATA = os.path.join(HERE, "data")

# One query per curation operator module, two for dedup: both consume
# the shared cached banded-pair stage, so the second one in a pass
# reuses it. Queries that train the IVF quantizer (about 3 s a pass
# here) do not fit a run, nor does winnowing_fingerprint (1 s a pass);
# text_stats stands in for text_analysis. Three TPC-H-like queries
# (scan+aggregate, selective filter, SQL-text three-way join) measure
# operators/relational.py and the parquet scan on the same run.
MIX_QUERIES = [
    "dedup_minhash_banded", "source_overlap_matrix", "sim_search_topk",
    "text_stats", "decontaminate_vs_eval", "pandas_udf_scale",
    "sink_partitioned_parquet", "tpch_q1_like", "tpch_q6_like", "sql_tpch_q3",
]

WORKLOADS = {
    # The paper's program: cli.run over a seeded multi-file corpus.
    "wordcount_cli": {
        "corpus_mb": 16, "files_per_cpu": 2, "warm_jobs": 2, "jobs_per_pass": 3,
    },
    # LLM-data-curation operators (Python workers, shared cached stages)
    # and relational queries over the same parquet tables.
    "llm_curation": {
        "tables": "sf0.01",
        "queries": MIX_QUERIES,
        "reads": ["customer", "documents", "embeddings", "lineitem", "orders"],
    },
}
SMOKE = {"corpus_mb": 0.8, "tables": "sf0.001"}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it, so that forked Python workers are
    not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the summed PSS of a process tree every ``interval`` s."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in _children(self.pid)))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (the JVM, Python
    workers) and wait until every member has exited. The worker has
    written its result by then; nothing in the group needs a graceful
    shutdown, and its scratch files are removed with the run dir."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def run_worker(cfg_path: str, out_path: str, env: dict, workdir: str,
               timeout: float, setup_only: bool) -> tuple[dict | None, float, int]:
    """Start worker.py, wait for it; returns (result, spawn epoch, peak PSS kB)."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--config", cfg_path, "--out", out_path]
    if setup_only:
        cmd.append("--setup-only")
    log_path = os.path.join(workdir, "worker.log")
    with open(log_path, "ab") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            cmd, cwd=workdir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        rss = PeakRss(proc.pid)
        rss.start()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {timeout:.0f}s; stopping it", file=sys.stderr)
        finally:
            rss.stop()
            _stop_group(proc)
    if proc.returncode != 0 or not os.path.isfile(out_path):
        with open(log_path, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        print(f"worker failed (exit {proc.returncode}):\n{tail}", file=sys.stderr)
        return None, spawned, rss.peak_kb
    with open(out_path) as fh:
        return json.load(fh), spawned, rss.peak_kb


def end_to_end(result: dict, setups: list[float], peak_kb: int) -> dict:
    walls = result["pass_walls"]
    timed = sum(walls)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "queries_per_min": (60.0 * len(result["samples"]) / timed, "1/min"),
        "input_mb_per_s": (result["input_mb_per_pass"] * len(walls) / timed, "MB/s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (the smoke test)")
    args = ap.parse_args(argv)

    deadline = time.time() + RUN_DEADLINE_S
    # On SIGTERM, unwind through run_worker's cleanup of the child group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_wordcount_spark", "__init__.py")):
        print("run from the repository root: hadoop_wordcount_spark/ not found", file=sys.stderr)
        return 2

    state = os.path.join(root, ".perfbench")
    cache = os.path.join(state, "cache")
    workdir = os.path.join(state, f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    cpus = cpu_count()
    spec = dict(WORKLOADS[args.workload], **(SMOKE if args.smoke else {}))
    cfg = dict(
        spec, workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), workdir=workdir,
    )
    info: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus}
    try:
        if args.workload == "wordcount_cli":
            corpus = datagen.make_corpus(
                cache, args.seed, spec["corpus_mb"], spec["files_per_cpu"] * cpus
            )
            cfg["corpus"] = corpus
            info.update(corpus_mb=corpus["bytes"] / 1e6, corpus_files=len(corpus["files"]),
                        tokens=corpus["tokens"], distinct=corpus["distinct"])
        else:
            cfg["tables"] = os.path.join(DATA, spec["tables"])
            info.update(tables=spec["tables"])
        cfg_path = os.path.join(workdir, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)

        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(workdir, "local"),
            TMPDIR=os.path.join(workdir, "tmp"),
            PYSPARK_PYTHON=sys.executable,
        )
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            res, spawned, _ = run_worker(
                cfg_path, os.path.join(workdir, f"setup{i}.json"), env, workdir,
                min(SETUP_TIMEOUT_S, deadline - time.time()), setup_only=True,
            )
            if res is None:
                return 1
            setups.append(res["setup"]["ready_epoch"] - spawned)
        res, spawned, peak_kb = run_worker(
            cfg_path, os.path.join(workdir, "result.json"), env, workdir,
            deadline - time.time(), setup_only=False,
        )
        if res is None or not res["samples"]:
            return 1
        setups.append(res["setup"]["ready_epoch"] - spawned)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    metrics = res["layers"] if args.trace else end_to_end(res, setups, peak_kb)
    # The median query time is reported but not gated: with ten distinct
    # queries its value jumps between neighbouring queries from run to run.
    info.update(samples=len(res["samples"]), query_p50_s=statistics.median(res["samples"]),
                pass_walls=[round(w, 4) for w in res["pass_walls"]],
                per_query=res.get("per_query", {}), phases_s=res.get("phases_s"),
                setup_samples=[round(s, 4) for s in setups], errors=res["errors"])
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
