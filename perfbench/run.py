#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload kmedoids-sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates the workload's tables
from ``--seed`` (and, for ``joins-txlog-10x``, their 10x copy through
``tools/stress10x.build_dataset()``), computes the DuckDB oracle
answers, then measures the engine in a fresh worker process
(``worker.py``) with ``SPARK_GRAFT_CPUS`` = the usable cores and
``TMPDIR`` / ``SPARK_LOCAL_DIRS`` inside a per-run scratch directory
that is removed afterwards.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``).  The full record (and, when traced, the
spans) is written under ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from probes import cpu_steal, steal_share  # noqa: E402

#: (metric, unit) of the untraced run, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("warm_qps", "1/s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)
#: a run must end within 180 s; leave room for data generation and cleanup
WORKER_DEADLINE_S = 170.0
#: heap of the engine's driver JVM, fixed (-Xms = -Xmx) and touched at
#: start-up, so that whether G1 has touched more of it lands in no
#: run's peak RSS by chance.  The engine's own default
#: (SPARK_GRAFT_DRIVER_MEM) is 8g; 2g keeps a run's memory small.  Peak
#: RSS is then this heap plus off-heap memory, so only off-heap growth
#: can move it.
DRIVER_MEM = "2g"


def _log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def build_inputs(workload, seed: int, data_root: str) -> tuple[str, dict]:
    """Write the workload's tables; return (directory the engine reads, stats)."""
    import pyarrow.parquet as pq

    from datagen import generate

    base = os.path.join(data_root, "base")
    generate(base, seed, workload.base_sf, workload.tables)
    data_dir = base
    if workload.replicas > 1:
        spec = importlib.util.spec_from_file_location(
            "stress10x", os.path.join(ROOT, "tools", "stress10x.py")
        )
        stress10x = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(stress10x)
        data_dir = os.path.join(data_root, f"x{workload.replicas}")
        stress10x.SRC, stress10x.DST, stress10x.REPLICAS = base, data_dir, workload.replicas
        with contextlib.redirect_stdout(sys.stderr):
            stress10x.build_dataset()
    stats = {}
    for t in workload.tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        stats[t] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return data_dir, stats


def write_oracle(queries, data_dir: str, oracle_dir: str) -> None:
    from oracle import expected

    from mapreduce6240project_spark.plans import REGISTRY

    os.makedirs(oracle_dir)
    answers = expected(data_dir, {q: REGISTRY[q].oracle for q in queries})
    for q, df in answers.items():
        df.to_parquet(os.path.join(oracle_dir, f"{q}.parquet"))


def run_worker(job_path: str, env: dict, cwd: str, timeout: float) -> int:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), job_path],
        env=env, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _log(f"worker exceeded {timeout:.0f} s; killing it")
        return -1
    finally:
        # the worker's session also holds the Spark JVM and its Python
        # workers: stop whatever is left of it, reap the worker, and wait
        # until no process of the session remains
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        deadline = time.time() + 10.0
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def measure(workload, seed: int, seconds: float, trace: int) -> dict | None:
    """One run; prints the summary line and returns the result (None when
    the worker failed)."""
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".runs", f"{workload.name}-s{seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{workload.name}-seed{seed}-trace{trace}")
    try:
        for d in ("tmp", "local", "cwd"):
            os.makedirs(os.path.join(work, d))
        t0 = time.time()
        data_dir, data_stats = build_inputs(workload, seed, os.path.join(work, "data"))
        write_oracle(workload.queries, data_dir, os.path.join(work, "oracle"))
        prep_s = time.time() - t0

        job = {
            "workload": workload.name, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "queries": list(workload.queries),
            "fill_feature_store": workload.fill_feature_store,
            "data_dir": data_dir, "oracle_dir": os.path.join(work, "oracle"),
            "cores": cores, "record_path": os.path.join(work, "record.json"),
            "spans_path": stem + "-spans.json",
        }
        job_path = os.path.join(work, "job.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        tmp = os.path.join(work, "tmp")
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            # the JVM's temp files stay in the run directory; its perf
            # counters stay in memory instead of a file under /tmp; its
            # heap is fixed and touched at start-up (see DRIVER_MEM)
            SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
            PERFBENCH_SPAWNED_AT=repr(time.time()),
        )
        steal0 = cpu_steal()
        code = run_worker(job_path, env, os.path.join(work, "cwd"),
                          WORKER_DEADLINE_S - (time.time() - t_start))
        run_steal = steal_share(steal0, cpu_steal())
        if code != 0:
            _log(f"worker failed with exit code {code}")
            return None
        with open(job["record_path"]) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["data"] = data_stats
    rec["prep_s"] = prep_s
    rec["cores"] = cores
    rec["host_steal_share"] = run_steal
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1)

    if trace:
        from layers import LAYER_METRICS

        metrics = {k: {"value": rec["layers"]["metrics"][k], "unit": u} for k, u in LAYER_METRICS}
    else:
        win = rec["window"]
        values = {
            "setup_s": rec["setup_s"], "cold_pass_s": rec["cold_pass_s"],
            "warm_qps": win["warm_qps"], "query_p50_s": win["query_p50_s"],
            "query_tail_s": win["query_tail_s"], "peak_rss_mb": rec["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({
        "workload": workload.name, "seed": seed,
        "error_rate": rec["failed"] / rec["attempted"],
        "check": rec["check"], "warmup": {k: rec["warmup"][k] for k in ("rounds", "s", "opened_by")},
        "window": {k: rec["window"][k] for k in ("s", "rounds", "samples", "tail_percentile", "host_steal_share")},
        "host_steal_share": run_steal,
        "record": os.path.relpath(stem + ".json", ROOT),
    }), flush=True)
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "mapreduce6240project_spark")):
        _log(f"engine package not found under {ROOT}; run from the repository root")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    result = measure(WORKLOADS[args.workload], args.seed, args.seconds, args.trace)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
