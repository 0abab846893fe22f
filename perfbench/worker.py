"""One measured run of one workload, in a fresh process.

``run.py`` starts this script with the run's environment already set
(``SPARK_GRAFT_CPUS``, ``TMPDIR``, ``SPARK_LOCAL_DIRS``) and the time it
spawned the process in ``PERFBENCH_SPAWNED_AT``.  The run:

1. set-up: ``get_spark()`` and the workload's one-time fills;
2. cold pass: every query once, in registry order;
3. output check: every query again, collected and compared with the
   DuckDB answer ``run.py`` computed beforehand;
4. warm-up rounds until a round compiles no more Janino classes than
   the round before and HotSpot JIT used at most ``JIT_SHARE`` of the
   cores, or until another round would pass ``WARMUP_CAP_S``;
5. the window: one closed-loop client runs whole rounds, each a seeded
   permutation of the queries, until ``seconds`` have passed and the
   window holds at least ``MIN_ROUNDS`` rounds.

Every query goes through ``REGISTRY[name].fn(spark, sf_dir)`` and the
noop sink.  With tracing on, even window rounds are traced and odd ones
are not, so the run also measures what tracing costs.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

SPAWNED_AT = float(os.environ.get("PERFBENCH_SPAWNED_AT", time.time()))

import pandas as pd  # noqa: E402

import mapreduce6240project_spark.operators.clustering as clustering  # noqa: E402
import mapreduce6240project_spark.session as session_mod  # noqa: E402
import mapreduce6240project_spark.sources.tables as tables  # noqa: E402
import mapreduce6240project_spark.sources.tweets as tweets  # noqa: E402
from mapreduce6240project_spark.plans import REGISTRY  # noqa: E402
from mapreduce6240project_spark.sources.txlog import TxTable  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import layer_metrics  # noqa: E402
from oracle import mismatch, normalize  # noqa: E402
from probes import JvmProbe, cpu_steal, steal_share, tree_bytes  # noqa: E402
from spans import Tracer  # noqa: E402

#: the warm window opens once HotSpot JIT used at most this share of
#: the cores during a round ...
JIT_SHARE = 0.25
#: ... or when one more round would take warm-up past this long
WARMUP_CAP_S = 10.0
#: the window's fewest rounds.  With five or more queries a round, five
#: rounds give 25+ latencies, so the tail (ten samples beyond it) lies
#: above the median.  On joins-txlog-10x (2.2-4.7 s rounds) the window
#: is then five rounds on a fast or a slow host, and its tail falls
#: among the slowest runs of the four fast queries.  Six or seven rounds
#: put it inside regional_revenue's bimodal latencies, where it jumped
#: between the two modes from run to run
MIN_ROUNDS = 5
#: bench.py's machine-speed probe: xxhash64 + mod-sum over 5e7 rows
CALIB_ROWS = 50_000_000


def sink(df) -> None:
    """The noop sink: executes the plan and materialises every column."""
    df.write.format("noop").mode("overwrite").save()


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when that percentile would not lie
    above the median (fewer than 21 samples)."""
    s = sorted(latencies)
    n = len(s)
    if n < 21:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


class Run:
    def __init__(self, job: dict):
        self.job = job
        # registry order: the cold pass and the output check keep it
        self.queries: list[str] = [q for q in REGISTRY if q in job["queries"]]
        self.sf_dir: str = job["data_dir"]
        self.cores: int = job["cores"]
        self.rng = random.Random(job["seed"])
        self.tracer = Tracer(("mapreduce6240project_spark", "__main__")) if job["trace"] else None
        self.attempted = 0
        self.errors: list[dict] = []
        self.mismatches: dict[str, str] = {}
        self.rec: dict = {"workload": job["workload"], "seed": job["seed"]}

    # -- helpers ---------------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def execute(self, q: str, phase: str, collect: bool = False):
        """Run one query; returns (seconds, pandas result or None)."""
        self.attempted += 1
        out = None
        with self.span(f"query.{q}", phase=phase):
            t0 = time.perf_counter()
            try:
                df = REGISTRY[q].fn(self.spark, self.sf_dir)
                if collect:
                    out = df.toPandas()
                else:
                    sink(df)
            except Exception as exc:  # a failing query is counted, the run goes on
                self.errors.append({"query": q, "phase": phase, "error": repr(exc)[:500]})
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
        return dt, out

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}

    def calib(self) -> float:
        t0 = time.perf_counter()
        sink(self.calib_q)
        return time.perf_counter() - t0

    def cache_state(self) -> dict:
        return {
            "persisted_rdds": len(self.probe.persisted_rdd_ids() - self.baseline_rdds),
            "storage_mb": self.probe.storage_mb(),
            "vm_hwm_mb": self.probe.vm_hwm_mb(),
        }

    # -- phases ----------------------------------------------------------

    def setup(self) -> None:
        with self.span("setup"):
            self.spark = session_mod.get_spark(app_name="perfbench")
            if self.job["fill_feature_store"]:
                sink(tweets.feature_store(self.spark, self.sf_dir))
        self.rec["setup_s"] = time.time() - SPAWNED_AT
        self.probe = JvmProbe(self.spark)
        self.baseline_rdds = self.probe.persisted_rdd_ids()

    def cold_pass(self) -> None:
        c0, t0 = self.probe.counters(), time.perf_counter()
        times = {q: self.execute(q, "cold")[0] for q in self.queries}
        self.rec["cold_pass_s"] = time.perf_counter() - t0
        self.rec["cold_query_s"] = times
        self.rec["cold_counters"] = self.delta(c0, self.probe.counters())

    def check(self) -> dict:
        """Compare every query's output with the DuckDB answer."""
        c0 = self.probe.counters()
        for q in self.queries:
            _, got = self.execute(q, "check", collect=True)
            if got is None:
                continue
            want = pd.read_parquet(os.path.join(self.job["oracle_dir"], f"{q}.parquet"))
            reason = mismatch(normalize(got), want)
            if reason:
                self.mismatches[q] = reason
        self.rec["check"] = {q: self.mismatches.get(q, "ok") for q in self.queries}
        return self.delta(c0, self.probe.counters())

    def round(self, phase: str) -> dict:
        """One seeded permutation of the queries; returns latencies and
        counter deltas."""
        order = self.rng.sample(self.queries, len(self.queries))
        traced = self.tracer is not None and self.tracer.enabled
        first_job = self.probe.next_job_id() if traced else None
        tmp0 = tree_bytes(os.environ["TMPDIR"])
        c0, t0 = self.probe.counters(), time.time()
        lat, cache = {}, {}
        for q in order:
            if traced:
                self.spark.sparkContext.setJobGroup(q, q)
            lat[q] = self.execute(q, phase)[0]
            if traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            cache[q] = self.cache_state()
        t1 = time.time()
        r = {
            "order": order, "latency_s": lat, "start": t0, "end": t1,
            "wall_s": t1 - t0, "traced": traced,
            "counters": self.delta(c0, self.probe.counters()), "cache": cache[order[-1]],
            "cache_per_query": cache,
            "tmp_written_mb": (tree_bytes(os.environ["TMPDIR"]) - tmp0) / 1e6,
        }
        if traced:
            r["jobs"] = self.probe.jobs(first_job, self.probe.next_job_id())
        return r

    def warm_up(self, check_compiles: float) -> None:
        rounds, prev, t0, reason = [], check_compiles, time.perf_counter(), "cap"
        while True:
            r = self.round("warmup")
            rounds.append({k: r[k] for k in ("wall_s", "latency_s", "counters", "cache")})
            c = r["counters"]
            if (
                c["codegen_compiles"] <= prev
                and c["jit_ms"] <= JIT_SHARE * r["wall_s"] * 1000.0 * self.cores
            ):
                reason = "counters"
                break
            prev = c["codegen_compiles"]
            # stop before a round that would end past the cap
            if time.perf_counter() - t0 + r["wall_s"] > WARMUP_CAP_S:
                break
        self.rec["warmup"] = {
            "rounds": len(rounds), "s": time.perf_counter() - t0,
            "opened_by": reason, "per_round": rounds,
        }

    def window(self, seconds: float) -> list[dict]:
        t0 = time.time()
        deadline = t0 + seconds
        rounds = []
        steal0 = cpu_steal()
        while time.time() < deadline or len(rounds) < MIN_ROUNDS:
            if self.tracer is not None:
                self.tracer.enabled = len(rounds) % 2 == 0
            rounds.append(self.round("window"))
        if self.tracer is not None:
            self.tracer.enabled = False
        end = rounds[-1]["end"]
        lat = [v for r in rounds for v in r["latency_s"].values()]
        value, pct = tail(lat)
        by_query = {q: statistics.median(r["latency_s"][q] for r in rounds) for q in self.queries}
        self.rec["window"] = {
            "s": end - t0, "rounds": len(rounds), "samples": len(lat),
            "warm_qps": len(lat) / (end - t0),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": value, "tail_percentile": pct,
            "host_steal_share": steal_share(steal0, cpu_steal()),
            "query_median_s": by_query,
            "per_round": [
                {k: r[k] for k in ("order", "latency_s", "wall_s", "counters", "cache_per_query", "traced")}
                for r in rounds
            ],
        }
        return rounds

    # -- the run ---------------------------------------------------------

    def run(self) -> dict:
        if self.tracer is not None:
            self.install_tracing()
        self.setup()
        self.cold_pass()
        if self.tracer is not None:
            self.tracer.enabled = False
        check_counters = self.check()
        self.calib_q = (
            self.spark.range(CALIB_ROWS)
            .selectExpr("xxhash64(id) % 1000 AS b", "id")
            .groupBy("b")
            .agg({"id": "sum"})
        )
        self.calib()  # the probe's own JIT warm-up
        calib = [self.calib()]
        self.warm_up(check_counters["codegen_compiles"])
        rounds = self.window(self.job["seconds"])
        calib.append(self.calib())
        self.rec["calib_s"] = calib
        self.rec["peak_rss_mb"] = self.probe.vm_hwm_mb()
        self.rec["heap_used_mb"] = self.probe.heap_used_mb()
        self.rec["errors"] = self.errors
        self.rec["mismatches"] = self.mismatches
        self.rec["attempted"] = self.attempted
        self.rec["failed"] = len(self.errors) + len(self.mismatches)
        if self.tracer is not None:
            self.rec["layers"] = layer_metrics(self, rounds)
        # no spark.stop(): PySpark kills its JVM when the interpreter
        # exits, and run.py ends whatever is left of the process group
        return self.rec

    def install_tracing(self) -> None:
        t = self.tracer
        t.install(session_mod.get_spark, "session.start")
        t.install(tweets.feature_store, "sources.feature_store")
        t.install(tables.load_table, "sources.load_table")
        t.install(clustering.kmedoids, "operators.kmedoids")
        t.install_methods(TxTable, "sources.txlog")
        for q in self.queries:
            spec = REGISTRY[q]
            REGISTRY[q] = dataclasses.replace(spec, fn=t.install(spec.fn, f"plans.{q}"))
        t.install(sink, "exec.sink")
        t.enabled = True


def main() -> int:
    with open(sys.argv[1]) as f:
        job = json.load(f)
    run = Run(job)
    rec = run.run()
    if run.tracer is not None:
        with open(job["spans_path"], "w") as f:
            json.dump(run.tracer.spans, f)
    with open(job["record_path"], "w") as f:
        json.dump(rec, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
