"""Per-layer metrics of a traced run, from its spans and Spark jobs.

Window figures are per traced round (a round runs every query once), so
they do not depend on how many rounds fit in the window.  Layers that a
workload never enters (the feature store on ``joins-txlog-10x``, txlog
and k-medoids on ``kmedoids-sf0.1``) are reported as shares of the
window or of set-up, which are truly zero there; their seconds are in
the run record's ``self_s_per_round`` table.
"""

from __future__ import annotations

import statistics

#: (metric name, unit) in the order the run reports them
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("sources.feature_store_fill_share", "%"),
    ("sources.load_table_s", "s"),
    ("sources.load_table_calls", "count"),
    ("sources.txlog.commit_share", "%"),
    ("sources.txlog.calls", "count"),
    ("sources.txlog.bytes_written_mb", "MB"),
    ("plans.construct_s", "s"),
    ("plans.construct_self_s", "s"),
    ("plans.construct_jobs", "count"),
    ("operators.kmedoids_share", "%"),
    ("operators.kmedoids_jobs", "count"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.core_idle_share", "%"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.failed_tasks", "count"),
    ("jvm.cold_codegen_compiles", "count"),
    ("jvm.cold_jit_ms", "ms"),
    ("jvm.codegen_compiles", "count"),
    ("jvm.jit_ms", "ms"),
    ("jvm.gc_ms", "ms"),
    ("jvm.heap_used_mb", "MB"),
    ("cache.persisted_rdds_after", "count"),
    ("cache.storage_mb", "MB"),
    ("machine.calib_s", "s"),
    ("trace.overhead_qps", "1/s"),
)


def _qps(rounds: list[dict]) -> float:
    n = sum(len(r["latency_s"]) for r in rounds)
    return n / sum(r["wall_s"] for r in rounds)


def layer_metrics(run, rounds: list[dict]) -> dict:
    """Metrics and detail of a traced run; ``rounds`` are its window rounds."""
    t = run.tracer
    traced = [r for r in rounds if r["traced"]]
    n = len(traced)

    # Spark jobs become child spans of the innermost span open when
    # they were submitted
    jobs = []
    for r in traced:
        cand = [
            s["id"] for s in t.spans
            if s["end"] is not None and r["start"] <= s["start"] and s["end"] <= r["end"]
        ]
        for j in r["jobs"]:
            parent = t.innermost(j["start"], cand) if j["start"] is not None else None
            t.add_span("spark.job", j["start"] or r["start"], j["end"] or j["start"] or r["start"],
                       parent, job_id=j["id"], group=j["group"])
            j["under"] = {s["name"] for s in t.ancestors(parent)}
            jobs.append(j)
    self_s = t.self_times()

    def in_window(s) -> bool:
        return any(r["start"] <= s["start"] and s["end"] <= r["end"] for r in traced)

    def outermost(prefix: str, keep) -> list[dict]:
        return [
            s for s in t.spans
            if s["end"] is not None and s["name"].startswith(prefix) and keep(s)
            and not any(a["name"].startswith(prefix) for a in t.ancestors(s["parent"]))
        ]

    def under_phase(s, phase: str) -> bool:
        return any(a.get("phase") == phase or a["name"] == phase for a in t.ancestors(s["id"]))

    def dur(spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    wall = sum(r["wall_s"] for r in traced)
    plans = outermost("plans.", in_window)
    stages = [st for j in jobs for st in j["stages"] if st["status"] != "SKIPPED"]
    run_s = sum(st["run_s"] for st in stages)
    setup_span = next(s for s in t.spans if s["name"] == "setup")
    cold_lt = [s for s in outermost("sources.load_table", lambda s: under_phase(s, "cold"))]
    win_counters = [r["counters"] for r in rounds]
    untraced = [r for r in rounds if not r["traced"]] or [run.rec["warmup"]["per_round"][-1]]
    cache_q = [c["persisted_rdds"] for r in traced for c in r["cache_per_query"].values()]

    m = {
        "session.start_s": dur(s for s in t.spans if s["name"] == "session.start"),
        "sources.feature_store_fill_share": 100.0 * dur(
            outermost("sources.feature_store", lambda s: under_phase(s, "setup"))
        ) / (setup_span["end"] - setup_span["start"]),
        "sources.load_table_s": dur(cold_lt),
        "sources.load_table_calls": len(cold_lt),
        "sources.txlog.commit_share": 100.0 * dur(outermost("sources.txlog.", in_window)) / wall,
        "sources.txlog.calls": len(outermost("sources.txlog.", in_window)) / n,
        "sources.txlog.bytes_written_mb": sum(r["tmp_written_mb"] for r in traced) / n,
        "plans.construct_s": dur(plans) / n,
        "plans.construct_self_s": sum(self_s[s["id"]] for s in plans) / n,
        "plans.construct_jobs": sum(any(x.startswith("plans.") for x in j["under"]) for j in jobs) / n,
        "operators.kmedoids_share": 100.0 * dur(outermost("operators.kmedoids", in_window)) / wall,
        "operators.kmedoids_jobs": sum("operators.kmedoids" in j["under"] for j in jobs) / n,
        "exec.s": dur(outermost("exec.sink", in_window)) / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": sum(st["tasks"] for st in stages) / n,
        "exec.task_run_s": run_s / n,
        "exec.task_cpu_s": sum(st["cpu_s"] for st in stages) / n,
        "exec.core_idle_share": 100.0 * (1.0 - run_s / (wall * run.cores)),
        "exec.shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages) / n,
        "exec.shuffle_read_mb": sum(st["shuffle_read_mb"] for st in stages) / n,
        "exec.spill_mb": sum(st["spill_mb"] for st in stages) / n,
        "exec.failed_tasks": sum(st["failed_tasks"] for st in stages) / n,
        "jvm.cold_codegen_compiles": run.rec["cold_counters"]["codegen_compiles"],
        "jvm.cold_jit_ms": run.rec["cold_counters"]["jit_ms"],
        "jvm.codegen_compiles": statistics.mean(c["codegen_compiles"] for c in win_counters),
        "jvm.jit_ms": statistics.mean(c["jit_ms"] for c in win_counters),
        "jvm.gc_ms": statistics.mean(c["gc_ms"] for c in win_counters),
        "jvm.heap_used_mb": run.rec["heap_used_mb"],
        "cache.persisted_rdds_after": statistics.mean(cache_q) if cache_q else 0.0,
        "cache.storage_mb": rounds[-1]["cache"]["storage_mb"],
        "machine.calib_s": statistics.median(run.rec["calib_s"]),
        "trace.overhead_qps": _qps(untraced) - _qps(traced),
    }

    per_query = {}
    for q in run.queries:
        spans_q = [s for s in plans if s["name"] == f"plans.{q}"]
        per_query[q] = {
            "construct_s": dur(spans_q) / max(len(spans_q), 1),
            "construct_jobs": sum(
                f"plans.{q}" in j["under"] for j in jobs
            ) / n,
            "jobs": sum(j["group"] == q for j in jobs) / n,
            "persisted_rdds_after": [r["cache_per_query"][q]["persisted_rdds"]
                                     for r in traced if q in r["cache_per_query"]],
        }
    by_name: dict[str, float] = {}
    for s in t.spans:
        if s["end"] is not None and in_window(s):
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + self_s[s["id"]] / n
    return {
        "metrics": m,
        "traced_rounds": n,
        "per_query": per_query,
        "self_s_per_round": dict(sorted(by_name.items(), key=lambda kv: -kv[1])),
        "qps": {"traced": _qps(traced), "untraced": _qps(untraced)},
    }
