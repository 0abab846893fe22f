"""Query-run scope (``mapreduce6240project_spark.runtime``): tracked
frames are released when their run exits, runs are per-thread, and a
run leaves no cached or checkpointed blocks behind."""

from __future__ import annotations

import threading

import pytest

from mapreduce6240project_spark import runtime as R
from mapreduce6240project_spark.operators import dedup as D
from mapreduce6240project_spark.runtime import note, query_run, track
from tests.conftest import SF_SMALL


def _docs(spark, words: str, n: int = 40):
    return spark.createDataFrame(
        [(i, f"{words} doc {i}") for i in range(n)], "doc_id long, text string"
    )


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_query_run_scopes_release(spark):
    docs = _docs(spark, "alpha beta gamma delta")
    # outside a run track() records nothing: the frame is the caller's
    outer = track(docs.select("doc_id").persist())
    try:
        with query_run() as run:
            D.minhash_candidate_pairs(docs, collapse_identical=False).count()
            assert run.frames and all(f is not outer for f in run.frames)
        # the run's frames were released on exit; the outer frame survives
        assert all(not f.is_cached for f in run.frames)
        assert outer.is_cached
    finally:
        outer.unpersist()


def test_scope_exit_pops_by_identity():
    # two EMPTY runs hold equal (empty) frame lists; a non-well-nested
    # exit must pop its OWN run, not the first one that looks equal
    a, b = query_run(), query_run()
    ra, rb = a.__enter__(), b.__enter__()
    stack = R._local.stack
    assert stack[-2] is ra and stack[-1] is rb
    a.__exit__(None, None, None)  # exotic interleaving: outer exits first
    assert stack[-1] is rb and ra not in stack
    b.__exit__(None, None, None)
    assert rb not in stack


def test_run_decisions_thread_isolated():
    # per-thread runs: decisions noted on one thread never land in a
    # run another thread opened
    seen = {}

    def other():
        note("hot_buckets", 1)  # no run on this thread: dropped
        with query_run() as mine:
            note("hot_buckets", 99)
            note("hot_probe", "sample-clear")
        seen["other"] = mine.decisions

    with query_run() as run:
        note("hot_probe", "full")
        note("hot_buckets", 7)
        t = threading.Thread(target=other)
        t.start()
        t.join(30)
    assert not t.is_alive()
    assert run.decisions == {"hot_probe": "full", "hot_buckets": 7}
    assert seen["other"] == {"hot_buckets": 99, "hot_probe": "sample-clear"}


def test_concurrent_pipelines_release_independently(spark):
    """Two dedup pipelines on two threads, each in its own run:
    pipeline A's exit must not unpersist pipeline B's live frames."""
    docs_a = _docs(spark, "alpha beta gamma delta")
    docs_b = _docs(spark, "epsilon zeta eta theta")
    b_entered = threading.Event()
    a_done = threading.Event()
    results: dict = {}

    def run_a():
        b_entered.wait(30)
        with query_run() as ra:
            results["a_pairs"] = D.minhash_candidate_pairs(
                docs_a, collapse_identical=False
            ).count()
        results["a_frames"] = ra.frames
        a_done.set()

    def run_b():
        with query_run() as rb:
            D.minhash_candidate_pairs(docs_b, collapse_identical=False).count()
            b_entered.set()
            a_done.wait(60)
            # A exited its run; B's frames must still be cached
            results["b_alive_after_a"] = [f.is_cached for f in rb.frames]
        results["b_frames"] = rb.frames

    ta, tb = threading.Thread(target=run_a), threading.Thread(target=run_b)
    ta.start()
    tb.start()
    ta.join(60)
    tb.join(60)
    assert not ta.is_alive() and not tb.is_alive()
    assert results["a_pairs"] >= 0
    assert results["b_alive_after_a"] and all(results["b_alive_after_a"])
    assert all(not f.is_cached for f in results["a_frames"])
    assert all(not f.is_cached for f in results["b_frames"])


def test_exception_inside_run_still_releases(spark):
    with pytest.raises(RuntimeError, match="query failed"):
        with query_run() as run:
            df = track(spark.range(100).persist())
            df.count()
            raise RuntimeError("query failed")
    assert not df.is_cached
    assert run not in R._local.stack


def test_tracked_local_checkpoint_leaves_persistent_rdds(spark):
    # a localCheckpoint'ed frame has no CacheManager entry: its blocks
    # are an RDD under the LogicalRDD root, released through the plan
    before = _persistent_rdds(spark)
    with query_run():
        track(spark.range(100).localCheckpoint()).count()
        assert len(_persistent_rdds(spark) - before) == 1
    assert _persistent_rdds(spark) - before == set()


def test_headline_runs_leave_no_blocks_and_no_cross_run_reuse(spark):
    """The headline set twice, each query in its own run: after every
    query only the session's feature store (filled up front, kept on
    purpose) remains persisted, and dedup_minhash_lsh's second run
    submits as many jobs as its first -- nothing a run cached survives
    into the next one."""
    from mapreduce6240project_spark.plans import REGISTRY
    from mapreduce6240project_spark.sources.tweets import feature_store

    sc = spark.sparkContext
    feature_store(spark, SF_SMALL).count()
    baseline = _persistent_rdds(spark)
    jobs: dict = {}
    try:
        for rnd in range(2):
            for spec in (s for s in REGISTRY.values() if s.headline):
                group = f"headline-{rnd}-{spec.name}"
                sc.setJobGroup(group, group)
                with query_run():
                    spec.fn(spark, SF_SMALL).write.format("noop").mode(
                        "overwrite"
                    ).save()
                assert _persistent_rdds(spark) - baseline == set(), spec.name
                jobs[rnd, spec.name] = len(
                    sc.statusTracker().getJobIdsForGroup(group)
                )
    finally:
        sc._jsc.clearJobGroup()
    assert jobs[0, "dedup_minhash_lsh"] > 0
    assert jobs[1, "dedup_minhash_lsh"] == jobs[0, "dedup_minhash_lsh"]
