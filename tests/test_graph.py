"""Connected-components correctness, incl. the open-triangle case where
greedy pair-dropping over-keeps."""

from __future__ import annotations

import pytest

from mapreduce6240project_spark.operators.graph import (
    connected_components,
    dedup_by_components,
)
from tests.conftest import SF_SMALL, cache_snapshot, leaked_cache_entries


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_chain_and_star_and_isolated_pair(spark):
    # chain 1-2-3, star 10-(11,12), pair 20-21
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (10, 12), (20, 21)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_open_triangle_merges_transitively(spark):
    # edges (1,3), (2,3) only -- greedy drop-id_b would keep {1, 2};
    # transitively they are ONE cluster -> only 1 survives
    got = _cc(spark, [(1, 3), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_path_converges(spark):
    # path 0-1-2-...-9: worst-case diameter for label propagation
    got = _cc(spark, [(i, i + 1) for i in range(9)])
    assert set(got.values()) == {0} and len(got) == 10


def test_dedup_by_components(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(6)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    survivors = {r.doc_id for r in dedup_by_components(docs, pairs).collect()}
    assert survivors == {0, 1, 4, 5}  # 2 and 3 fold into component 1


def test_pagerank_star_hub_wins(spark):
    from mapreduce6240project_spark.operators.graph import pagerank_quantized

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    pr = {r.node: r.pr for r in pagerank_quantized(pairs, n_iter=5).collect()}
    assert set(pr) == {1, 2, 3, 4}
    assert pr[1] > pr[2] == pr[3] == pr[4]
    # quantized mass conservation: total within n_iter*N ulps of 1.0
    assert abs(sum(pr.values()) - 10**12) < 100


def test_pagerank_partition_invariant(spark):
    from mapreduce6240project_spark.operators.graph import pagerank_quantized

    pairs = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(1, 23)], "id_a long, id_b long"
    ).filter("id_a != id_b")
    a = sorted((r.node, r.pr) for r in pagerank_quantized(pairs).collect())
    b = sorted(
        (r.node, r.pr)
        for r in pagerank_quantized(pairs.repartition(13)).collect()
    )
    assert a == b  # integer arithmetic: bit-exact under any partitioning


def test_degree_histogram_star(spark):
    from mapreduce6240project_spark.operators.graph import degree_histogram

    # star K1,3: center degree 3, leaves degree 1
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    got = {r.degree: r.n_nodes for r in degree_histogram(pairs).collect()}
    assert got == {3: 1, 1: 3}


def test_global_clustering_triangle_plus_tail(spark):
    from mapreduce6240project_spark.operators.graph import global_clustering

    # triangle 0-1-2 plus tail 2-3: T=1, wedges = C(2,2)+C(2,2)+C(3,2)+0
    # = 1 + 1 + 3 = 5 -> gcc = 3/5 = 0.6
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "id_a long, id_b long"
    )
    r = global_clustering(pairs).first()
    assert r.n_triangles == 1
    assert r.n_wedges == 5
    assert r.gcc_micros == 600000


def test_global_clustering_no_wedges_is_null(spark):
    from mapreduce6240project_spark.operators.graph import global_clustering

    # single edge: no wedges, coefficient undefined (null)
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    r = global_clustering(pairs).first()
    assert r.n_triangles == 0 and r.n_wedges == 0 and r.gcc_micros is None


def test_global_clustering_error_waits_for_wedges_and_releases(
    spark, monkeypatch
):
    # the triangle count fails while the wedge job runs on its own
    # thread: the call must not return with that job still running or
    # its own persist of the edge set left behind
    from mapreduce6240project_spark.operators import graph

    def fail(*_a, **_k):
        raise RuntimeError("triangle count failed")

    wedges_done = []

    def first_row(df):  # only the wedge job calls it once triangles fail
        row = real_first_row(df)
        wedges_done.append(row)
        return row

    real_first_row = graph.first_row
    monkeypatch.setattr(graph, "triangle_count", fail)
    monkeypatch.setattr(graph, "first_row", first_row)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "id_a long, id_b long"
    )
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = cache_snapshot(spark), set(tracker.getActiveJobsIds())
    with pytest.raises(RuntimeError, match="triangle count failed"):
        graph.global_clustering(pairs)
    assert wedges_done, "returned while the wedge job was still running"
    bus.waitUntilEmpty()  # job-end events reach the status store
    assert leaked_cache_entries(spark, before[0]) == 0
    assert set(tracker.getActiveJobsIds()) == before[1]
    assert not pairs.is_cached


def test_graph_diameter_sweep_keeps_shared_simgraph(spark):
    # the simgraph edge set is session-scoped: a consumer that
    # unpersists it makes every later graph query recompute the n-gram
    # Jaccard join
    from mapreduce6240project_spark.operators.graph import simgraph_pairs
    from mapreduce6240project_spark.plans import REGISTRY
    from mapreduce6240project_spark.runtime import query_run

    shared = simgraph_pairs(spark, SF_SMALL)
    with query_run():
        REGISTRY["graph_diameter_sweep"].fn(spark, SF_SMALL).collect()
    assert shared.is_cached and shared.storageLevel.useMemory


def test_bfs_hops_chain_and_unreachable(spark):
    from mapreduce6240project_spark.operators.graph import bfs_hops

    # chain 0-1-2-3-4 plus disconnected 7-8; from 0 with max_hops=3 the
    # reachable set is {0:0, 1:1, 2:2, 3:3}; 4 is 4 hops away and 7/8
    # are in another component -- neither appears.
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {r.node: r.hops for r in bfs_hops(pairs, source=0, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_hops_takes_shortest_path(spark):
    from mapreduce6240project_spark.operators.graph import bfs_hops

    # diamond 0-1, 0-2, 1-3, 2-3: node 3 is reachable two ways, hops
    # must be the shortest (2), and early termination on an empty
    # frontier must not truncate the result.
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    got = {r.node: r.hops for r in bfs_hops(pairs, source=0, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}


def test_connected_components_paths_agree(spark):
    from mapreduce6240project_spark.operators.graph import connected_components

    # chain + triangle + singleton edge: exercises merging and min-label
    pairs = spark.createDataFrame(
        [(5, 6), (1, 2), (2, 3), (8, 9), (9, 10), (8, 10)],
        "id_a long, id_b long",
    )
    fast = {
        (r.node, r.component) for r in connected_components(pairs).collect()
    }
    slow = {
        (r.node, r.component)
        for r in connected_components(pairs, driver_edge_cap=0).collect()
    }
    assert fast == slow
    assert fast == {
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (8, 8), (9, 8), (10, 8),
    }


def test_label_propagation_truncation_warns(spark):
    # a 30-node path with max_iter=3 on the DISTRIBUTED branch cannot
    # converge -- the operator must warn instead of silently returning
    # split component labels (round-3 advice)
    import warnings

    from mapreduce6240project_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(pairs, max_iter=3, driver_edge_cap=0)
        out.collect()
        assert any("label propagation" in str(x.message) for x in w)

    # and a converging run must NOT warn
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cc = connected_components(pairs, max_iter=50, driver_edge_cap=0)
        assert cc.select("component").distinct().count() == 1
        assert not any("label propagation" in str(x.message) for x in w)


def test_label_propagation_strict_raises(spark):
    # strict=True turns the truncation warning into a hard error so
    # automated pipelines fail loudly (round-4 advice)
    from mapreduce6240project_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="label propagation"):
        connected_components(pairs, max_iter=3, driver_edge_cap=0, strict=True)
    # a converged strict run returns normally
    cc = connected_components(pairs, max_iter=50, driver_edge_cap=0, strict=True)
    assert cc.select("component").distinct().count() == 1
