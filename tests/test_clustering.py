"""Clustering invariants (SURVEY.md section 5 item 4): true-nearest
assignment, medoid membership, deterministic seeds, convergence."""

from __future__ import annotations

import math

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from mapreduce6240project_spark.functions.distance import HASHTAG_WEIGHT
from mapreduce6240project_spark.operators import (
    assign_clusters,
    cluster_cost,
    kmedoids,
    sample_k_seeds,
)
from mapreduce6240project_spark.operators.clustering import _py_distance
from mapreduce6240project_spark.sources.tweets import tweet_features_from_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def feats(spark):
    return tweet_features_from_events(spark, SF).cache()


def test_sample_k_seeds_deterministic(feats):
    a = [r.tweet_id for r in sample_k_seeds(feats, 3).collect()]
    b = [r.tweet_id for r in sample_k_seeds(feats, 3).collect()]
    assert a == b and len(set(a)) == 3


def test_assignment_is_true_argmin(spark, feats):
    res = kmedoids(feats, k=3, max_iter=2)
    rows = res.assignments.limit(200).collect()
    for r in rows:
        d = [_py_distance(r.asDict(), m) for m in res.medoids]
        # fixed argmin semantics (SURVEY 2.9.1): first minimal index
        assert r.cluster == d.index(min(d))


def test_medoid_in_own_cluster(feats):
    res = kmedoids(feats, k=3, max_iter=5)
    assigned = {r.tweet_id: r.cluster for r in res.assignments.collect()}
    for i, m in enumerate(res.medoids):
        assert assigned[m["tweet_id"]] == i


def test_empty_cluster_keeps_old_medoid(spark):
    # two identical points + far seed pair: one cluster can empty out
    rows = [
        (1, "en", 0, 0, 0), (2, "en", 0, 0, 0), (3, "en", 9, 3, 1),
    ]
    df = spark.createDataFrame(
        rows, "tweet_id long, language string, num_hashtags int, time_bucket int, has_video int"
    ).withColumn("reply_count", F.lit(0)) \
     .withColumn("retweet_count", F.lit(0)).withColumn("like_count", F.lit(0))
    res = kmedoids(df, seeds=[1, 3], max_iter=3)
    assert len(res.medoids) == 2
    assert res.converged


def test_cost_decreases_or_converges(feats):
    seeds = [r.tweet_id for r in sample_k_seeds(feats, 4).collect()]
    res = kmedoids(feats, seeds=seeds, max_iter=8, tol=0.0)
    assert res.converged
    # history displacements end at zero
    assert all(d == 0.0 for d in res.history[-1])


def test_cluster_cost_matches_python(feats):
    res = kmedoids(feats, k=3, max_iter=3)
    got = {r.cluster: (r.n_members, r.total_cost)
           for r in cluster_cost(res.assignments, res.medoids).collect()}
    rows = res.assignments.collect()
    want: dict[int, list] = {}
    for r in rows:
        d = _py_distance(r.asDict(), res.medoids[r.cluster])
        n, c = want.get(r.cluster, (0, 0.0))
        want[r.cluster] = (n + 1, c + d)
    for k, (n, c) in want.items():
        assert got[k][0] == n
        assert math.isclose(got[k][1], round(c, 4), rel_tol=1e-6)


def _cache_state(spark):
    """(cached-data entries of the session's CacheManager, persisted RDD ids)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return field.get(cm).size(), sorted(int(i) for i in rdds.keySet())


@pytest.mark.parametrize("input_cached", [True, False])
def test_unknown_seeds_release_caches(spark, feats, input_cached):
    # a filter gives a plan the session has not cached, so kmedoids
    # persists its own projection of it
    src = feats if input_cached else feats.filter(F.col("tweet_id") > 0)
    before = _cache_state(spark)
    with pytest.raises(ValueError, match="seed medoid ids not found"):
        kmedoids(src, seeds=[-1, -2, -3])
    assert _cache_state(spark) == before


def test_failed_seed_draw_waits_for_probe_and_releases(spark, feats):
    # Every row fails at execution, so the seed draw raises while the
    # combo probe runs on its own thread.
    bad = feats.withColumn(
        "tweet_id", F.expr("cast(raise_error('bad row') as bigint)")
    )
    before = _cache_state(spark)
    with pytest.raises(PySparkException, match="bad row"):
        kmedoids(bad, k=3)
    assert _cache_state(spark) == before
