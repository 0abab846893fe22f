from __future__ import annotations

import pytest

from mapreduce6240project_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


def cache_snapshot(spark):
    """The session CacheManager's entries: an immutable JVM Seq that
    Spark replaces on every cache/uncache, so a held snapshot is a
    stable "before" (private field, read reflectively)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm)


def _cache_entry(spark, df):
    opt = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return opt.get() if opt.isDefined() else None


def kept_session_frames(spark) -> list:
    """The session-scoped caches kept on purpose -- the feature store and
    the simgraph edge set -- that currently hold a CacheManager entry
    (a test that clears the whole cache leaves stale ones behind)."""
    from mapreduce6240project_spark.operators import graph
    from mapreduce6240project_spark.sources import tweets

    kept = list(tweets._FEATURE_STORE_CACHE.get(spark, {}).values())
    kept += list((graph._SIMGRAPH_CACHE or {}).get(spark, {}).values())
    return [df for df in kept if _cache_entry(spark, df) is not None]


def dropped_kept_frames(spark, kept) -> int:
    """How many of the kept session frames ``kept`` (taken before a
    run) have lost their CacheManager entry."""
    return sum(_cache_entry(spark, df) is None for df in kept)


def leaked_cache_entries(spark, before) -> int:
    """How many CacheManager entries were added since ``before``, not
    counting the kept session caches (:func:`kept_session_frames`)."""
    new = cache_snapshot(spark).diff(before)
    if new.isEmpty():
        return 0
    kept_entries = [_cache_entry(spark, df) for df in kept_session_frames(spark)]
    n = 0
    it = new.iterator()
    while it.hasNext():
        e = it.next()
        n += not any(e.equals(k) for k in kept_entries)
    return n


def waterfill_reference(supplies: dict, budget: int) -> dict:
    """Shared max-min fair (waterfilling) reference implementation used
    by test_wave103 and test_properties_waterfill -- one copy so the
    two suites cannot silently diverge (review finding)."""
    alloc = {s: 0 for s in supplies}
    live = dict(supplies)
    b = budget
    while live:
        share = b // len(live)
        served = {s: n for s, n in live.items() if n <= share}
        if not served:
            order = sorted(live, key=lambda s: (live[s], s))
            rem = b - share * len(live)
            for j, s in enumerate(order):
                alloc[s] = share + (1 if j < rem else 0)
            return alloc
        for s, n in served.items():
            alloc[s] = n
            b -= n
            del live[s]
    return alloc
