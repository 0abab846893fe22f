"""Mirror of the driver's t2 correctness gate: run every registry query
on Spark and its oracle on DuckDB at sf0.001 (fast) and compare
row-count + schema-width + order-insensitive values.  Each query runs
inside ``query_run()``; once the run exits, the CacheManager must hold
no entry it did not hold before (the session-scoped feature store and
simgraph caches excepted), and every such session cache present before
the run must still be cached after it."""

from __future__ import annotations

import pandas as pd
import pytest

from mapreduce6240project_spark.plans import REGISTRY
from mapreduce6240project_spark.runtime import query_run
from tests.conftest import (
    cache_snapshot,
    dropped_kept_frames,
    kept_session_frames,
    leaked_cache_entries,
)

SF = "/root/testdata/sf0.001"

ORACLE_SPECS = [s for s in REGISTRY.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in REGISTRY.values() if s.oracle is None]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_oracle_match(spark, duck, spec):
    before, kept = cache_snapshot(spark), kept_session_frames(spark)
    with query_run():
        got = _normalize(spec.fn(spark, SF).toPandas())
    assert leaked_cache_entries(spark, before) == 0
    assert dropped_kept_frames(spark, kept) == 0
    want = _normalize(duck.sql(spec.oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: {list(got.columns)} vs {list(want.columns)}"
    )
    assert got.shape == want.shape
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=lambda s: s.name)
def test_rows_only_runs(spark, spec):
    before, kept = cache_snapshot(spark), kept_session_frames(spark)
    with query_run():
        df = spec.fn(spark, SF)
        assert df.count() >= 0
    assert len(df.columns) > 0
    assert leaked_cache_entries(spark, before) == 0
    assert dropped_kept_frames(spark, kept) == 0
