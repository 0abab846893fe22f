"""Loaders for the driver's parquet star schema (TESTDATA.md).

Plain ``spark.read.parquet`` -- columnar scan with predicate pushdown and
column pruning from Catalyst.  At cluster scale the same call reads a
partitioned/bucketed table layout; nothing here is local-mode specific.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Columns that are *semantically* timestamps.  Some of the driver's
#: parquet files store them as TIMESTAMP(NANOS), which Spark only reads
#: as nanosecond longs (``spark.sql.legacy.parquet.nanosAsLong``); others
#: are plain microsecond timestamps.  ``load_table`` converts the
#: long-typed ones to microsecond timestamps with *truncating* integer
#: division -- exactly what DuckDB does when it coerces ns -> us, so
#: oracle comparisons on time values match bit-for-bit.
TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: session-scoped DataFrame (plan) memo: ``spark.read.parquet`` pays a
#: driver job per call (schema/footer read + file listing), and a bench
#: query loading five tables paid five such jobs before computing
#: anything (r10 profile: regional_revenue fn() = 5 jobs, ~0.5 s).  The
#: memo reuses the *unresolved plan object* -- no data is persisted;
#: every action still scans the parquet files -- exactly the metadata
#: reuse Spark itself applies to file listings (guide section 6).  Weak
#: session keys drop entries with their session, as in
#: tweets._FEATURE_STORE_CACHE.
#:
#: IMMUTABILITY ASSUMPTION (ADVICE r10): the memoized DataFrame pins the
#: parquet file-index snapshot for the session lifetime.  The driver's
#: sf directories are immutable by contract (TESTDATA.md: deterministic,
#: written once); if files under an sf_dir were rewritten mid-session,
#: cached plans would read stale listings where a fresh
#: ``spark.read.parquet`` would not.  The legacy-nanos conf side effect
#: below likewise fires only on cache misses.  A deployment that rotates
#: data within one session must call a new sf_dir path (new key) or drop
#: the session.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_CACHE.setdefault(spark, {})
    cached = per_session.get((sf_dir, name))
    if cached is not None:
        return cached
    # Self-sufficient under a *vanilla* SparkSession (e.g. the driver
    # harness): TIMESTAMP(NANOS) parquet columns are only readable with
    # this legacy conf, which is runtime-settable.  Without it the read
    # throws PARQUET_TYPE_ILLEGAL.  Setting it here (not only in
    # session.get_spark) keeps every entry point working regardless of
    # how the session was built.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # read-only conf contexts: fall through, read may still work
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in TS_COLUMNS.get(name, ()):
        if dtypes.get(col) == "bigint":  # TIMESTAMP(NANOS) read as long
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtypes.get(col, "").startswith("timestamp_ntz"):
            # normalize NTZ -> session-TZ (UTC) timestamp for uniform ops
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    per_session[(sf_dir, name)] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
