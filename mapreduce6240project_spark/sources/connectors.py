"""Optional-format connectors: lakehouse table formats.

The engine's IO core (parquet/CSV/TSV/JSON/text) needs nothing beyond
stock Spark and is exercised by the registry round-trip queries.  The
formats below need extra jars that are NOT in this container, so each
is gated behind a capability probe with a clear error naming the
missing dependency -- the call sites and option plumbing are real, so
dropping the jar on the classpath is the only change needed.

At 100 TB the lakehouse formats are what you actually want under the
feature store: ACID upserts for the assignment table, time travel for
reproducible training snapshots, compaction for the small-file problem.
``write_feature_store`` already produces the sorted/bucketed layout
these formats preserve.

The commit PROTOCOL itself does not need the jars: ``sources.txlog``
implements a working parquet + JSON-commit-log table (atomic
create-exclusive commits, optimistic concurrency, snapshot/time-travel
reads, copy-on-write file-pruned MERGE/DELETE, checkpoints, vacuum) --
use it where a real ACID table is needed in this container; these
gated probes remain the integration points for the off-the-shelf
formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_FORMAT_PROBES = {
    "delta": "io.delta.tables.DeltaTable",
    "iceberg": "org.apache.iceberg.spark.SparkCatalog",
    "hudi": "org.apache.hudi.DataSourceReadOptions",
}


def _has_class(spark: SparkSession, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def lakehouse_available(spark: SparkSession, fmt: str) -> bool:
    if fmt not in _FORMAT_PROBES:
        raise ValueError(f"unknown lakehouse format {fmt!r}; one of {list(_FORMAT_PROBES)}")
    return _has_class(spark, _FORMAT_PROBES[fmt])


def write_lakehouse(df: DataFrame, path: str, fmt: str = "delta", mode: str = "overwrite") -> None:
    """Write a table in a lakehouse format (delta/iceberg/hudi)."""
    spark = df.sparkSession
    if not lakehouse_available(spark, fmt):
        raise NotImplementedError(
            f"{fmt} jars are not on the classpath in this environment; add the "
            f"{fmt} runtime package (e.g. --packages) to enable. The write path "
            "below is otherwise complete."
        )
    df.write.format(fmt).mode(mode).save(path)


def read_lakehouse(spark: SparkSession, path: str, fmt: str = "delta") -> DataFrame:
    if not lakehouse_available(spark, fmt):
        raise NotImplementedError(
            f"{fmt} jars are not on the classpath in this environment; add the "
            f"{fmt} runtime package to enable."
        )
    return spark.read.format(fmt).load(path)
