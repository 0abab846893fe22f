"""SparkSession construction.

Local-mode settings match the driver harness (local[N], AQE on, UTC
timestamps so the DuckDB oracle compares cleanly). On a real cluster the
same builder works -- only master/memory change; the AQE + Arrow settings
are the ones we want at 100 TB too (runtime shuffle-partition coalescing,
skew-join splitting, vectorized Python interop).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries in Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``, default 100).  The cache is LRU, so a workload that
#: cycles through more distinct classes than it holds misses on every
#: access: each warm round recompiles its code with Janino and HotSpot
#: JIT-compiles the new classes again.  Measured working sets: the
#: perfbench joins-txlog-10x round needs 123 classes, bench.py's 15
#: headline queries 214, kmedoids-sf0.1 fewer than 100.  The full
#: registry at sf0.001 compiles 5,470 classes; metaspace grew 91 -> 304
#: MB over that run, i.e. <= ~40 KB per class, so 1000 entries cost at
#: most ~40 MB off-heap.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "mapreduce6240project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``shuffle_partitions`` defaults to the core count -- at 100 TB you
    would raise it (or let AQE coalesce from a high initial number);
    locally 200 default partitions would just add scheduling overhead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    # Make the package importable on PYTHON WORKERS regardless of the
    # consumer's cwd: a driver script that did sys.path.insert(0, repo)
    # mutates only its own interpreter, so any UDF closure referencing a
    # module-level function (cloudpickle serializes those BY REFERENCE)
    # would die in the worker with ModuleNotFoundError.  Exporting the
    # repo root on PYTHONPATH before the JVM/daemon launches propagates
    # it to every worker; on a real cluster the same job ships the
    # package via --py-files / an env image instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's parquet files carry TIMESTAMP(NANOS) columns, which
        # Spark's vectorized reader rejects by default; read them as raw
        # nanosecond longs and convert centrally in sources.tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
