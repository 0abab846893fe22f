"""Distributed exact prefix ranks and running sums.

The single most common scale bug in analytic SQL is the unpartitioned
window: ``row_number() OVER (ORDER BY ...)`` / ``ntile(k) OVER (ORDER
BY ...)`` / ``sum(x) OVER (ORDER BY ...)`` funnel the WHOLE input
through one task, which is invisible at test scale and fatal at 100 TB
(the failure class ``tools/plan_lint.py`` flags as
``global_window_unbounded``).  The exact answers do not require a
global sort on one machine: a range exchange gives ordered, disjoint
key ranges per partition; per-partition counts/sums (one row per
partition) collected to the driver become literal offsets; the global
rank / running sum is then a partition-LOCAL window plus a mapped
literal.  ``operators/textstats.pack_chunks`` inlined this for token
packing; this module is the reusable form the ranking-family queries
build on (RFM ntile, Gini rank products, ABC running revenue shares,
curriculum ntile, Lorenz customer ranks).

Exactness does not depend on where the range boundaries land (they
come from Spark's range-exchange sampling): offsets are recomputed
from the actual partition contents, so any boundary placement yields
the same ranks -- which is also why the results are partition-layout
invariant (verified by tools/invariance_sweep.py for every consumer
query).

The per-partition stats collect is ``O(#partitions)`` driver rows --
bounded by cluster configuration, the same cap class as the repo's
other enum-bounded collects.

The returned frame reads the range-exchanged input pinned by a
``localCheckpoint`` (lineage truncated, blocks materialized), so the
offsets always describe the exact partitioning the final window runs
on.  A plain ``persist`` was not enough (round-5 advice): if cached
blocks were lost to an executor failure, the RECOMPUTE would re-sample
range boundaries from upstream output whose row order is not
guaranteed stable -- rows could silently shift partitions and corrupt
every rank derived from the now-stale literal offsets.  With the
checkpoint, block loss fails the job loudly instead of corrupting it
(rerun semantics, the correct trade for an exactness primitive).
The pinned frame is handed to
:func:`mapreduce6240project_spark.runtime.track`; the caller's
``query_run()`` frees its checkpoint blocks once the result has been
consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce6240project_spark.runtime import track


def distributed_prefix(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | None = None,
    rank_col: str = "_rank",
    cum_col: str = "_cum",
    total_col: str | None = None,
) -> DataFrame:
    """Add ``rank_col`` (exact 1-based global rank under the TOTAL
    order ``order_cols``) and, when ``value_col`` is given, ``cum_col``
    (exact inclusive running sum of ``value_col`` in that order) --
    with no unpartitioned window.

    ``order_cols`` must be a total order (callers tiebreak on a key
    column, as every window in this repo already does); with ties the
    rank would depend on intra-partition order.
    """
    # localCheckpoint (not persist): the per-pid offsets below are
    # baked into the plan as literals, so the partition contents MUST
    # be the materialized blocks the offsets were computed from -- a
    # lineage recompute after block loss could re-sample the range
    # boundaries and silently shift rows across pids (module
    # docstring).  eager=False defers materialization to the stats
    # collect, which is the first action anyway.  (tools/plan_lint.py
    # treats the resulting RDDScanExec as unbounded, like every
    # localCheckpoint scan.)
    d = track(
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("_s"))
    stats = {r["_pid"]: r for r in d.groupBy("_pid").agg(*aggs).collect()}
    rank_off: dict[int, int] = {}
    cum_off: dict[int, int] = {}
    run_n = 0
    run_s = 0
    # range partition ids ascend with the key ranges, so iterating pids
    # in order walks the global order
    for pid in sorted(stats):
        rank_off[pid] = run_n
        run_n += stats[pid]["_n"]
        if value_col is not None:
            cum_off[pid] = run_s
            run_s += stats[pid]["_s"] or 0
    rmap = F.create_map(
        *[F.lit(x) for kv in sorted(rank_off.items()) for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = d.withColumn(
        rank_col, F.row_number().over(w) + rmap[F.col("_pid")]
    )
    if value_col is not None:
        cmap = F.create_map(
            *[F.lit(x) for kv in sorted(cum_off.items()) for x in kv]
        )
        out = out.withColumn(
            cum_col, F.sum(value_col).over(w) + cmap[F.col("_pid")]
        )
    if total_col is not None:
        # the exact row count fell out of the offsets pass -- expose it
        # so NTILE-style consumers need no second count job
        out = out.withColumn(total_col, F.lit(run_n))
    return out.drop("_pid")


def ntile_from_rank(rank_col: str, n_col: str, k: int):
    """Exact SQL ``NTILE(k)`` bucket from the 1-based global rank in
    column ``rank_col`` over the ``n_col`` total rows (use
    ``distributed_prefix(..., total_col=...)`` -- the count falls out
    of the offsets pass for free): the first ``n mod k`` tiles hold
    ``n div k + 1`` rows, the rest ``n div k`` -- the same arithmetic
    Spark and DuckDB use, so replacing the window form with
    rank+formula is value-identical.  Integer ``div`` throughout (no
    float division to mis-bin past 2^53)."""
    base = f"({n_col} div {k})"
    rem = f"({n_col} % {k})"
    threshold = f"(({base} + 1) * {rem})"
    return F.expr(
        f"CAST(CASE WHEN {base} = 0 THEN {rank_col}"
        f" WHEN {rank_col} <= {threshold}"
        f" THEN ({rank_col} - 1) div ({base} + 1) + 1"
        f" ELSE {rem} + ({rank_col} - {threshold} - 1) div {base} + 1"
        f" END AS BIGINT)"
    )
