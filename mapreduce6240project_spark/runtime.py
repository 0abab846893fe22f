"""Query-run scope: the one owner of cached-intermediate lifetimes.

Operators persist or ``localCheckpoint`` intermediates that a lazily
returned result still reads, so they cannot release them before
returning: the frame must live until the caller has consumed the
result.  Each such frame is handed to :func:`track` (the storage
choice, and any eager ``count()``, stay at the call site), and whoever
consumes the result releases it: a caller that runs a query inside ``with query_run():`` -- the CLI,
``bench.py``, the tools and the tests -- gets exactly the frames its
thread tracked inside the block released when the block exits,
normally or by exception.  Outside a run :func:`track` records
nothing: a direct ``fn`` caller keeps its frames cached until it
unpersists them or the session ends, as the CacheManager would
without this module.

Runs nest as a thread-local stack, so two pipelines on two threads
release independently.  A run also carries the adaptive decisions its
operators record with :func:`note` (dedup's ``hot_probe`` /
``hot_buckets``) as ``run.decisions``.

Session-scoped caches (the feature store, the simgraph edge set) are
shared by design and never tracked.

>>> with query_run():
...     survivors = minhash_dedup(docs)
...     survivors.write.parquet(...)        # consume before exit
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame


class _Run:
    """One query's tracked frames and recorded decisions.  Compares by
    identity, so removing a run from the stack can never pop another
    (empty) run that would compare equal as a plain list."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []
        self.decisions: dict = {}


_local = threading.local()  # .stack: list[_Run], innermost last


def _stack() -> list[_Run]:
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    return stack


def track(df: DataFrame) -> DataFrame:
    """Record ``df`` -- already ``persist()``-ed or ``localCheckpoint()``-ed
    by the caller -- in the calling thread's innermost run, and return
    it.  Outside a run nothing is recorded."""
    stack = _stack()
    if stack:
        stack[-1].frames.append(df)
    return df


def note(key: str, value) -> None:
    """Record an adaptive decision on the calling thread's innermost run
    (diagnostics for tests and operators, not part of any result).
    Outside a run there is nobody to read it, so it is dropped."""
    stack = _stack()
    if stack:
        stack[-1].decisions[key] = value


@contextmanager
def query_run():
    """Scope one query: yields the run; on exit, normal or by exception,
    releases exactly the frames this thread tracked inside it.  Enter
    it around the query's construction AND the consumption of its
    result, which is lazy."""
    run = _Run()
    stack = _stack()
    stack.append(run)
    try:
        yield run
    finally:
        stack.remove(run)  # by identity (see _Run), not necessarily last
        for df in run.frames:
            _release(df)


def _release(df: DataFrame) -> None:
    """Free a tracked frame's storage.  A localCheckpoint'ed frame is
    NOT registered with the CacheManager (its persistence is RDD-level
    inside the LogicalRDD), so ``DataFrame.unpersist`` alone would be a
    silent no-op and the checkpoint blocks would linger until JVM GC --
    reach the underlying RDD through the analyzed plan and unpersist it
    directly.  BOTH releases always run: a persisted frame can itself
    root at a LogicalRDD (createDataFrame / checkpoint output), in
    which case it holds a CacheManager entry AND an RDD-level block
    set."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass
