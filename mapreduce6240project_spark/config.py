"""Runtime knobs shared by the adaptive operators.

Several iterative operators (k-medoids, embedding k-means, IVF/PQ Lloyd
refinement) pick between a driver-local loop (small iteration state:
fewer scheduler round-trips) and a fully distributed loop (the 100 TB
path).  The crossover is a row-count threshold; this module resolves it
at CALL time so a single environment variable can force the distributed
branch everywhere -- the mechanism behind the forced-distributed
correctness sweep (``SPARK_GRAFT_FORCE_DISTRIBUTED=1
python tools/driver_mirror.py ...``), which proves the branch that would
actually run at scale produces the same oracle-exact results.
"""

from __future__ import annotations

import os


def force_distributed() -> bool:
    """True when ``SPARK_GRAFT_FORCE_DISTRIBUTED`` is set (non-empty,
    not "0"): every adaptive operator must take its distributed loop."""
    return os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED", "") not in ("", "0")


def adaptive_threshold(explicit: int | None, default: int) -> int:
    """Resolve an adaptive driver-local threshold.

    ``explicit`` (an operator kwarg) always wins; otherwise the env
    override collapses the threshold to 0 (distributed branch), else
    ``default`` applies.
    """
    if explicit is not None:
        return explicit
    return 0 if force_distributed() else default


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with end-of-process cleanup, and the
    package's only scratch-directory source: registry queries that
    materialize side tables (txlog round-trips, format round-trips,
    streaming sinks) get a root that an ``atexit`` hook removes, so
    repeated driver_mirror / plan_lint / pytest sessions don't accumulate
    unbounded full-table copies in /tmp (review finding).  Lazy frames
    returned by those queries stay readable for the whole process
    lifetime -- cleanup only runs at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
