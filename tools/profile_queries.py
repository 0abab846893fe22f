"""Per-query profiler: construction vs execution time and job counts.

For each headline query (or --only list) at --sf:
  * times fn() construction (eager driver work: probes, collects, loops)
    separately from the noop-sink execution of the returned frame,
  * counts the Spark jobs each phase launched (status-tracker delta),
  * optionally dumps .explain('formatted') to plans/<name>_<tag>.txt.

Usage::

    python tools/profile_queries.py [--sf DIR] [--only a,b] [--runs 2]
        [--explain-tag before]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, as in ``bench.py``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from mapreduce6240project_spark.plans import REGISTRY  # noqa: E402
from mapreduce6240project_spark.runtime import query_run  # noqa: E402
from mapreduce6240project_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf_default, required=sf_default is None)
    ap.add_argument("--only", default="")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain-tag", default="")
    args = ap.parse_args()

    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    spark.range(1000).write.format("noop").mode("overwrite").save()

    if args.only:
        names = args.only.split(",")
    else:
        names = [s.name for s in REGISTRY.values() if s.headline]

    plans_dir = ROOT / "plans"
    plans_dir.mkdir(parents=True, exist_ok=True)

    # warm shared session caches (feature store) outside the measured
    # region, mirroring bench.py
    from mapreduce6240project_spark.sources.tweets import feature_store

    feature_store(spark, args.sf).write.format("noop").mode("overwrite").save()

    print(f"{'query':28s} {'fn_s':>7s} {'exec_s':>7s} {'total':>7s} "
          f"{'fn_jobs':>7s} {'ex_jobs':>7s}")
    for name in names:
        spec = REGISTRY[name]
        best = None
        for r in range(args.runs):
            sc.setJobDescription(f"profile:{name}")
            j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            with query_run():
                t0 = time.perf_counter()
                df = spec.fn(spark, args.sf)
                t1 = time.perf_counter()
                j1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                j2 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
                if r == 0 and args.explain_tag:
                    import contextlib
                    import io

                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        df.explain("formatted")
                    (plans_dir / f"{name}_{args.explain_tag}.txt").write_text(
                        buf.getvalue()
                    )
            sc.setJobDescription(None)
            rec = (t1 - t0, t2 - t1, t2 - t0, j1 - j0, j2 - j1)
            if best is None or rec[2] < best[2]:
                best = rec
        print(f"{name:28s} {best[0]:7.3f} {best[1]:7.3f} {best[2]:7.3f} "
              f"{best[3]:7d} {best[4]:7d}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
