"""Partition-layout invariance sweep over the whole query registry.

At 100 TB the one thing guaranteed to differ from any test run is the
physical layout: number of shuffle partitions, input split sizes, task
scheduling order.  A query whose RESULT depends on that layout (float
aggregation order at a quantization boundary, ``first()`` without an
ordering, ``limit`` without a sort, partition-keyed RNG) passes a
single-layout oracle check and then silently returns different answers
on the real cluster.

This tool runs every ``queries()`` entry twice in one session --

* layout A: ``spark.sql.shuffle.partitions=32``, default
  ``spark.sql.files.maxPartitionBytes`` (128 MB -> one split per file
  at test scale)
* layout B: ``spark.sql.shuffle.partitions=5`` (coprime with A, so
  every hash bucket moves), ``spark.sql.files.maxPartitionBytes=64k``
  (forces multi-split input scans), AQE coalescing off

-- clearing every cached frame in between (``spark.catalog.clearCache``
plus the explicit release hooks), and compares the full sorted,
stringified results.  A mismatch means the query's value depends on
physical layout, which the single-layout DuckDB oracle cannot see.

Known exception (by design, documented in the registry):
``bernoulli_sample_count`` -- ``df.sample(seed)`` is partition-keyed
RNG, so its row set legitimately changes with input splits; its
correctness contract is statistical (pytest bounds), not value-exact.

Usage::

    python tools/invariance_sweep.py [--sf DIR] [--only a,b] [--limit N]

Prints one line per query and a summary; exit 1 on any non-exempt
mismatch or error.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

# partition-keyed RNG by design: result legitimately layout-dependent
EXEMPT = {"bernoulli_sample_count"}

LAYOUT_A = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}
LAYOUT_B = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.files.maxPartitionBytes": str(64 * 1024),
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _normalize(df):
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _clear_all_caches(spark) -> None:
    spark.catalog.clearCache()
    from mapreduce6240project_spark.sources.tweets import release_feature_store

    release_feature_store(spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default="")
    ap.add_argument("--limit", type=int, default=0)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from mapreduce6240project_spark.runtime import query_run
    from mapreduce6240project_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    names = [n for n in qs if not args.only or n in set(args.only.split(","))]
    if args.limit:
        names = names[: args.limit]

    n_pass = n_fail = n_err = 0
    failed: list[str] = []
    for i, name in enumerate(names, 1):
        if name in EXEMPT:
            print(f"[{i:3d}/{len(names)}] {name:36s} exempt (partition-keyed RNG)")
            continue
        t0 = time.time()
        try:
            results = []
            for layout in (LAYOUT_A, LAYOUT_B):
                _clear_all_caches(spark)
                for k, v in layout.items():
                    spark.conf.set(k, v)
                # rebuild the plan under the new confs -- conf reads
                # happen at planning time
                with query_run():
                    results.append(_normalize(qs[name](spark, args.sf)))
            a, b = results
            if a.shape == b.shape and bool(a.equals(b)):
                n_pass += 1
                print(
                    f"[{i:3d}/{len(names)}] {name:36s} {time.time()-t0:5.1f}s  pass"
                )
            else:
                n_fail += 1
                failed.append(name)
                print(
                    f"[{i:3d}/{len(names)}] {name:36s} {time.time()-t0:5.1f}s  "
                    f"MISMATCH shapes={a.shape}/{b.shape}"
                )
                if a.shape == b.shape:
                    diff = (a != b).any(axis=1)
                    print(a[diff].head(3).to_string())
                    print(b[diff].head(3).to_string())
        except Exception:
            n_err += 1
            failed.append(name)
            print(f"[{i:3d}/{len(names)}] {name:36s} ERROR")
            traceback.print_exc(limit=3)
        finally:
            for k, v in LAYOUT_A.items():
                spark.conf.set(k, v)

    print(
        f"\nSUMMARY pass={n_pass} fail={n_fail} err={n_err} "
        f"exempt={len(EXEMPT & set(names))}"
    )
    if failed:
        print("failed:", ",".join(failed))
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
