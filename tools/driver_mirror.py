"""Mirror of the external driver's correctness gate, runnable locally.

Runs every ``queries()`` entry on a VANILLA SparkSession (no repo session
configs -- exactly the harness's environment, which is how round 2's
``nanosAsLong`` session-config dependency slipped through local tests)
against ``/root/testdata/sf0.01``, runs the paired ``oracle_sql()`` on
DuckDB views over the same parquet, and compares row count, sorted
column names, and order-insensitive stringified values.

Usage::

    python tools/driver_mirror.py [--limit 50] [--only name1,name2] [--sf DIR]

Prints one status line per query and a final summary; exits non-zero if
any checked query mismatches or errors.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=0, help="check first N only")
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from mapreduce6240project_spark.runtime import query_run

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-mirror")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = list(qs)
    if args.only:
        names = [n for n in args.only.split(",") if n in qs]
    elif args.limit:
        names = names[: args.limit]

    n_pass = n_rows_only = n_fail = n_err = 0
    failures: list[str] = []
    for i, name in enumerate(names, 1):
        t0 = time.monotonic()
        try:
            # the run releases what the query cached once it is consumed,
            # so a 465-query session does not accumulate them
            with query_run():
                got = qs[name](spark, args.sf).toPandas()
            if name not in oracles:
                n_rows_only += 1
                status = f"rows_only ({len(got)} rows)"
            else:
                want = duck.sql(oracles[name]).df()
                g, w = _normalize(got), _normalize(want)
                if list(g.columns) != list(w.columns):
                    status, n_fail = (
                        f"FAIL cols {list(g.columns)} vs {list(w.columns)}",
                        n_fail + 1,
                    )
                    failures.append(name)
                elif g.shape != w.shape:
                    status, n_fail = f"FAIL shape {g.shape} vs {w.shape}", n_fail + 1
                    failures.append(name)
                elif not g.equals(w):
                    neq = (g != w).any(axis=1).sum()
                    status, n_fail = f"FAIL values ({neq} rows differ)", n_fail + 1
                    failures.append(name)
                else:
                    status, n_pass = "pass", n_pass + 1
        except Exception:
            status, n_err = "ERR " + traceback.format_exc().splitlines()[-1], n_err + 1
            failures.append(name)
        print(
            f"[{i:3d}/{len(names)}] {name:34s} {time.monotonic() - t0:6.1f}s  {status}",
            flush=True,
        )

    print(
        f"\nSUMMARY pass={n_pass} rows_only={n_rows_only} fail={n_fail} err={n_err}"
    )
    if failures:
        print("failures:", ",".join(failures))
    spark.stop()
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
