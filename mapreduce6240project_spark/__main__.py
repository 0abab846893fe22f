"""Command-line surface: ``python -m mapreduce6240project_spark``.

The reference is driven from a shell (``hadoop jar ... <Job> <args>``,
reference: kmeans.java main / Cluster.java main); this CLI is the
equivalent switch-over surface -- every registered query runs by name
against any scale-factor directory, without writing a driver script.

Subcommands
-----------
- ``list [--refs]``            all registered query names (+ parity refs)
- ``run NAME [NAME ...]``      execute queries, print rows (``--limit``),
                               optionally ``--explain`` the physical plan
- ``oracle NAME``              print the DuckDB oracle SQL for a query
- ``sql "SELECT ..."``         ad-hoc Spark SQL over the testdata tables
                               (region nation customer supplier part
                               orders lineitem events documents
                               embeddings registered as temp views)
- ``bench``                    delegate to the repo's bench harness

``--sf`` selects the data directory (default ``$SPARK_GRAFT_SF_DIR`` or
``/root/testdata/sf0.001``).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mapreduce6240project_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--refs", action="store_true", help="show parity refs")

    p_run = sub.add_parser("run", help="run queries by name")
    p_run.add_argument("names", nargs="+")
    p_run.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")

    p_orc = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    p_orc.add_argument("name")

    p_sql = sub.add_parser("sql", help="run ad-hoc SQL over the testdata tables")
    p_sql.add_argument("query", help="Spark SQL; tables pre-registered as views")
    p_sql.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    p_sql.add_argument("--limit", type=int, default=20)
    p_sql.add_argument("--explain", action="store_true")

    sub.add_parser("bench", help="run the headline benchmark (one JSON line)")

    args = ap.parse_args(argv)

    from mapreduce6240project_spark.plans import REGISTRY

    if args.cmd == "list":
        for spec in REGISTRY.values():
            line = spec.name if not args.refs else f"{spec.name}\t{spec.ref}"
            print(line)
        return 0

    if args.cmd == "oracle":
        spec = REGISTRY.get(args.name)
        if spec is None:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        if spec.oracle is None:
            print(f"-- {args.name} is rows-only (no SQL oracle)", file=sys.stderr)
            return 1
        print(spec.oracle)
        return 0

    if args.cmd == "bench":
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import bench

        bench.main()
        return 0

    if args.cmd == "sql":
        from mapreduce6240project_spark.session import get_spark
        from mapreduce6240project_spark.sources.tables import load_table

        spark = get_spark(app_name="cli-sql")
        try:
            for t in (
                "region nation customer supplier part orders lineitem "
                "events documents embeddings"
            ).split():
                try:
                    load_table(spark, args.sf, t).createOrReplaceTempView(t)
                except Exception:  # noqa: BLE001 - missing optional table
                    pass
            df = spark.sql(args.query)
            if args.explain:
                df.explain("formatted")
            df.show(args.limit, truncate=False)
        finally:
            spark.stop()
        return 0

    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2

    from mapreduce6240project_spark.runtime import query_run
    from mapreduce6240project_spark.session import get_spark

    spark = get_spark(app_name="cli")
    try:
        for name in args.names:
            with query_run():
                df = REGISTRY[name].fn(spark, args.sf)
                print(f"== {name} ==")
                if args.explain:
                    df.explain("formatted")
                df.show(args.limit, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
