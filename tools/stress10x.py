"""One-off 10x scale-up stress (sf0.1 -> ~sf1) for selected queries.

Replicates the fact tables 10x with key offsets (dimensions stay fixed,
as they would at real scale), then times each query min-of-2 via the
noop sink at both scales and prints the ratio table that SCALE.md's
"Measured 10x scale-up" section records.

Replica semantics:
- ``lineitem.l_orderkey`` / ``orders.o_orderkey`` are offset per replica
  so order-grain joins keep their cardinality; part/supplier/customer
  keys are left as-is (each dim row simply gains 10x the fact traffic).
- ``events.event_id`` offsets preserve the unique sort key; user_id is
  unchanged (10x events per user).
- ``embeddings.vec_id`` offsets keep ids unique, and component 0 is
  shifted by +replica so replicas are NOT mutual near-duplicates --
  otherwise a 10x copy measures dup-density explosion (every vector
  becomes a 10-clique), not scale, the same caveat SCALE.md documents
  for MinHash.

Usage::

    python tools/stress10x.py [query ...]   # default: wave-9/10 set
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sparkgraft_stress10x"
REPLICAS = 10

DEFAULT_QUERIES = [
    "min_cost_supplier",
    "shipping_priority",
    "product_type_profit",
    "important_parts",
    "late_ship_modes",
    "top_supplier",
    "supplier_part_counts",
    "excess_qty_suppliers",
    "semantic_dedup",
    "ann_recall_at10",
    "user_value_trend",
]


def build_dataset() -> None:
    import duckdb

    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"CREATE TABLE reps AS SELECT unnest(range({REPLICAS})) AS rep")

    def copy(table: str, sql: str | None = None) -> None:
        out = f"{DST}/{table}.parquet"
        if os.path.exists(out):
            return
        src = f"'{SRC}/{table}.parquet'"
        q = sql.format(src=src) if sql else f"SELECT * FROM {src}"
        con.sql(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")
        print(f"  built {table}", flush=True)

    maxo = con.sql(f"SELECT max(o_orderkey)+1 FROM '{SRC}/orders.parquet'").fetchone()[0]
    maxe = con.sql(f"SELECT max(event_id)+1 FROM '{SRC}/events.parquet'").fetchone()[0]
    maxv = con.sql(f"SELECT max(vec_id)+1 FROM '{SRC}/embeddings.parquet'").fetchone()[0]

    for t in ("region", "nation", "customer", "supplier", "part"):
        copy(t)
    maxd = con.sql(f"SELECT max(doc_id)+1 FROM '{SRC}/documents.parquet'").fetchone()[0]
    # Every token gets a per-replica suffix: an injective per-replica
    # token map preserves within-replica duplicate structure EXACTLY
    # (chunk alignment, shingle sets, vocab shape all scale 10x) while
    # no chunk/shingle ever matches across replicas -- constant dup
    # density, the honest way to 10x a dedup corpus.  (A plain text
    # copy would make every paragraph a 10-clique and measure dup-
    # density explosion, not scale -- same caveat as embeddings.)
    copy(
        "documents",
        r"SELECT doc_id + rep * {m} AS doc_id, text, lang, source,"
        r" length(text) AS n_chars FROM ("
        r"SELECT doc_id, rep,"
        r" regexp_replace(text, '(\S+)', '\1' || CAST(rep AS VARCHAR), 'g') AS text,"
        r" lang, source FROM {{src}}, reps)".format(m=maxd),
    )
    copy(
        "orders",
        "SELECT o_orderkey + rep * {m} AS o_orderkey, o_custkey, o_orderstatus,"
        " o_totalprice, o_orderdate, o_orderpriority"
        " FROM {{src}}, reps".format(m=maxo),
    )
    copy(
        "lineitem",
        "SELECT l_orderkey + rep * {m} AS l_orderkey, l_partkey, l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate"
        " FROM {{src}}, reps".format(m=maxo),
    )
    copy(
        "events",
        "SELECT event_id + rep * {m} AS event_id, ts, user_id, event_type,"
        " value, props FROM {{src}}, reps".format(m=maxe),
    )
    copy(
        "embeddings",
        "SELECT vec_id + rep * {m} AS vec_id,"
        " CAST(list_concat([embedding[1] + CAST(rep AS FLOAT)],"
        "                  embedding[2:len(embedding)]) AS FLOAT[]) AS embedding,"
        " label FROM {{src}}, reps".format(m=maxv),
    )
    con.close()


def main() -> int:
    queries = sys.argv[1:] or DEFAULT_QUERIES
    print("building 10x dataset ...", flush=True)
    build_dataset()

    from mapreduce6240project_spark.plans import REGISTRY
    from mapreduce6240project_spark.runtime import query_run
    from mapreduce6240project_spark.session import get_spark

    spark = get_spark(app_name="stress10x")
    spark.range(1000).write.format("noop").mode("overwrite").save()

    def run(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):
            with query_run():
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
        return best

    print(f"{'query':28s} {'sf0.1':>8s} {'10x':>8s} {'ratio':>7s}")
    for name in queries:
        base = run(name, SRC)
        big = run(name, DST)
        print(
            f"{name:28s} {base:8.2f} {big:8.2f} {big / base:6.1f}x",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
