"""Second-wave relational + temporal coverage: as-of / interval joins,
rollup/cube, pivot, exact quantiles, distinct counts, IO round-trips,
sampling, iterative elbow, exact embedding pairs, stateful streaming.

Registered into the shared REGISTRY (imported by plans/__init__).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce6240project_spark.config import scratch_dir
from mapreduce6240project_spark.functions.numeric import stable_sum_micros
from mapreduce6240project_spark.operators.clustering import elbow
from mapreduce6240project_spark.operators.joins import as_of_join, interval_join
from mapreduce6240project_spark.operators.sampling import bernoulli_sample
from mapreduce6240project_spark.operators.similarity import cosine
from mapreduce6240project_spark.operators.sketch import hll_distinct, hll_oracle_sql
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.sources.tables import load_table
from mapreduce6240project_spark.sources.tweets import feature_store


@_register(
    "asof_last_signup",
    """
SELECT event_id,
       max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS signup_us
FROM events""",
    ref="extension: backward as-of join (union+window formulation; Spark lacks a native as-of)",
    headline=True,
)
def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").withColumn(
        "signup_us", F.unix_micros("ts")
    )
    joined = as_of_join(
        ev, signups, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["signup_us"], suffix="",
    )
    return joined.select("event_id", "signup_us")


@_register(
    "interval_pairs_60s",
    """
SELECT a.user_id, count(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
GROUP BY a.user_id""",
    ref="extension: interval (range) join via time-bucketized equi-join",
)
def q_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = interval_join(
        ev, ev, key="user_id", left_ts="ts", right_ts="ts",
        tolerance_s=60, right_cols=["event_id"], suffix="_r",
    ).filter(F.col("event_id") < F.col("event_id_r"))
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


@_register(
    "rollup_revenue",
    """
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
       round(sum(CAST(floor((l_extendedprice) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_base, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    ref="extension: hierarchical rollup aggregation (free via df.rollup)",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        stable_sum_micros("l_extendedprice").alias("sum_base"),
        F.count("*").alias("n"),
    )


@_register(
    "cube_order_counts",
    """
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_s, grouping(o_orderpriority) AS g_p,
       count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    ref="extension: cube aggregation (free via df.cube)",
)
def q_cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_s"),
        F.grouping("o_orderpriority").cast("int").alias("g_p"),
        F.count("*").alias("n"),
    )


@_register(
    "pivot_status_by_segment",
    """
SELECT c.c_mktsegment,
       count(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS n_open,
       count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS n_filled,
       count(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS n_partial
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment""",
    ref="extension: pivot (df.groupBy().pivot())",
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    piv = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_filled"),
        F.coalesce("P", F.lit(0)).alias("n_partial"),
    )


@_register(
    "distinct_users",
    "SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM events",
    ref="extension: distinct aggregation (expand + two-phase agg)",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@_register(
    "approx_distinct_users",
    None,  # HLL++ sketch values are engine-specific; bounds checked in tests
    ref="extension: approximate distinct (engine-native HyperLogLog++ sketch)",
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.approx_count_distinct("user_id").alias("n_users_approx"))


@_register(
    "approx_distinct_ci",
    """
WITH e AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM events)
SELECT n_exact AS n_exact_users,
       CAST(n_exact - n_exact * 15 // 100 AS BIGINT) AS lo,
       CAST(n_exact + n_exact * 15 // 100 AS BIGINT) AS hi,
       TRUE AS within_bounds
FROM e""",
    ref="extension: external verdict for the HLL++ sketch (r7 verdict "
    "item 3, bernoulli_sample_ci pattern): approx_count_distinct's "
    "estimate is engine-specific and not value-hashable, but its "
    "15-percent accuracy envelope around the EXACT distinct count IS -- "
    "the query emits (n_exact_users, lo, hi, within_bounds) with the "
    "oracle pinning within_bounds = TRUE.  The margin is 3x the default "
    "rsd 0.05 (worst measured: 6.7 percent at sf0.1); the sketch is "
    "deterministic per dataset, so the verdict cannot flake across runs",
)
def q_approx_distinct_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.approx_count_distinct("user_id").alias("n_approx"),
        F.count_distinct("user_id").cast("bigint").alias("n_exact"),
    )
    lo = F.expr("CAST(n_exact - n_exact * 15 div 100 AS BIGINT)")
    hi = F.expr("CAST(n_exact + n_exact * 15 div 100 AS BIGINT)")
    return agg.select(
        F.col("n_exact").alias("n_exact_users"),
        lo.alias("lo"),
        hi.alias("hi"),
        ((F.col("n_approx") >= lo) & (F.col("n_approx") <= hi)).alias(
            "within_bounds"
        ),
    )


@_register(
    "hll_distinct_users",
    hll_oracle_sql("events", "user_id"),
    ref="extension: approximate distinct (portable HyperLogLog, md5 hash; "
    "fully oracle-replayable unlike approx_count_distinct)",
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id")


@_register(
    "value_quantiles",
    """
SELECT round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.50), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events""",
    ref="extension: exact interpolated quantiles (percentile); "
    "percentile_approx is the 100TB variant (sketch, engine-specific)",
)
def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


@_register(
    "tsv_roundtrip",
    None,  # oracle attached below (needs the SQL builders)
    ref="S3/S5: TSV sink + source round-trip (FileOutputFormat / TextInputFormat parity)",
)
def q_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write tweet-feature assignments as `id \\t cluster` TSV (the
    reference's inter-job format, Cluster.java:181), read back, agg."""
    from mapreduce6240project_spark.operators.clustering import assign_clusters
    from mapreduce6240project_spark.plans.registry import MEDOIDS_BY_K

    feats = feature_store(spark, sf_dir)
    assigned = assign_clusters(feats, MEDOIDS_BY_K[3]).select("tweet_id", "cluster")
    out = scratch_dir("sparkgraft_tsv_")
    assigned.write.mode("overwrite").options(sep="\t").csv(out)
    back = spark.read.options(sep="\t").schema("tweet_id long, cluster int").csv(out)
    return back.groupBy("cluster").agg(F.count("*").alias("n"))


# oracle: the round-trip preserves rows, so the aggregate equals the
# direct cluster histogram
from mapreduce6240project_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    QuerySpec,
    _argmin_case_sql,
    _dist_sql,
    MEDOIDS_BY_K,
)
from mapreduce6240project_spark.sources.tweets import (  # noqa: E402
    TWEET_FEATURES_SQL_CTE,
)

_assign3 = ", ".join(
    f"{_dist_sql(m)} AS d{i}" for i, m in enumerate(MEDOIDS_BY_K[3])
)
REGISTRY["tsv_roundtrip"] = QuerySpec(
    "tsv_roundtrip",
    REGISTRY["tsv_roundtrip"].fn,
    f"""WITH {TWEET_FEATURES_SQL_CTE}
SELECT cluster, count(*) AS n FROM (
  SELECT CAST({_argmin_case_sql(3)} AS INT) AS cluster
  FROM (SELECT *, {_assign3} FROM features)
) GROUP BY cluster""",
    REGISTRY["tsv_roundtrip"].ref,
)


@_register(
    "bernoulli_sample_count",
    None,  # Spark-internal RNG; statistical bounds asserted in tests
    ref="R1: unbiased Bernoulli sample (random.java:60-68, bias fixed)",
)
def q_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = feature_store(spark, sf_dir)
    return bernoulli_sample(feats, 0.6, seed=42).groupBy().agg(
        F.count("*").alias("n_sampled")
    )


#: two-sided 99.9% normal quantile (Phi^-1(0.9995)), frozen as the
#: exact double both engines multiply with
_Z_999 = 3.2905267314919255


@_register(
    "bernoulli_sample_ci",
    f"""WITH {TWEET_FEATURES_SQL_CTE}
SELECT n_total,
       CAST(ceil(CAST(n_total AS DOUBLE) * 0.6
                 - {_Z_999!r} * sqrt(CAST(n_total AS DOUBLE) * 0.24)) AS BIGINT) AS lo,
       CAST(floor(CAST(n_total AS DOUBLE) * 0.6
                 + {_Z_999!r} * sqrt(CAST(n_total AS DOUBLE) * 0.24)) AS BIGINT) AS hi,
       TRUE AS within_bounds
FROM (SELECT count(*) AS n_total FROM features)""",
    ref="R1 external verdict (round-6 verdict item 4): the Spark-internal "
    "RNG count is not value-hashable, but its 99.9% binomial bound IS -- "
    "the query emits (n_total, lo, hi, within_bounds) where the oracle "
    "pins within_bounds = TRUE; a biased/broken sampler flips the "
    "verdict and fails the external hash (false-alarm rate 1e-3)",
)
def q_bernoulli_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CI arithmetic runs as SQL expressions on the exact integer
    # n_total IN BOTH ENGINES (CAST double -> * -> sqrt -> -/+ ->
    # ceil/floor, every step correctly rounded IEEE), so lo/hi are
    # bit-identical; only the BOOLEAN verdict depends on Spark's RNG
    feats = feature_store(spark, sf_dir)
    total = feats.groupBy().agg(F.count("*").alias("n_total"))
    samp = (
        bernoulli_sample(feats, 0.6, seed=42)
        .groupBy()
        .agg(F.count("*").alias("n_sampled"))
    )
    nd = F.col("n_total").cast("double")
    lo = F.ceil(nd * F.lit(0.6) - F.lit(_Z_999) * F.sqrt(nd * F.lit(0.24))).cast(
        "bigint"
    )
    hi = F.floor(nd * F.lit(0.6) + F.lit(_Z_999) * F.sqrt(nd * F.lit(0.24))).cast(
        "bigint"
    )
    return total.crossJoin(samp).select(
        "n_total",
        lo.alias("lo"),
        hi.alias("hi"),
        ((F.col("n_sampled") >= lo) & (F.col("n_sampled") <= hi)).alias(
            "within_bounds"
        ),
    )


def _kmedoids_elbow_oracle() -> str:
    """UNION ALL of the unrolled k-medoids loop replay per k -- the same
    generator that oracle-backs the flagship kmedoids_k3."""
    from mapreduce6240project_spark.plans.registry import (
        _kmedoids_oracle_sql,
        _with_features,
    )

    ctes, selects = [], []
    for k in (2, 3, 4):
        c, sel = _kmedoids_oracle_sql(k=k, iters=5, with_k_col=True)
        ctes.append(c)
        selects.append(sel)
    return _with_features(
        ", " + ",\n".join(ctes) + " " + " UNION ALL ".join(selects)
    )


@_register(
    "kmedoids_elbow",
    None,  # replaced right below (needs the registry SQL builders)
    ref="C3: elbow sweep with full iterative kmedoids per k (Cluster2/4/5 + distanceCal)",
)
def q_kmedoids_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = feature_store(spark, sf_dir)
    return elbow(feats, ks=(2, 3, 4), max_iter=5, tol=0.0)


from mapreduce6240project_spark.plans.registry import REGISTRY as _REG
from mapreduce6240project_spark.plans.registry import QuerySpec as _QS

_REG["kmedoids_elbow"] = _QS(
    "kmedoids_elbow",
    q_kmedoids_elbow,
    _kmedoids_elbow_oracle(),
    _REG["kmedoids_elbow"].ref,
)


@_register(
    "embedding_pairs_exact",
    """
WITH u AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) = 0 THEN NULL
              ELSE list_transform(CAST(embedding AS DOUBLE[]),
                v -> v / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[]))))
         END AS uv
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.uv, b.uv), 4) AS cos_sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.uv, b.uv) >= 0.4""",
    ref="extension: exact embedding near-dup pairs (brute force; IVF "
    "variant is the scale path).  Vectors are unit-normalized ONCE in a "
    "narrow projection, so the O(N^2) pair stage evaluates one dot fold "
    "per pair instead of dot + both norms",
)
def q_embedding_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.similarity import _dot, unit_vectors

    # deliberately NOT persisted: the result is lazy, so a persist here
    # would leak one cached frame per call; the duplicated narrow
    # normalization (2N folds) is negligible next to the O(N^2) join
    emb = unit_vectors(load_table(spark, sf_dir, "embeddings"))
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("_sim", _dot(F.col("a.uv"), F.col("b.uv")))
        .filter(F.col("_sim") >= 0.4)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round("_sim", 4).alias("cos_sim"),
        )
    )


@_register(
    "streaming_stateful_counts",
    "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
    ref="extension: applyInPandasWithState custom stateful operator "
    "(bounded stream -> final state equals batch groupBy)",
)
def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import streaming_stateful_counts

    return streaming_stateful_counts(spark, sf_dir)


@_register(
    "brand_revenue",
    """
SELECT p.p_brand, round(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS revenue,
       count(*) AS n_items
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand""",
    ref="J2 shape over part x lineitem (broadcast dim join)",
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            stable_sum_micros(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "supplier_nation_stats",
    """
SELECT n.n_name, count(*) AS n_suppliers, round(sum(CAST(floor((s.s_acctbal) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS total_bal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name""",
    ref="J2 shape over supplier x nation (completes 10/10 table coverage)",
)
def q_supplier_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            stable_sum_micros("s_acctbal").alias("total_bal"),
        )
    )


@_register(
    "user_running_value",
    """
SELECT event_id,
       round(sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) / 100.0, 4) AS running_value
FROM events WHERE ts IS NOT NULL""",
    ref="window analytics: per-key running sum (lag/lead family; "
    "cent-quantized for float-order stability)",
)
def q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a NULL-timestamp event has no position in the running order, and
    # bare ASC places NULLs first in Spark / last in DuckDB -- one such
    # row would shift every prefix sum for its user (dirty-events
    # contract); exclusion is the only cross-engine-stable contract
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.select(
        "event_id",
        F.round(F.sum(cents).over(w) / 100.0, 4).alias("running_value"),
    )


@_register(
    "props_json_stats",
    """
SELECT event_type,
       -- json_valid guard: DuckDB's json_extract THROWS on malformed
       -- JSON while Spark's get_json_object returns NULL; the guard
       -- makes both engines average over parseable rows only.
       -- TRY_CAST (round-6 advice): valid JSON whose $.k is a
       -- non-numeric STRING passes json_valid, and a plain CAST would
       -- raise in DuckDB while Spark's non-ANSI cast yields NULL
       round(avg(CASE WHEN props IS NOT NULL AND json_valid(props)
                      THEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
                 END), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type""",
    ref="semi-structured column: JSON path extraction over the props field",
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # try_cast: $.k holding a non-numeric string is valid JSON, and
    # under Spark 4's ANSI default a plain cast THROWS mid-scan -- one
    # bad row in a trillion would abort the job (round-6 advice)
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"), F.count("*").alias("n")
    )


@_register(
    "time_rollup_multires",
    """
SELECT CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS m1,
       CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS m10,
       CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS h1,
       grouping(CAST(floor(epoch(ts) / 60) * 60 AS BIGINT)) AS g_m1,
       grouping(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)) AS g_m10,
       count(*) AS n, round(sum(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_value
FROM events
GROUP BY GROUPING SETS (
  (CAST(floor(epoch(ts) / 60) * 60 AS BIGINT),
   CAST(floor(epoch(ts) / 600) * 600 AS BIGINT),
   CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)),
  (CAST(floor(epoch(ts) / 600) * 600 AS BIGINT),
   CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)),
  (CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT))
)""",
    ref="extension: hypertable-style multi-resolution time rollup "
    "(1m/10m/1h in ONE pass via grouping sets -- one shuffle, partial-"
    "aggregated, instead of three scans)",
)
def q_time_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_micros("ts") / 1_000_000
    m1 = (F.floor(epoch / 60) * 60).cast("bigint")
    m10 = (F.floor(epoch / 600) * 600).cast("bigint")
    h1 = (F.floor(epoch / 3600) * 3600).cast("bigint")
    tagged = ev.select(m1.alias("m1"), m10.alias("m10"), h1.alias("h1"), "value")
    return (
        tagged.groupingSets(
            [["m1", "m10", "h1"], ["m10", "h1"], ["h1"]], "m1", "m10", "h1"
        )
        .agg(
            F.grouping("m1").cast("int").alias("g_m1"),
            F.grouping("m10").cast("int").alias("g_m10"),
            F.count("*").alias("n"),
            stable_sum_micros("value").alias("sum_value"),
        )
    )


@_register(
    "scd_upsert",
    """
WITH updates AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events WHERE event_id % 2 = 1
),
latest AS (
  SELECT user_id, us, value,
         row_number() OVER (PARTITION BY user_id ORDER BY us DESC, value) AS rn
  FROM updates
)
SELECT user_id, us AS last_us, round(value, 4) AS last_value
FROM latest WHERE rn = 1""",
    ref="extension: MERGE/upsert emulation (CDC apply: latest record per "
    "key via window; Delta MERGE INTO is the lakehouse path, gated in "
    "sources.connectors)",
)
def q_scd_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    updates = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), "value")
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.col("us").alias("last_us"), F.round("value", 4).alias("last_value"))
    )
