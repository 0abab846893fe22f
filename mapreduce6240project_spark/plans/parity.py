"""Third-wave parity queries closing the SURVEY.md section 2 audit:
the raw CSV ingest path (S1/S2 through a real text file), the feature
store sink/scan (S4), group-member collection (A7), the unweighted
distance variant (kmeansCluster.java), Analysis.java's true
clustered-histogram shape, set-op INTERSECT (R5), JSON IO, and salted
skew-safe aggregation.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce6240project_spark.config import scratch_dir
from mapreduce6240project_spark.functions.numeric import stable_sum_micros
from mapreduce6240project_spark.functions.distance import medoid_distance_literal
from mapreduce6240project_spark.operators.clustering import assign_clusters
from mapreduce6240project_spark.operators.lookup import range_scan
from mapreduce6240project_spark.operators.skew import salted_count, salted_sum
from mapreduce6240project_spark.plans.registry import (
    MEDOIDS_BY_K,
    REGISTRY,
    QuerySpec,
    _argmin_case_sql,
    _dist_sql,
    _register,
    _with_features,
)
from mapreduce6240project_spark.sources.tables import load_table
from mapreduce6240project_spark.sources.tweets import (
    feature_store,
    ingest_tweets,
    write_feature_store,
)


def _render_tweet_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the events-derived raw columns as 24-field CSV lines, the
    reference's input shape (FIXTURES.md section 1.1).  List-ish fields
    use ', ' separators so the lookahead split keeps them whole."""
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        F.col("event_id").cast("string").alias("c0"),
        F.date_format("ts", "HH:mm:ss").alias("c4"),
        F.element_at(
            F.array(F.lit("en"), F.lit("tr"), F.lit("es"), F.lit("de")),
            (F.col("user_id") % 4 + 1).cast("int"),
        ).alias("c11"),
        F.when(F.col("event_id") % 5 == 0, F.lit("x"))
        .otherwise((F.col("user_id") % 50).cast("string"))
        .alias("c15"),
        (F.col("event_id") % 97).cast("string").alias("c16"),
        F.floor(F.col("value")).cast("string").alias("c17"),
        F.when(F.col("event_type") == "click", F.lit("[]"))
        .when(F.col("event_type") == "view", F.lit("tag1, tag2, tag3"))
        .when(F.col("event_type") == "purchase", (F.col("user_id") % 10).cast("string"))
        .otherwise(F.lit("a, b"))
        .alias("c18"),
        F.when(F.col("event_type") == "view", F.lit("True"))
        .when(F.col("event_type") == "click", F.lit("1"))
        .when(F.col("event_type") == "error", F.lit("False"))
        .otherwise(F.lit("0"))
        .alias("c23"),
    )
    fillers = {i: F.lit(f"f{i}") for i in range(24)}
    parts = [
        raw[f"c{i}"] if f"c{i}" in raw.columns else fillers[i] for i in range(24)
    ]
    return raw.select(F.concat_ws(",", *parts).alias("value"))


@_register(
    "csv_ingest_roundtrip",
    _with_features("SELECT * FROM features"),
    ref="S1/S2 + P1-P8: raw CSV text file -> regex split -> feature rows "
    "(kmeans.java ETL through a real file on disk)",
)
def q_csv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _render_tweet_csv(spark, sf_dir)
    out = scratch_dir("sparkgraft_csv_")
    lines.write.mode("overwrite").text(out)
    return ingest_tweets(spark, out)


@_register(
    "feature_store_roundtrip",
    _with_features(
        "SELECT language, count(*) AS n, "
        "CAST(sum(num_hashtags) AS BIGINT) AS sum_tags "  # duckdb sum(INT)
        "FROM features WHERE tweet_id BETWEEN 1000 AND 4999 GROUP BY language"
    ),
    ref="S4 + S7: sorted feature-store parquet sink, pruned range scan back",
)
def q_feature_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = feature_store(spark, sf_dir)
    out = scratch_dir("sparkgraft_store_")
    write_feature_store(feats, out)
    back = spark.read.parquet(out)
    return (
        range_scan(back, "tweet_id", 1000, 4999)
        .groupBy("language")
        .agg(F.count("*").alias("n"), F.sum("num_hashtags").alias("sum_tags"))
    )


@_register(
    "cluster_assign_unweighted",
    None,  # oracle attached below
    ref="kmeansCluster.java:85-93: distance variant without the 0.8 "
    "hashtag weight",
)
def q_cluster_assign_unweighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = feature_store(spark, sf_dir)
    medoids = MEDOIDS_BY_K[3]
    dists = F.array(
        *[medoid_distance_literal(m, weighted=False) for m in medoids]
    )
    return feats.select(
        "tweet_id",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("cluster"),
    )


def _dist_sql_unweighted(m: dict) -> str:
    return (
        f"sqrt(power(time_bucket - {m['time_bucket']}, 2)"
        f" + power((num_hashtags - {m['num_hashtags']}) * 1.0, 2)"
        f" + (CASE WHEN language <> '{m['language']}' THEN 1.0 ELSE 0.0 END)"
        f" + power(has_video - {m['has_video']}, 2))"
    )


REGISTRY["cluster_assign_unweighted"] = QuerySpec(
    "cluster_assign_unweighted",
    q_cluster_assign_unweighted,
    _with_features(
        "SELECT tweet_id, CAST("
        + _argmin_case_sql(3)
        + " AS INT) AS cluster FROM (SELECT *, "
        + ", ".join(
            f"{_dist_sql_unweighted(m)} AS d{i}" for i, m in enumerate(MEDOIDS_BY_K[3])
        )
        + " FROM features)"
    ),
    REGISTRY["cluster_assign_unweighted"].ref,
)


@_register(
    "cluster_members",
    None,  # oracle attached below
    ref="A7 (Cluster.java:197-207): collect group members as a list",
)
def q_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = feature_store(spark, sf_dir)
    assigned = assign_clusters(
        range_scan(feats, "tweet_id", 0, 199), MEDOIDS_BY_K[3]
    )
    return assigned.groupBy("cluster").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("tweet_id"))).alias("members"),
        F.count("*").alias("n"),
    )


REGISTRY["cluster_members"] = QuerySpec(
    "cluster_members",
    q_cluster_members,
    _with_features(
        "SELECT cluster, string_agg(CAST(tweet_id AS VARCHAR), ',' ORDER BY tweet_id)"
        " AS members, count(*) AS n FROM (SELECT tweet_id, CAST("
        + _argmin_case_sql(3)
        + " AS INT) AS cluster FROM (SELECT *, "
        + ", ".join(
            f"{_dist_sql(m)} AS d{i}" for i, m in enumerate(MEDOIDS_BY_K[3])
        )
        + " FROM features WHERE tweet_id BETWEEN 0 AND 199)) GROUP BY cluster"
    ),
    REGISTRY["cluster_members"].ref,
)


@_register(
    "cluster_video_histogram",
    None,  # oracle attached below
    ref="Analysis.java:64-98 true shape: assignments hydrated via J2, "
    "then per-(cluster, has_video) histogram",
)
def q_cluster_video_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = feature_store(spark, sf_dir)
    # materialized assignment table joined back to the feature store --
    # the reference's two-job shape (clustering output -> Analysis job)
    assignments = assign_clusters(feats, MEDOIDS_BY_K[3]).select("tweet_id", "cluster")
    hydrated = assignments.join(feats, "tweet_id")
    return hydrated.groupBy("cluster", "has_video").agg(F.count("*").alias("n"))


REGISTRY["cluster_video_histogram"] = QuerySpec(
    "cluster_video_histogram",
    q_cluster_video_histogram,
    _with_features(
        "SELECT cluster, has_video, count(*) AS n FROM (SELECT has_video, CAST("
        + _argmin_case_sql(3)
        + " AS INT) AS cluster FROM (SELECT *, "
        + ", ".join(
            f"{_dist_sql(m)} AS d{i}" for i, m in enumerate(MEDOIDS_BY_K[3])
        )
        + " FROM features)) GROUP BY cluster, has_video"
    ),
    REGISTRY["cluster_video_histogram"].ref,
)


@_register(
    "segment_intersect",
    """
SELECT c_custkey FROM customer WHERE c_acctbal > 1000
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
    ref="R5 set ops: INTERSECT (engine-free via df.intersect)",
)
def q_segment_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.intersect(b)


@_register(
    "json_roundtrip",
    """
SELECT event_type, count(*) AS n, round(sum(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_value
FROM events GROUP BY event_type""",
    ref="JSON source/sink (engine IO surface beyond the reference's text/KV)",
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value"
    )
    out = scratch_dir("sparkgraft_json_")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, ts_us long, user_id long, event_type string, value double"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), stable_sum_micros("value").alias("sum_value")
    )


@_register(
    "salted_event_counts",
    """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type""",
    ref="skew mitigation: two-phase salted aggregation (exact, hot keys "
    "spread over 16 salts)",
)
def q_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, "event_type", n_salts=16, id_cols=["event_id"])


@_register(
    "salted_value_sums",
    """
SELECT user_id, round(sum(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_value FROM events GROUP BY user_id""",
    ref="skew mitigation: salted sum (algebraic aggregate, exact)",
)
def q_salted_value_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return salted_sum(ev, "user_id", "value", n_salts=16, id_cols=["event_id"])


@_register(
    "bpe_token_count",
    r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS n_subwords
FROM documents""",
    ref="extension: BPE-ish subword counting (pre-tokenizer regex; "
    "RE2/Java-compatible pattern)",
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_ish_token_count("text").alias("n_subwords"))


# Shared CTE text: exact word-3-gram Jaccard pairs over an arbitrary
# doc relation (the hash-independent contract the verified MinHash
# stages reduce to; mirrors extensions._ngram_jaccard_sql but
# parameterized on the source relation for pipeline composition).
def _jaccard_pairs_cte(src: str, threshold: float) -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= 3 THEN list_transform(
                    generate_series(1, len(w) - 2),
                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                  ELSE [concat_ws(' ', w)] END) AS s
    FROM (SELECT doc_id, string_split({norm}, ' ') AS w FROM {src})
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
)"""


@_register(
    "dedup_pipeline",
    # both stages are hash-independent contracts: stage 1 keeps the min
    # id per md5 group; stage 2 drops the higher id of every exact
    # Jaccard >= 0.5 pair among stage-1 survivors (the verified-LSH
    # output, valid while band recall is complete).
    """
WITH s1 AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
docs1 AS (SELECT d.doc_id, d.text FROM documents d JOIN s1 USING (doc_id)),
"""
    + _jaccard_pairs_cte("docs1", 0.5)
    + """
SELECT count(*) AS n_survivors, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM docs1 WHERE doc_id NOT IN (SELECT id_b FROM pairs)""",
    ref="extension: full dedup pipeline (exact md5 -> verified MinHash-LSH "
    "survivors), the training-data-pipeline composition",
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import exact_dedup, minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    exact_survivor_ids = exact_dedup(docs).select("doc_id")
    stage1 = docs.join(exact_survivor_ids, "doc_id", "left_semi")
    stage2 = minhash_dedup(stage1, threshold=0.5)
    return stage2.agg(
        F.count("*").alias("n_survivors"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@_register(
    "zscore_by_cluster",
    None,  # oracle attached below
    ref="grouped-map Pandas UDF (applyInPandas) -- per-cluster z-score; "
    "oracle proves the Arrow group-map path against window functions",
)
def q_zscore_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.grouped import zscore_by_group

    feats = feature_store(spark, sf_dir)
    assigned = assign_clusters(feats, MEDOIDS_BY_K[3]).select(
        "tweet_id", "cluster", "like_count"
    )
    return zscore_by_group(assigned, "cluster", "like_count", "tweet_id")


REGISTRY["zscore_by_cluster"] = QuerySpec(
    "zscore_by_cluster",
    q_zscore_by_cluster,
    _with_features(
        "SELECT tweet_id, cluster, round(CASE WHEN s IS NULL OR s = 0 THEN 0.0 "
        "ELSE (like_count - m) / s END, 4) AS zscore FROM ("
        "SELECT tweet_id, cluster, like_count, "
        "avg(like_count) OVER w AS m, stddev_samp(like_count) OVER w AS s "
        "FROM (SELECT tweet_id, like_count, CAST("
        + _argmin_case_sql(3)
        + " AS INT) AS cluster FROM (SELECT *, "
        + ", ".join(f"{_dist_sql(m)} AS d{i}" for i, m in enumerate(MEDOIDS_BY_K[3]))
        + " FROM features)) WINDOW w AS (PARTITION BY cluster))"
    ),
    REGISTRY["zscore_by_cluster"].ref,
)


@_register(
    "winnow_fingerprint_pairs",
    # md5-variant fingerprints (60-bit hex-to-int, like dedup_simhash)
    # replayed in SQL: positional shingles, rolling 4-window min, full
    # windows plus the first truncated one, distinct mins per doc, then
    # overlap-coefficient pairs.
    """
WITH shl AS (
  SELECT doc_id, unnest(sh) AS s, unnest(generate_series(1, len(sh))) AS pos
  FROM (SELECT doc_id,
               CASE WHEN len(w) >= 3 THEN list_transform(
                      generate_series(1, len(w) - 2),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                    ELSE [concat_ws(' ', w)] END AS sh
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents))
),
h AS (SELECT doc_id, pos, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shl),
rolled AS (
  SELECT doc_id, pos, min(h) OVER w AS wmin, count(*) OVER w AS wlen
  FROM h
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
),
fp AS (SELECT DISTINCT doc_id, wmin FROM rolled WHERE wlen = 4 OR pos = 1),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM fp a JOIN fp b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_shared::DOUBLE / least(sa.n_fp, sb.n_fp), 4) AS overlap
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_shared::DOUBLE / least(sa.n_fp, sb.n_fp), 4) >= 0.3""",
    ref="extension: winnowing rolling-hash fingerprints (MOSS scheme) "
    "+ shared-fingerprint candidate pairs",
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.3, token_hash="md5"
    )


@_register(
    "lang_id_accuracy",
    None,  # oracle attached below
    ref="extension: lang-id evaluation against the labeled lang column",
)
def q_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs)
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return joined.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("lang") == F.col("pred_lang")).cast("int")).alias("n_correct"),
    )


REGISTRY["lang_id_accuracy"] = QuerySpec(
    "lang_id_accuracy",
    q_lang_id_accuracy,
    "SELECT count(*) AS n_docs, CAST(sum(CASE WHEN d.lang = p.pred_lang "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_correct FROM documents d JOIN ("
    + REGISTRY["lang_id"].oracle
    + ") p USING (doc_id)",
    REGISTRY["lang_id_accuracy"].ref,
)


@_register(
    "streaming_sliding",
    """
SELECT window_start, count(*) AS n,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*), 4) AS avg_value
FROM (
  SELECT CAST(floor(epoch(ts) / 300) * 300 - off * 300 AS BIGINT) AS window_start, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off)
)
GROUP BY window_start""",
    ref="extension: Structured Streaming sliding window (same oracle as batch)",
)
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import streaming_sliding

    return streaming_sliding(spark, sf_dir)


@_register(
    "streaming_foreach_batch",
    """
SELECT event_type, count(*) AS n, round(sum(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_value
FROM events GROUP BY event_type""",
    ref="extension: foreachBatch exactly-once sink (epoch-partitioned "
    "idempotent parquet writes; oracle = batch aggregate of what landed)",
)
def q_streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import streaming_foreach_batch_sink

    out = scratch_dir("sparkgraft_sink_")
    return streaming_foreach_batch_sink(spark, sf_dir, out)


@_register(
    "dedup_cc_survivors",
    # edges are the exact-verified pairs (hash-independent); a survivor
    # is a node from which no smaller node is reachable -- exactly the
    # min-id-per-component rule label propagation converges to.  The
    # recursive CTE materializes (node, smaller-reachable-node) facts.
    "WITH RECURSIVE "
    + _jaccard_pairs_cte("documents", 0.5).lstrip()
    + """,
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, l) AS (
  SELECT u, v FROM edges WHERE v < u
  UNION
  SELECT e.u, r.l FROM edges e JOIN reach r ON r.u = e.v WHERE r.l < e.u
)
SELECT count(*) AS n_survivors, min(doc_id) AS min_id
FROM documents WHERE doc_id NOT IN (SELECT u FROM reach)""",
    ref="extension: transitive dedup via iterative connected components "
    "(label propagation; correct on open triangles where greedy over-keeps)",
)
def q_dedup_cc_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    survivors = minhash_dedup(docs, transitive=True, threshold=0.5)
    return survivors.agg(
        F.count("*").alias("n_survivors"), F.min("doc_id").alias("min_id")
    )


def _bloom_oracle() -> str:
    """The int-key Carter-Wegman bloom is deterministic arithmetic, so
    the oracle replays it: the DISTINCT set of bit positions the build
    side sets, then a probe that requires all k positions present --
    bit-for-bit the same membership decision as the bitmap probe."""
    from mapreduce6240project_spark.operators.sketch import _CW, _P

    m, k = 8192, 4

    def pos(key: str, j: int) -> str:
        a, b = _CW[j]
        return f"((({key} % {_P}) * {a} + {b}) % {_P}) % {m}"

    build = ", ".join(pos("c_custkey", j) for j in range(k))
    probes = " AND ".join(
        f"{pos('o_custkey', j)} IN (SELECT pos FROM bits)" for j in range(k)
    )
    return f"""
WITH bld AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest([{build}]) AS pos
    FROM bld WHERE c_custkey IS NOT NULL)
)
SELECT (SELECT count(*) FROM orders WHERE {probes}) AS n_probable,
       (SELECT count(*) FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM bld)) AS n_exact"""


@_register(
    "bloom_semi_filter",
    _bloom_oracle(),
    ref="extension: explicit Bloom-filter semi-join (bitmap literal "
    "probe, narrow); Spark's runtime bloomFilter join covers the "
    "automatic case",
)
def q_bloom_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sketch import bloom_semi_filter

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    probable = bloom_semi_filter(o, c, "o_custkey", "c_custkey", int_keys=True)
    exact = o.join(c, o.o_custkey == c.c_custkey, "left_semi")
    return probable.agg(F.count("*").alias("n_probable")).crossJoin(
        exact.agg(F.count("*").alias("n_exact"))
    )
