"""Physical-plan assertions: the scale properties SURVEY section 4 calls
for, encoded as regressions (pushdown, broadcast, shuffle counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce6240project_spark.operators import assign_clusters, range_scan
from mapreduce6240project_spark.operators.dedup import minhash_signatures
from mapreduce6240project_spark.plans.registry import MEDOIDS_BY_K, REGISTRY
from mapreduce6240project_spark.sources.tables import load_table
from mapreduce6240project_spark.sources.tweets import tweet_features_from_events

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(df) -> int:
    return _plan(df).count("Exchange")


def test_range_scan_pushes_filter_to_parquet(spark):
    df = range_scan(load_table(spark, SF, "lineitem"), "l_orderkey", 100, 499)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_orderkey,100)" in plan
    assert "LessThanOrEqual(l_orderkey,499)" in plan


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must contain only the projected columns
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_shipdate" not in rs


def test_regional_revenue_broadcasts_dims(spark):
    df = REGISTRY["regional_revenue"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # nation/region go broadcast


def test_cluster_assignment_is_narrow(spark):
    feats = tweet_features_from_events(spark, SF)
    base = _n_exchanges(feats)
    assigned = assign_clusters(feats, MEDOIDS_BY_K[3])
    # assignment adds NO shuffle over the feature derivation
    assert _n_exchanges(assigned) == base
    assert "BroadcastNestedLoopJoin" not in _plan(assigned)


def test_minhash_signatures_plan_shape(spark):
    docs = load_table(spark, SF, "documents")
    sigs = minhash_signatures(docs)
    plan = _plan(sigs)
    # explode -> xxhash64 -> partial min aggs, all whole-stage-codegen;
    # the only data shuffle is the doc_id hash partitioning between
    # partial and final aggregation (plus the conditional fan-out
    # round-robin, which is a no-op at scale).  No higher-order array
    # functions (CodegenFallback) may appear in the hot path.
    assert _n_exchanges(sigs) <= 2
    assert plan.count("HashAggregate") == 2  # partial + final
    # higher-order functions (CodegenFallback) must be out of the hot path
    assert "ArrayTransform" not in plan and "ArrayMin" not in plan


def test_ingest_is_map_only(spark):
    # reference ETL is a map-only job (kmeans.java:146); ours matches
    # up to the conditional small-input fan-out (r10): the ONLY
    # exchange permitted is the round-robin repartition fan_out inserts
    # when the scan is narrower than the session parallelism, and it is
    # a metadata-gated no-op on a wide scan (test_fan_out_is_noop_on_
    # wide_input) -- so the 100 TB plan has 0 exchanges and no key
    # shuffle appears at any scale.  (The round-1 objection to fanning
    # this path out -- driver-loop consumers re-paying the stage, see
    # BASELINE.md -- predates the persisted feature store those
    # consumers now read.)
    feats = tweet_features_from_events(spark, SF)
    plan = _plan(feats)
    assert _n_exchanges(feats) <= 1
    assert "hashpartitioning" not in plan  # never a key shuffle
    # wide input -> the derivation itself adds no exchange (the no-op
    # condition is partitions >= defaultParallelism, so widen to the
    # session's actual parallelism, not a constant)
    from mapreduce6240project_spark.operators.fanout import fan_out

    wide = load_table(spark, SF, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    assert fan_out(wide) is wide


def test_fan_out_is_noop_on_wide_input(spark):
    from mapreduce6240project_spark.operators.fanout import fan_out

    wide = load_table(spark, SF, "lineitem").repartition(
        spark.sparkContext.defaultParallelism
    )
    assert fan_out(wide) is wide  # zero plan change
    narrow = load_table(spark, SF, "lineitem")
    assert (
        fan_out(narrow).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_topk_uses_take_ordered(spark):
    df = REGISTRY["top_customers"].fn(spark, SF)
    assert "TakeOrderedAndProject" in _plan(df)


def test_whole_stage_codegen_covers_distance(spark):
    feats = tweet_features_from_events(spark, SF)
    assigned = assign_clusters(feats, MEDOIDS_BY_K[3])
    # "*(n)" prefix marks whole-stage-codegen spans.  The conditional
    # ingest fan-out (r10) makes the plan adaptive (AQE wraps any plan
    # with an exchange, hiding codegen marks until execution), so
    # assert on the EXECUTED plan.
    assigned.collect()  # finalize the adaptive plan on THIS Dataset
    assert "*(" in assigned._jdf.queryExecution().executedPlan().toString()

def test_verify_stage_broadcasts_candidate_shingles(spark):
    """The exact-verify stage of LSH dedup must broadcast the (small)
    candidate-doc shingle table, never shuffle the corpus into a
    sort-merge join -- the invariant that keeps verify O(|candidates|)
    at 100 TB."""
    from mapreduce6240project_spark.operators.dedup import (
        jaccard_verified_pairs,
        minhash_candidate_pairs,
    )

    docs = load_table(spark, SF, "documents")
    cand = minhash_candidate_pairs(docs)
    plan = _plan(jaccard_verified_pairs(docs, cand, threshold=0.5))
    assert plan.count("BroadcastHashJoin") >= 2  # sh_a and sh_b sides
    assert "SortMergeJoin" not in plan


def test_ivf_assign_broadcasts_centroids(spark):
    """IVF cell assignment is a broadcast of the <=4096-row centroid
    table + one narrow pass over the vectors: no vector shuffle."""
    from mapreduce6240project_spark.operators.similarity import ivf_assign

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(ivf_assign(emb, n_cells=8))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_band_recall_complete_on_planted_dups(spark):
    """The dedup_minhash_lsh oracle (exact n-gram Jaccard >= 0.5) is
    valid only while banded candidates recall every true pair; assert
    that containment directly so a band/row retune that silently drops
    recall fails here, not in the external gate."""
    from mapreduce6240project_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {
        (r.id_a, r.id_b) for r in minhash_candidate_pairs(docs).collect()
    }
    assert truth and truth <= cand


def test_bucketed_join_has_no_exchange(spark):
    """Matched bucketing means the sort-merge join reads co-located
    buckets: zero Exchange operators anywhere in the plan."""
    import tempfile

    from mapreduce6240project_spark.sources.layout import (
        bucketed_merge_join,
        write_bucketed_table,
    )

    base = tempfile.mkdtemp(prefix="sparkgraft_bkt_test_")
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    write_bucketed_table(cust, "t_bkt_cust", "c_custkey", 4, f"{base}/c")
    write_bucketed_table(orders, "t_bkt_ord", "c_custkey", 4, f"{base}/o")
    joined = bucketed_merge_join(spark, "t_bkt_cust", "t_bkt_ord", "c_custkey")
    assert _n_exchanges(joined) == 0
    assert "SortMergeJoin" in _plan(joined)
    # and the join itself is correct
    plain = cust.join(orders, "c_custkey")
    assert joined.count() == plain.count()


def test_partitioned_read_prunes_directories(spark):
    """An equality filter on the partition column becomes a
    PartitionFilter; non-matching directories are never scanned."""
    import tempfile

    from mapreduce6240project_spark.sources.layout import (
        read_partition,
        write_partitioned,
    )

    out = tempfile.mkdtemp(prefix="sparkgraft_part_test_")
    ev = load_table(spark, SF, "events")
    write_partitioned(ev, out, "event_type")
    one = read_partition(spark, out, "event_type", "click")
    plan = _plan(one)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    assert one.count() == ev.filter(F.col("event_type") == "click").count()


def test_forecast_revenue_pushes_all_predicates(spark):
    plan = _plan(REGISTRY["forecast_revenue"].fn(spark, SF))
    assert "PushedFilters" in plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 4 referenced columns reach the scan
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in rs
    assert "l_orderkey" not in rs and "l_returnflag" not in rs


def test_nation_pair_broadcasts_all_dims(spark):
    plan = _plan(REGISTRY["nation_pair_revenue"].fn(spark, SF))
    # supplier + both nation aliases ride broadcast joins; only the
    # lineitem->orders->customer chain may shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_unpivot_is_map_only(spark):
    assert _n_exchanges(REGISTRY["unpivot_part_metrics"].fn(spark, SF)) == 0


def test_dq_audit_profiles_in_one_scan_per_table(spark):
    from mapreduce6240project_spark.operators.quality import column_profile

    orders = load_table(spark, SF, "orders")
    df = column_profile(orders, "orders", ["o_custkey", "o_totalprice"])
    # one aggregate over one scan: a single pair of exchanges at most
    # (partial/final for the global agg + the distinct expansions);
    # crucially the parquet file is scanned ONCE
    assert _plan(df).count("FileScan parquet") == 1


def test_interpolation_single_data_shuffle(spark):
    ev = load_table(spark, SF, "events")
    from mapreduce6240project_spark.operators.windows import interpolate_linear_grid

    plan = _plan(interpolate_linear_grid(ev))
    # no cartesian/range join anywhere in the interpolation plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wave9_tpch_shapes_broadcast_dims(spark):
    # Q3/Q9/Q20: every dimension side broadcasts; no dimension ever
    # forces a sort-merge join of the fact table against a dim
    for name, min_bhj in (
        ("shipping_priority", 2),
        ("product_type_profit", 3),
        ("excess_qty_suppliers", 3),
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF))
        assert plan.count("BroadcastHashJoin") >= min_bhj, name


def test_q6_shape_pushes_every_predicate(spark):
    plan = _plan(REGISTRY["forecast_revenue"].fn(spark, SF))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_important_parts_single_fact_scan(spark):
    # the Q11 shape persists the filtered projection: per-part agg and
    # global total must both read the InMemoryRelation, not re-scan
    df = REGISTRY["important_parts"].fn(spark, SF)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan
    # the global total joins back as a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semantic_dedup_is_bucketed_not_allpairs(spark):
    from mapreduce6240project_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(semantic_dedup(emb, threshold=0.35))
    # candidate generation must join on the IVF cell, never a pure
    # cartesian self-product of the vectors
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_from_dim_filter(spark):
    """Joining a partitioned fact on its partition column against a
    FILTERED dim triggers dynamic partition pruning: the fact scan
    carries a runtime dynamicpruning subquery, so only partitions whose
    keys survive the dim filter are listed -- the optimizer behavior
    that makes star-schema scans cheap on partitioned 100 TB tables."""
    import tempfile

    from mapreduce6240project_spark.sources.layout import write_partitioned

    out = tempfile.mkdtemp(prefix="sparkgraft_dpp_test_")
    ev = load_table(spark, SF, "events")
    write_partitioned(ev, out, "event_type")
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 2), ("view", 3)], "event_type string, w int"
    ).filter(F.col("w") <= 2)
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        joined = fact.join(dim, "event_type")
        plan = _plan(joined)
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        want = ev.filter(F.col("event_type").isin("click", "purchase")).count()
        assert joined.count() == want
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_table_checksum_is_scan_plus_scalar_agg(spark):
    """One narrow scan, partial + final aggregate; the only exchange is
    the single-row final-aggregation gather."""
    df = REGISTRY["table_checksum_orders"].fn(spark, SF)
    assert _n_exchanges(df) <= 1


def test_copurchase_is_two_exchanges(spark):
    """Basket collect_set shuffle + pair-count shuffle; the top-20 is
    TakeOrderedAndProject, not a global sort materialization."""
    df = REGISTRY["copurchase_pairs"].fn(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "TakeOrderedAndProject" in plan


def test_twap_single_user_shuffle(spark):
    """The ordering window and the aggregate share one user-key hash
    exchange (partial aggregation runs map-side after the window)."""
    df = REGISTRY["twap_user_value"].fn(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan


def test_allocation_windows_share_order_partitioning(spark):
    """Pre-aggregate + three window passes over the same order key: the
    order-key partitioning is established once and reused (no repeated
    re-shuffle per window)."""
    df = REGISTRY["allocate_order_total"].fn(spark, SF)
    # (ok, pk) group shuffle + ok-partition shuffle + orders side
    assert _plan(df).count("Exchange hashpartitioning") <= 4


def test_skyline_semi_join_broadcasts_frontier(spark):
    df = REGISTRY["skyline_parts"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan


def test_grouping_sets_is_single_scan_expand(spark):
    """GROUPING SETS compiles to one fact scan + Expand, not a union of
    per-grain scans."""
    df = REGISTRY["grouping_sets_revenue"].fn(spark, SF)
    plan = _plan(df)
    assert "Expand" in plan
    # one fact scan: the three grains do NOT each re-read lineitem
    assert plan.count("lineitem.parquet") == 1


def test_phrase_match_filters_postings_before_joins(spark):
    """The phrase terms prune the postings stream before any join (the
    index shape), and term-position reassembly is equi-joins, never a
    cartesian."""
    df = REGISTRY["phrase_match_docs"].fn(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the isin(terms) filter exists below the joins
    assert "IN (" in plan or "INSET" in plan.upper() or "term" in plan


def test_knn_graph_is_cell_bucketed_not_allpairs(spark):
    """The kNN self-join carries the cell equality in the join keys --
    no cartesian/nested-loop pair generation."""
    df = REGISTRY["knn_graph_top3"].fn(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the pair self-join must be a keyed join on the cell column.  (A
    # BroadcastNestedLoopJoin does appear in the plan, but it is the
    # bounded 1-row centroid-literal cross inside ivf_assign -- the
    # documented cutoff pattern -- not the pair stage.)
    assert any(
        f"{j}" in plan and "cell" in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_knn_graph_rank_uses_window_group_limit(spark):
    """rank<=k is pushed below the per-source sort so only k rows per
    source survive into the window."""
    plan = _plan(REGISTRY["knn_graph_top3"].fn(spark, SF))
    assert "WindowGroupLimit" in plan


def test_assoc_rules_basket_expansion_no_cartesian(spark):
    df = REGISTRY["assoc_rules_top"].fn(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # item-count joins + 1-row N broadcast
    assert "BroadcastExchange" in plan


def test_bigram_lm_model_tables_broadcast(spark):
    """c1 and V are 1-row aggregates broadcast onto the count table --
    no shuffle carries the corpus to assemble the probabilities."""
    df = REGISTRY["bigram_lm_order"].fn(spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastExchange") >= 2


def test_lang_id_trigram_profile_broadcasts(spark):
    """The (lang x profile_k) profile joins the test trigram stream via
    broadcast -- the classify stage never shuffles document-sized
    state."""
    df = REGISTRY["lang_id_trigram_acc"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_bernoulli_ci_verdict_flips_on_biased_sampler(spark, monkeypatch):
    # the external-hashable R1 verdict (round-6 verdict item 4): the
    # oracle pins within_bounds = TRUE, so a broken/biased sampler must
    # flip the boolean and fail the hash -- plant a sampler that keeps
    # only ~10% and check the verdict goes false, then check the real
    # sampler lands in-bounds with bit-exact lo/hi
    import mapreduce6240project_spark.plans.relational as R

    sf = "/root/testdata/sf0.001"
    row = REGISTRY["bernoulli_sample_ci"].fn(spark, sf).collect()[0]
    assert row.within_bounds is True
    assert row.lo < row.hi < row.n_total

    real = R.bernoulli_sample
    monkeypatch.setattr(
        R, "bernoulli_sample", lambda df, frac, seed=42: real(df, 0.1, seed=seed)
    )
    biased = REGISTRY["bernoulli_sample_ci"].fn(spark, sf).collect()[0]
    assert biased.within_bounds is False
    assert (biased.n_total, biased.lo, biased.hi) == (row.n_total, row.lo, row.hi)
