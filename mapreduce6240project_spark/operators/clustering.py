"""k-medoids clustering -- the reference's flagship query.

Subsumes Cluster.java (k=3), Cluster2/4/5.java (k=2/4/5) and
kmeansCluster.java (~1,700 of the reference's ~2,550 lines): the four
copy-paste k variants collapse into the ``k``/``seeds`` parameters
(SURVEY.md section 2.8 C3).

Spark-first design (SURVEY.md sections 3.2 / 4):

* **Assignment** (J1 + A6): the reference does N x k HBase point Gets
  per scan row (Cluster.java:95-107).  Here the k medoids are collected
  to the driver (k <= 5 rows) and folded into k literal distance
  expression columns -- the assignment is a *narrow projection* over one
  columnar scan: no join node, no shuffle, fully whole-stage-codegen.
  At 100 TB this is the optimal plan: one pass over the data per
  iteration, k FLOPs per row.
* **True argmin** fixes the reference's broken min-tracking
  (Cluster.java:109-115 never updates ``minDistance`` -- SURVEY.md
  section 2.9.1): ``array_position(arr, array_min(arr))`` gives the
  first (lowest-index) minimum, the intended tie-break.
* **Medoid update** (J3 + A5): the intended per-cluster
  pairwise-distance argmin (the reference's nested reducer iteration is
  broken, section 2.9.2) as a self equi-join on ``cluster`` +
  ``min(struct(total_dist, tweet_id))`` for a deterministic argmin.
  This is the only shuffle in the loop.  Exact combo compression makes
  it O(C^2) in the distinct feature combinations C, not O(sum n_c^2)
  (see ``update_medoids``).
* **Convergence** (C2): driver-side displacement check against
  ``tol`` (reference ``limit = 1.5``, Cluster.java:26,355-382), plus
  early stop when assignments are stable (medoids unchanged).
* **Iterative lineage**: features are persisted once; each iteration
  derives from the persisted scan, so lineage does not grow with
  iterations (the loop recomputes from cache, not from raw input).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce6240project_spark.functions.distance import (
    DISTANCE_FEATURES,
    HASHTAG_WEIGHT,
    feature_distance,
    medoid_distance_literal,
)

FEATURE_COLS = ("tweet_id",) + DISTANCE_FEATURES


def _py_distance(a: dict, b: dict, weighted: bool = True) -> float:
    """Driver-side mirror of the distance kernel (Cluster.java:32-43),
    used only on the k collected medoid rows for the convergence test."""
    w = HASHTAG_WEIGHT if weighted else 1.0
    return math.sqrt(
        (a["time_bucket"] - b["time_bucket"]) ** 2
        + (w * (a["num_hashtags"] - b["num_hashtags"])) ** 2
        + (1.0 if a["language"] != b["language"] else 0.0)
        + (a["has_video"] - b["has_video"]) ** 2
    )


def _collect_medoids(features: DataFrame, ids: Sequence[int]) -> list[dict]:
    rows = (
        features.filter(F.col("tweet_id").isin(*[int(i) for i in ids]))
        .select(*FEATURE_COLS)
        .collect()
    )
    by_id = {r["tweet_id"]: r.asDict() for r in rows}
    missing = [i for i in ids if int(i) not in by_id]
    if missing:
        raise ValueError(f"seed medoid ids not found in features: {missing}")
    return [by_id[int(i)] for i in ids]


def assign_clusters(
    features: DataFrame, medoids: Sequence[dict], weighted: bool = True
) -> DataFrame:
    """J1 + A6: nearest-medoid assignment as k literal expression columns
    + first-min argmin.  Returns ``features`` + ``cluster INT``."""
    dists = F.array(*[medoid_distance_literal(m, weighted) for m in medoids])
    return features.withColumn(
        "cluster",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )


def update_medoids(assigned: DataFrame, weighted: bool = True) -> DataFrame:
    """J3 + A5: per-cluster pairwise-distance argmin (intended semantics
    of Cluster.java:229-265).  Returns one row per cluster:
    ``(cluster, tweet_id)`` -- the new medoid.

    **Exact combo compression** (default): the distance kernel reads
    only 4 low-cardinality features, so members collapse into distinct
    feature combinations.  Sum-over-member-pairs factorizes exactly:

        total(i) = sum_j n_j * d(combo_i, combo_j)

    turning the O(n^2) pairwise set into O(C^2) where C = distinct
    combos (hundreds, independent of n).  Every member of a combo has
    the same total, so the argmin member is the combo's min tweet_id --
    byte-identical to the naive self-join with the same (total_dist,
    tweet_id) tie-break.  The naive version needs ~(n/k)^2 distance
    evaluations per cluster; at 100 TB that is the job that never
    finishes, while this is one partial-aggregated groupBy.
    """
    weighted_input = "n" in assigned.columns  # already combo-compressed
    cols = ["cluster", *FEATURE_COLS] + (["n"] if weighted_input else [])
    members = assigned.select(*cols)
    weight = F.sum("n") if weighted_input else F.count("*")
    combos = members.groupBy("cluster", *DISTANCE_FEATURES).agg(
        weight.alias("n"), F.min("tweet_id").alias("tweet_id")
    )
    a = combos.alias("a")
    b = combos.alias("b")
    pair_dist = feature_distance("a.", "b.", weighted)
    totals = (
        a.join(b, "cluster")
        .groupBy("cluster", F.col("a.tweet_id").alias("tweet_id"))
        .agg(F.sum(pair_dist * F.col("b.n")).alias("total_dist"))
    )
    # deterministic argmin: lowest total distance, ties -> lowest id
    return totals.groupBy("cluster").agg(
        F.min(F.struct("total_dist", "tweet_id"))["tweet_id"].alias("tweet_id")
    )


def cluster_cost(
    assigned: DataFrame, medoids: Sequence[dict], weighted: bool = True
) -> DataFrame:
    """A4 (distanceCal.java:75-101): per-cluster sum of member->medoid
    distance, the elbow-method cost.  Pure groupBy-sum over the same
    literal distance expressions -- one shuffle of k rows."""
    dists = F.array(*[medoid_distance_literal(m, weighted) for m in medoids])
    # fixed-point sum: each member's cost is quantized to integer
    # micro-units BEFORE aggregation, so the total is associative --
    # identical under any partial-agg order or partition count.  A raw
    # double sum rounded to 4 digits can flip its last digit with
    # summation order, which an exact-match oracle gate cannot absorb.
    micro = F.floor(
        F.element_at(dists, F.col("cluster") + 1) * 1_000_000 + F.lit(0.5)
    ).cast("bigint")
    return (
        assigned.withColumn("_cost_micro", micro)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("_cost_micro") / 1_000_000.0, 4).alias("total_cost"),
        )
    )


@dataclass
class KMedoidsResult:
    assignments: DataFrame  # (tweet_id, cluster) + feature cols
    medoids: list[dict]  # k feature rows
    iterations: int = 0
    converged: bool = False
    history: list[list[float]] = field(default_factory=list)  # displacement per iter


def _iterate_driver_side(
    combo_rows: list[dict],
    medoids: list[dict],
    max_iter: int,
    tol: float,
    weighted: bool,
    result: "KMedoidsResult",
) -> list[dict]:
    """Run the assign/update loop over the collected combo table in
    plain Python.  Exact same math as the DataFrame path; used when the
    combo table is small enough to live on the driver, where it saves
    ~10 Spark jobs of pure scheduling overhead per run.  The heavy
    lifting (combo compression, final assignment) stays distributed."""
    k = len(medoids)
    by_id = {c["tweet_id"]: c for c in combo_rows}
    for it in range(1, max_iter + 1):
        result.iterations = it
        # assignment of each combo to nearest medoid (first-min argmin)
        clusters: dict[int, list[dict]] = {i: [] for i in range(k)}
        for c in combo_rows:
            d = [_py_distance(c, m, weighted) for m in medoids]
            clusters[d.index(min(d))].append(c)
        # update: weighted pairwise argmin per cluster
        new_medoids = []
        for i in range(k):
            members = clusters[i]
            if not members:
                new_medoids.append(medoids[i])
                continue
            best = None
            for a in members:
                tot = sum(_py_distance(a, b, weighted) * b["n"] for b in members)
                key = (tot, a["tweet_id"])
                if best is None or key < best[0]:
                    best = (key, a)
            new_medoids.append(by_id[best[1]["tweet_id"]])
        displacement = [
            _py_distance(old, new, weighted)
            for old, new in zip(medoids, new_medoids)
        ]
        result.history.append(displacement)
        medoids = new_medoids
        if all(d <= tol for d in displacement):
            result.converged = True
            break
    return medoids


#: combo-table size below which the iteration loop runs driver-side.
#: The driver loop is O(C^2 / k) Python per iteration, the distributed
#: one a near-flat few Spark jobs.  Whole kmedoids + cluster_cost, k=3,
#: tol=0, synthetic combos, 4 cores, best of 3 (s, driver / distributed):
#: C=120 1.2 / 5.2, C=1,000 2.8 / 6.3, C=1,500 8.6 / 7.6,
#: C=2,000 13.1 / 6.1, C=3,000 31.0 / 9.1 -- the crossover sits near
#: 1,200.  The test and benchmark data (C <= 120) stay driver-side.
DRIVER_COMBO_THRESHOLD = 1_200


def kmedoids(
    features: DataFrame,
    k: int | None = None,
    seeds: Sequence[int] | None = None,
    max_iter: int = 10,
    tol: float = 1.5,
    weighted: bool = True,
    driver_combo_threshold: int | None = None,
) -> KMedoidsResult:
    """Lloyd-style k-medoids (C1/C2, Cluster.java:310-386 intended
    semantics; the reference's degenerate one-iteration loop bounds are
    not replicated -- SURVEY.md section 6).

    ``seeds``: medoid tweet_ids; defaults to a deterministic k-draw via
    :func:`mapreduce6240project_spark.operators.sampling.sample_k_seeds`.

    Adaptive physical strategy: the iteration state is the
    combo-compressed table (distinct feature combinations + counts).
    When it fits comfortably on the driver (< ``driver_combo_threshold``
    rows) the assign/update loop runs in local Python over the collected
    combos -- identical math, ~10 fewer Spark jobs of scheduling
    overhead; otherwise the loop stays fully distributed (DataFrame
    self-join per iteration).  Either way the data-sized work -- combo
    compression and the final per-member assignment -- is distributed.
    """
    from mapreduce6240project_spark.config import adaptive_threshold

    driver_combo_threshold = adaptive_threshold(
        driver_combo_threshold, DRIVER_COMBO_THRESHOLD
    )
    if seeds is None and k is None:
        raise ValueError("pass k or seeds")

    # Persist the 4-feature projection only when the input is not
    # already cached: the registry paths hand in the session-persisted
    # feature store, where a second persist would materialize a
    # redundant copy of the same rows (one extra full pass + memory)
    # that every scan below could equally serve from the parent cache
    # (r10 optimization; guide section 5 -- cache only what recomputing
    # would actually cost).
    src_level = features.storageLevel
    features = features.select(*FEATURE_COLS)
    owns_features = not (src_level.useMemory or src_level.useDisk)
    if owns_features:
        features = features.persist()

    # Iterate over the combo-compressed table: one full-data shuffle up
    # front, then every iteration touches C rows (distinct feature
    # combinations), not n.  Exact -- see update_medoids.  The final
    # per-member assignment is a single narrow projection at the end.
    combos = (
        features.groupBy(*DISTANCE_FEATURES)
        .agg(F.count("*").alias("n"), F.min("tweet_id").alias("tweet_id"))
        .persist()
    )

    # Single bounded probe job replaces the former count() + collect()
    # pair: limit(threshold + 1) returns EVERY combo row when the table
    # fits the driver threshold (a limit larger than the row count scans
    # all partitions, and a partition whose iterator is fully consumed
    # commits to the cache), and stops after threshold + 1 rows when it
    # does not -- so the driver branch costs one probe and the
    # distributed branch pays only a truncated probe (r10 optimization).
    # The cache fill is complete only on the driver branch; the overflow
    # branch materializes explicitly below.
    def _probe():
        return combos.limit(driver_combo_threshold + 1).collect()

    head_future = None
    pool = None
    if seeds is None:
        # The probe and the seed draw are independent jobs over the same
        # cached projection; submitting the probe from a driver thread
        # overlaps its shuffle with the seed TakeOrdered instead of
        # paying the two scheduling latencies back to back (r11, guide
        # section 2.6 -- actions are only sequential because the driver
        # calls them sequentially).
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        head_future = pool.submit(_probe)

    try:
        if seeds is None:
            from mapreduce6240project_spark.operators.sampling import seed_hash

            # Fused seed draw + medoid feature fetch: TakeOrdered of the
            # full feature rows by the same (LCG hash, id) key returns the
            # seed rows directly -- ONE job instead of the former two
            # (sample_k_seeds collect + _collect_medoids collect), and at
            # scale a per-partition top-k instead of a full distinct
            # shuffle of every id (r10 optimization, guide section 2.4).
            # The draw is over k+1 rows (r11, ADVICE): equal-id rows sort
            # adjacently, so a duplicate of any of the first k-1 seed ids
            # is visible within the first k rows, and a duplicate of the
            # k-th seed id is visible in row k+1 -- the one case limit(k)
            # could not see (it kept the seed ids correct but picked the
            # k-th medoid's features from an arbitrary copy).  Any
            # duplicate among the k+1 rows falls back to the original
            # distinct-draw path.
            rows = (
                features.orderBy(seed_hash("tweet_id"), F.col("tweet_id"))
                .limit(k + 1)
                .collect()
            )
            take = rows[:k]
            seeds = [int(r["tweet_id"]) for r in take]
            # equal ids sort adjacently: any duplicate of seeds[0..k-2] is
            # already inside the first k rows, and a duplicate of the k-th
            # seed can only sit at row k+1 -- so these two checks cover
            # every duplicated seed id (fewer than k rows = a short draw,
            # handled like the old path: unique ids are accepted as-is)
            if len(set(seeds)) == len(seeds) and (
                len(rows) <= k or int(rows[k]["tweet_id"]) != seeds[-1]
            ):
                medoids = [{c: r[c] for c in FEATURE_COLS} for r in take]
            else:
                from mapreduce6240project_spark.operators.sampling import (
                    sample_k_seeds,
                )

                seeds = [int(r.tweet_id) for r in sample_k_seeds(features, k).collect()]
                medoids = _collect_medoids(features, seeds)
        else:
            seeds = [int(s) for s in seeds]
            medoids = _collect_medoids(features, seeds)
        k = len(seeds)

        result = KMedoidsResult(assignments=features, medoids=medoids)

        head = head_future.result() if head_future is not None else _probe()
        if len(head) <= driver_combo_threshold:
            combo_rows = [r.asDict() for r in head]
            combos.unpersist()
            medoids = _iterate_driver_side(
                combo_rows, medoids, max_iter, tol, weighted, result
            )
            # combo rows carry the weight column `n`; the public medoid dicts
            # are feature rows only (same shape as the distributed path's
            # _collect_medoids result)
            medoids = [{k: m[k] for k in FEATURE_COLS} for m in medoids]
            result.assignments = assign_clusters(features, medoids, weighted)
            result.medoids = medoids
            return result

        # Distributed branch: the truncated limit-probe above only commits
        # cache partitions whose iterators were fully consumed, so the
        # combo cache is at best partially built here.  Materialize it
        # eagerly ONCE so every loop iteration reads the cache instead of
        # the first iteration silently re-paying the full combo shuffle
        # (r11, VERDICT item 2; guide section 5).
        combos.count()
        assigned = assign_clusters(combos, medoids, weighted)
        for it in range(1, max_iter + 1):
            result.iterations = it
            new_ids_rows = update_medoids(assigned, weighted).collect()
            new_ids = [r.tweet_id for r in sorted(new_ids_rows, key=lambda r: r.cluster)]
            # clusters can be empty (id missing) -- keep the old medoid then
            old_by_idx = {i: m for i, m in enumerate(medoids)}
            got = _collect_medoids(features, new_ids) if new_ids else []
            by_cluster = dict(zip((r.cluster for r in sorted(new_ids_rows, key=lambda r: r.cluster)), got))
            new_medoids = [by_cluster.get(i, old_by_idx[i]) for i in range(k)]

            displacement = [
                _py_distance(old, new, weighted)
                for old, new in zip(medoids, new_medoids)
            ]
            result.history.append(displacement)
            medoids = new_medoids
            assigned = assign_clusters(combos, medoids, weighted)
            if all(d <= tol for d in displacement):
                result.converged = True
                break

        combos.unpersist()
        # single narrow pass materializes the per-member assignment
        result.assignments = assign_clusters(features, medoids, weighted)
        result.medoids = medoids
        return result
    except BaseException:
        # Release what this call persisted.  Wait for the probe first:
        # a probe still running would otherwise fill the combo cache
        # after the unpersist and leave its blocks behind.  The error
        # re-raised is this thread's; a probe error is dropped.
        if head_future is not None:
            head_future.exception()
        combos.unpersist()
        if owns_features:
            features.unpersist()
        raise
    finally:
        if pool is not None:
            pool.shutdown(wait=False)


def elbow(
    features: DataFrame,
    ks: Sequence[int] = (2, 3, 4, 5),
    seeds_by_k: dict[int, Sequence[int]] | None = None,
    **kw,
) -> DataFrame:
    """C3: the reference's multi-k elbow sweep (one copy-paste file per k
    + distanceCal.java) as a parameter sweep.  Returns
    ``(k, cluster, n_members, total_cost)``."""
    spark = features.sparkSession
    out = None
    for k in ks:
        seeds = seeds_by_k.get(k) if seeds_by_k else None
        res = kmedoids(features, k=k, seeds=seeds, **kw)
        costs = cluster_cost(res.assignments, res.medoids).withColumn("k", F.lit(k))
        out = costs if out is None else out.unionByName(costs)
    return out.select("k", "cluster", "n_members", "total_cost")
