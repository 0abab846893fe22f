"""fuzzy joins, duplicate-cluster folds, production dedup job shapes and dedup audits.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 18: Round-3 coverage wave 18: fuzzy string joins and duplicate-cluster
* wave 19: Round-3 coverage wave 19: quality-based canonical selection.
* wave 39: Round-3 coverage wave 39: provenance-level dedup audit and a file
* wave 57: Round-3 coverage wave 57: production dedup job shapes.
* wave 65: Round-3 coverage wave 65: cross-method dedup agreement and
* wave 72: Round-3 coverage wave 72: order-insensitive dedup and peer
* wave 75: Round-3 coverage wave 75: prefix dedup, curriculum staging, rolling
* wave 92: Round-3 coverage wave 92: dedup bias audit, annual seasonality,
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.plans.parity import _jaccard_pairs_cte
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.sources.tables import load_table
from pyspark.sql import DataFrame, SparkSession, Window
from mapreduce6240project_spark.plans.registry import REGISTRY, _register
from mapreduce6240project_spark.operators.dedup import normalize_text
from mapreduce6240project_spark.operators.sketch import QSKETCH_BID_SQL
from mapreduce6240project_spark.plans.extensions import (
    _ngram_jaccard_sql,
    _simhash_md5_sql,
)

# =========================================================================
# wave 18
# Round-3 coverage wave 18: fuzzy string joins and duplicate-cluster
# shape statistics.
#
# - ``typo_pairs``: blocked edit-distance self-join over part names --
#   candidate pairs share a blocking key (the name's last token), and
#   only candidates pay the Levenshtein kernel.  The standard entity-
#   resolution shape: an all-pairs N^2 edit-distance scan is impossible
#   at scale, a block-local one is routine (work is sum of block-size^2,
#   bounded by the blocking key's fan-out, and the kernel runs inside
#   whole-stage codegen).
# - ``dup_component_sizes``: histogram of duplicate-cluster sizes from
#   the transitive near-dup graph (how big do duplicate families get --
#   the number that tells you whether dedup will delete 1% or 40% of the
#   corpus).  Components come from the same label-propagation operator
#   the survivor query uses; singleton documents count as size-1
#   clusters via a left anti-ish coalesce, and the oracle replays the
#   components with the recursive reach CTE.
#
# Reference parity note: entity resolution and cluster-shape audits are
# engine extensions alongside SURVEY.md section 2.
# =========================================================================

TYPO_MAX_DIST = 3


@_register(
    "typo_pairs",
    f"""
WITH names AS (
  SELECT DISTINCT p_name AS name,
         split_part(p_name, ' ', -1) AS block
  FROM part
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) BETWEEN 1 AND {TYPO_MAX_DIST}""",
    ref="extension: blocked edit-distance self-join (entity resolution "
    "shape: block key bounds candidate pairs, Levenshtein only on "
    "candidates)",
)
def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).distinct()
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .filter(dist.between(1, TYPO_MAX_DIST))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("bigint").alias("dist"),
        )
    )


#: shared recursive replay of ``graph.dup_components`` at threshold
#: 0.5: exact pair graph -> reach facts -> per-doc min-label component
#: (singletons label themselves).  wave19 appends its own CTEs.
DUP_COMPONENTS_CTE = (
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
),
comp AS (
  SELECT d.doc_id,
         coalesce((SELECT min(l) FROM reach r WHERE r.u = d.doc_id),
                  d.doc_id) AS component
  FROM documents d
)"""
)


@_register(
    "dup_component_sizes",
    DUP_COMPONENTS_CTE
    + """,
fam AS (
  SELECT component, count(*) AS csize FROM comp GROUP BY component
)
SELECT csize AS component_size, count(*) AS n_components
FROM fam GROUP BY csize""",
    ref="extension: duplicate-cluster size histogram over the transitive "
    "near-dup components (label propagation; singletons are size-1)",
)
def q_dup_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.graph import dup_components

    docs = load_table(spark, sf_dir, "documents")
    comp = dup_components(docs, threshold=0.5)
    sizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
    return sizes.groupBy(F.col("csize").alias("component_size")).agg(
        F.count("*").alias("n_components")
    )


# =========================================================================
# wave 19
# Round-3 coverage wave 19: quality-based canonical selection.
#
# ``dup_best_survivors``: pick the CANONICAL document per duplicate
# cluster by quality, not by id.  Min-id survivor selection (what plain
# dedup does) keeps whichever near-duplicate happened to be crawled
# first; production corpora keep the *best* copy -- highest quality
# score, id as the tiebreak.  Composition of three existing operators:
# transitive components over the exact near-dup graph, the quality
# scorer, and a per-component top-1 window whose partition key is the
# component (cluster-sized partitions, not corpus-sized).
#
# The oracle replays components with the recursive reach CTE and reuses
# the registered quality oracle verbatim, so the two selection inputs
# are bit-identical to their standalone queries.
#
# Reference parity note: canonical-copy selection is an LLM-pipeline
# extension alongside SURVEY.md section 2.
# =========================================================================

_QUALITY_SQL = REGISTRY["text_quality"].oracle


@_register(
    "dup_best_survivors",
    DUP_COMPONENTS_CTE
    + f""",
q AS (
  {_QUALITY_SQL}
),
ranked AS (
  SELECT c.component, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.doc_id) AS rk
  FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT component, doc_id AS survivor_id, quality
FROM ranked WHERE rk = 1""",
    ref="extension: canonical-copy selection per duplicate cluster "
    "(keep highest quality, not lowest id); composes components + "
    "quality scorer + cluster-partitioned top-1 window",
)
def q_dup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.graph import dup_components
    from mapreduce6240project_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    comp = dup_components(docs, threshold=0.5)
    quality = quality_score(docs).select("doc_id", "quality")
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "doc_id")
    return (
        comp.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("component", F.col("doc_id").alias("survivor_id"), "quality")
    )


# =========================================================================
# wave 39
# Round-3 coverage wave 39: provenance-level dedup audit and a file
# compaction planner.
#
# - ``source_overlap_matrix``: which sources copy from each other -- for
#   every source pair, how many exact content fingerprints they share.
#   The provenance view of dedup that decides which feeds to drop or
#   down-weight before training.  Distinct (fingerprint, source) pairs
#   self-joined on the fingerprint key; the matrix is
#   (n_sources x n_sources)-bounded.
# - ``compaction_plan``: OPTIMIZE-style small-file bin packing -- per
#   source, documents (standing in for data files, sized by n_chars) are
#   assigned to output groups by a running-size cursor
#   (floor(cumulative_before / target)), and the plan reports each output
#   group's file count and byte total.  The assignment is one window
#   cumsum per source partition -- the same shape a real table-maintenance
#   planner runs over the file manifest, which is always many orders of
#   magnitude smaller than the data it describes.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_TARGET_CHARS = 4000


@_register(
    "source_overlap_matrix",
    f"""
WITH fp AS (
  SELECT DISTINCT md5({_NORM}) AS fingerprint, source FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b
  ON a.fingerprint = b.fingerprint AND a.source < b.source
GROUP BY 1, 2""",
    ref="extension: cross-source duplicate-overlap matrix -- distinct "
    "(fingerprint, source) self-join on the digest key; output bounded "
    "by n_sources^2",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = (
        load_table(spark, sf_dir, "documents")
        .select(F.md5(normalize_text("text")).alias("fingerprint"), "source")
        .distinct()
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@_register(
    "compaction_plan",
    f"""
WITH files AS (
  SELECT source, doc_id, n_chars,
         coalesce(sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM documents
)
SELECT source, CAST(before // {_TARGET_CHARS} AS BIGINT) AS out_group,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM files
GROUP BY 1, 2""",
    ref="extension: OPTIMIZE-style compaction planner -- running-size "
    "cursor (window cumsum per source) assigns files to target-sized "
    "output groups; manifest-sized work",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    files = docs.withColumn(
        "before", F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    )
    return (
        files.select(
            "source",
            F.expr(f"before div {_TARGET_CHARS}").cast("long").alias("out_group"),
            "n_chars",
        )
        .groupBy("source", "out_group")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# =========================================================================
# wave 57
# Round-3 coverage wave 57: production dedup job shapes.
#
# - ``incremental_dedup_new``: the most common production dedup job --
#   a NEW batch (odd doc ids) deduplicated against the already-ingested
#   corpus (even ids) AND within itself: a new document survives when its
#   fingerprint is absent from the seen corpus and it is the lowest id
#   for that fingerprint inside the batch.  One anti-join against the
#   seen fingerprint set + one in-batch group-min; at scale the seen set
#   is the fingerprint index, not the corpus.
# - ``doc_survivor_remap``: the reference-rewrite table dedup emits for
#   downstream consumers -- for every non-canonical duplicate, the
#   surviving canonical doc id (min id per exact fingerprint).  Joins,
#   citations, and index entries pointing at dropped docs are rewritten
#   through this map.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@_register(
    "incremental_dedup_new",
    f"""
WITH fp AS (
  SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
),
seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0),
batch AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
fresh AS (
  SELECT b.doc_id, b.fingerprint FROM batch b
  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fingerprint = b.fingerprint)
)
SELECT fingerprint, CAST(min(doc_id) AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_batch_copies
FROM fresh GROUP BY fingerprint""",
    ref="extension: incremental dedup of a new batch vs the seen "
    "corpus -- fingerprint anti-join + in-batch keep-lowest; the seen "
    "side is index-sized at scale",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
    )
    seen = fp.filter(F.col("doc_id") % 2 == 0).select("fingerprint").distinct()
    batch = fp.filter(F.col("doc_id") % 2 == 1)
    fresh = batch.join(seen, "fingerprint", "left_anti")
    return fresh.groupBy("fingerprint").agg(
        F.min("doc_id").cast("bigint").alias("doc_id"),
        F.count(F.lit(1)).alias("n_batch_copies"),
    )


def _remap_sql() -> str:
    from mapreduce6240project_spark.plans.parity import _jaccard_pairs_cte

    return (
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
SELECT u AS doc_id, CAST(min(l) AS BIGINT) AS canonical_id
FROM reach GROUP BY u"""
    )


@_register(
    "doc_survivor_remap",
    _remap_sql(),
    ref="extension: dedup reference-rewrite map over near-dup "
    "components (dropped doc -> min-id canonical of its J>=0.5 "
    "component) -- the table downstream joins are rewritten through; "
    "edges are the LSH-verified pairs (recall pinned by "
    "minhash_recall_audit), components via label propagation",
)
def q_survivor_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators import dedup as D
    from mapreduce6240project_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_verified_pairs(
        docs, D.minhash_candidate_pairs(docs), threshold=0.5
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    return (
        cc.filter(F.col("node") != F.col("component"))
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").cast("bigint").alias("canonical_id"),
        )
    )


# =========================================================================
# wave 65
# Round-3 coverage wave 65: cross-method dedup agreement and
# selectivity-estimation audits.
#
# - ``dedup_method_agreement``: do SimHash (Hamming <= 3) and MinHash
#   (exact-verified J >= 0.5) agree on which pairs are duplicates?
#   Reported as pair-set sizes, the intersection, and the pair-set
#   Jaccard in permyriad -- the audit you run before swapping one dedup
#   method for a cheaper one.  Both pair sets replay in SQL (md5-variant
#   SimHash; MinHash reduces to the exact ground truth).
# - ``selectivity_estimate_audit``: cost-model validation -- the
#   quantile sketch's estimate of ``value > 75`` selectivity vs the
#   actual filtered count, error in permyriad.  With ``join_size_cms``
#   this completes the pair of CBO inputs (filter selectivity + join
#   cardinality) measured as first-class queries.
# =========================================================================

_CUT = 75  # selectivity predicate: value > 75


@_register(
    "dedup_method_agreement",
    f"""
WITH sh AS (
  SELECT id_a, id_b FROM ({_simhash_md5_sql(3)})
),
mh AS (
  SELECT id_a, id_b FROM ({_ngram_jaccard_sql(0.5)})
),
b AS (SELECT count(*) AS n FROM mh),
a AS (SELECT count(*) AS n FROM sh),
i AS (SELECT count(*) AS n FROM sh JOIN mh USING (id_a, id_b))
SELECT CAST(a.n AS BIGINT) AS n_simhash, CAST(b.n AS BIGINT) AS n_minhash,
       CAST(i.n AS BIGINT) AS n_both,
       CAST(i.n * 10000 // (a.n + b.n - i.n) AS BIGINT)
         AS pair_jaccard_permyriad
FROM a, b, i""",
    ref="extension: cross-method dedup agreement (SimHash Hamming<=3 vs "
    "MinHash-verified J>=0.5 pair sets) -- intersection + pair-set "
    "Jaccard; the swap-methods audit",
)
def q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators import dedup as D
    from mapreduce6240project_spark.runtime import track

    docs = load_table(spark, sf_dir, "documents")
    # each pair set feeds its own count AND the intersection join;
    # unpersisted, the full SimHash and MinHash-verify pipelines (the
    # two most expensive dedup plans) each ran TWICE (r11, guide
    # section 5).  Pair-grain rows -- bounded by the duplicate density,
    # tiny next to the corpus at any scale.
    sh = track(
        D.simhash_pairs(docs, max_hamming=3, token_hash="md5").select(
            "id_a", "id_b"
        ).persist()
    )
    mh = track(
        D.jaccard_verified_pairs(
            docs, D.minhash_candidate_pairs(docs), threshold=0.5
        ).select("id_a", "id_b").persist()
    )
    a = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    b = mh.agg(F.count(F.lit(1)).alias("n_minhash"))
    i = sh.join(mh, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("n_both"))
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(i))
        .select(
            "n_simhash",
            "n_minhash",
            "n_both",
            F.expr("n_both * 10000 div (n_simhash + n_minhash - n_both)")
            .cast("bigint")
            .alias("pair_jaccard_permyriad"),
        )
    )


def _selectivity_sql() -> str:
    bid = QSKETCH_BID_SQL.format(m="m")
    cut_micro = _CUT * 1_000_000
    cut_bid = f"CASE WHEN {cut_micro} < 8 THEN {cut_micro} ELSE 8 * (length(bin({cut_micro})) - 1) + CAST(floor({cut_micro} / power(2, length(bin({cut_micro})) - 4)) AS BIGINT) - 8 END"
    return f"""
WITH mm AS (
  SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m FROM events
),
b AS (SELECT {bid} AS bid, count(*) AS n FROM mm WHERE m >= 0 GROUP BY 1),
tot AS (SELECT sum(n) AS total FROM b),
est AS (
  SELECT sum(n) AS n_est FROM b WHERE bid > ({cut_bid})
),
act AS (SELECT count(*) AS n_act FROM events WHERE value > {_CUT})
SELECT CAST(coalesce(est.n_est, 0) AS BIGINT) AS n_estimated,
       CAST(act.n_act AS BIGINT) AS n_actual,
       CAST(abs(coalesce(est.n_est, 0) - act.n_act) * 10000
            // greatest(act.n_act, 1) AS BIGINT) AS err_permyriad
FROM est, act, tot"""


@_register(
    "selectivity_estimate_audit",
    _selectivity_sql(),
    ref="extension: filter-selectivity estimation from the quantile "
    "sketch vs the actual count (err in permyriad) -- the CBO input "
    "pair-completing audit to join_size_cms",
)
def q_selectivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sketch import quantile_sketch

    ev = load_table(spark, sf_dir, "events")
    sk = quantile_sketch(ev, "value")
    cut_micro = _CUT * 1_000_000
    cut_bid_expr = (
        f"CASE WHEN {cut_micro} < 8 THEN {cut_micro} "
        f"ELSE 8 * (length(bin({cut_micro})) - 1) "
        f"+ CAST(floor({cut_micro} / power(2, length(bin({cut_micro})) - 4)) AS BIGINT) - 8 END"
    )
    est = sk.filter(F.expr(f"bid > ({cut_bid_expr})")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_estimated")
    )
    act = ev.filter(F.col("value") > _CUT).agg(
        F.count(F.lit(1)).alias("n_actual")
    )
    return est.crossJoin(F.broadcast(act)).select(
        "n_estimated",
        "n_actual",
        F.expr(
            "abs(n_estimated - n_actual) * 10000 div greatest(n_actual, 1)"
        )
        .cast("bigint")
        .alias("err_permyriad"),
    )


# =========================================================================
# wave 72
# Round-3 coverage wave 72: order-insensitive dedup and peer
# percentiles.
#
# - ``dedup_bag_fingerprint``: word-order-insensitive exact dedup -- the
#   fingerprint is the md5 of the SORTED token multiset, so shuffled or
#   re-ordered copies (listicles, reordered boilerplate) collapse where
#   plain exact dedup misses them.  Same one-shuffle keep-lowest shape as
#   ``dedup_exact``; reported as fingerprints with their copy counts and
#   survivors.
# - ``supplier_peer_percentile``: each supplier's revenue percentile
#   within its nation (integer permyriad percent-rank) -- the
#   peer-comparison window every benchmark report runs; nation-partitioned
#   windows, no global sort.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@_register(
    "dedup_bag_fingerprint",
    f"""
WITH bags AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(string_split({_NORM}, ' ')), ' '))
           AS bag_fp
  FROM documents
)
SELECT bag_fp, CAST(min(doc_id) AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM bags GROUP BY 1""",
    ref="extension: word-order-insensitive dedup (md5 of the sorted "
    "token multiset) -- collapses re-ordered copies plain exact dedup "
    "misses; one digest shuffle",
)
def q_bag_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    bag = F.md5(
        F.array_join(F.sort_array(F.split(normalize_text("text"), " ")), " ")
    )
    return (
        docs.select("doc_id", bag.alias("bag_fp"))
        .groupBy("bag_fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@_register(
    "supplier_peer_percentile",
    """
WITH rev AS (
  SELECT s.s_suppkey, s.s_nationkey,
         sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)
SELECT s_suppkey, s_nationkey, CAST(rev_c AS BIGINT) AS rev_c,
       CAST((row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY rev_c, s_suppkey) - 1) * 10000
            // greatest(count(*) OVER (PARTITION BY s_nationkey) - 1, 1)
            AS BIGINT) AS pct_permyriad
FROM rev""",
    ref="extension: peer percentile -- integer permyriad percent-rank "
    "of supplier revenue within its nation; nation-partitioned windows",
)
def q_supplier_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_nationkey")
        .agg(
            F.sum(
                F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            ).alias("rev_c")
        )
    )
    return rev.select(
        "s_suppkey",
        "s_nationkey",
        F.col("rev_c").cast("bigint").alias("rev_c"),
        F.expr(
            "CAST((row_number() OVER (PARTITION BY s_nationkey"
            " ORDER BY rev_c, s_suppkey) - 1) * 10000"
            " div greatest(count(*) OVER (PARTITION BY s_nationkey) - 1, 1)"
            " AS BIGINT)"
        ).alias("pct_permyriad"),
    )


# =========================================================================
# wave 75
# Round-3 coverage wave 75: prefix dedup, curriculum staging, rolling
# reach.
#
# - ``dedup_prefix_fp``: prefix-fingerprint dedup -- md5 of the first 32
#   normalized tokens, the standard corpus trick for collapsing
#   truncated/extended variants of the same page (same lead, different
#   tail) that exact and bag dedup both miss.  One digest group-by
#   shuffle, same keep-lowest shape as ``dedup_exact``.
# - ``curriculum_buckets``: curriculum-learning staging -- documents
#   ordered by the shared quality score (``text_quality``'s oracle CTE
#   reused verbatim) and cut into 4 stages with ``ntile(4)`` on a
#   deterministic (quality, doc_id) order; per stage: doc count, token
#   budget, and the permyriad quality range.  This is the table a
#   staged-training data loader consumes.
# - ``rolling_7d_distinct_users``: trailing-7-day distinct users per
#   active day.  Sliding-window COUNT DISTINCT does not decompose into a
#   plain window frame, so the scalable shape is: distinct (day, user)
#   pairs (one shuffle, cardinality-bounded), then a range join against
#   the tiny distinct-day dimension (broadcast; day count is bounded by
#   the calendar, not the data) and a per-day distinct count.
#
# Scale: prefix dedup and the curation stages are single-shuffle
# aggregations (the ntile is a global window over documents -- at 100 TB
# the cut-points come from approx_percentile instead, as recorded for
# ``rfm_segments``).  The rolling reach join fans each (day, user) pair
# out 7x against a broadcast calendar -- linear, no self-join on the
# event stream.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

#: the standalone quality query's oracle, reused verbatim (extensions
#: registers before this module, enforced by plans/__init__ order)
_QUALITY_SQL = REGISTRY["text_quality"].oracle


@_register(
    "dedup_prefix_fp",
    f"""
WITH prefixed AS (
  SELECT doc_id,
         md5(array_to_string(string_split({_NORM}, ' ')[1:32], ' '))
           AS prefix_fp
  FROM documents
)
SELECT prefix_fp, CAST(min(doc_id) AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM prefixed GROUP BY 1""",
    ref="extension: first-32-token prefix fingerprint dedup -- "
    "collapses truncated/extended variants sharing a lead; one digest "
    "shuffle",
)
def q_dedup_prefix_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.slice(F.split(normalize_text("text"), " "), 1, 32), " "
        )
    )
    return (
        docs.select("doc_id", fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@_register(
    "curriculum_buckets",
    f"""
WITH q AS (
  {_QUALITY_SQL}
), staged AS (
  SELECT ntile(4) OVER (ORDER BY quality, doc_id) AS stage,
         n_tokens,
         CAST(floor(quality * 10000 + 0.5) AS BIGINT) AS q_pm
  FROM q
)
SELECT CAST(stage AS BIGINT) AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_budget,
       CAST(min(q_pm) AS BIGINT) AS min_q_pm,
       CAST(max(q_pm) AS BIGINT) AS max_q_pm
FROM staged GROUP BY 1""",
    ref="extension: curriculum-learning stages -- quality-ordered "
    "ntile(4) over the shared scorer, per-stage doc/token budgets",
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
        ntile_from_rank,
    )

    q = quality_score(docs).select("doc_id", "n_tokens", "quality")
    # exact NTILE(4) from the range-exchanged global rank -- no
    # corpus-sized single-task sort (operators/prefix)
    staged = distributed_prefix(
        q, ["quality", "doc_id"], total_col="_n"
    ).select(
        ntile_from_rank("_rank", "_n", 4).alias("stage"),
        "n_tokens",
        F.floor(F.col("quality") * 10000 + F.lit(0.5))
        .cast("bigint")
        .alias("q_pm"),
    )
    return staged.groupBy(F.col("stage").cast("bigint").alias("stage")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("token_budget"),
        F.min("q_pm").alias("min_q_pm"),
        F.max("q_pm").alias("max_q_pm"),
    )


@_register(
    "rolling_7d_distinct_users",
    """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT day FROM pairs
)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users_7d
FROM days d
JOIN pairs p
  ON p.day <= d.day AND p.day >= d.day - INTERVAL 6 DAY
GROUP BY d.day""",
    ref="extension: trailing-7-day distinct-user reach per day -- "
    "distinct (day,user) pairs range-joined to a broadcast calendar; "
    "sliding COUNT DISTINCT without an event-stream self-join",
)
def q_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    pairs = ev.distinct()
    days = pairs.select("day").distinct()
    d = days.withColumnRenamed("day", "d_day")
    joined = pairs.join(
        F.broadcast(d),
        (F.col("day") <= F.col("d_day"))
        & (F.col("day") >= F.date_sub(F.col("d_day"), 6)),
    )
    return joined.groupBy(
        F.col("d_day").cast("string").alias("day")
    ).agg(F.count_distinct("user_id").alias("n_users_7d"))


# =========================================================================
# wave 92
# Round-3 coverage wave 92: dedup bias audit, annual seasonality,
# first-purchase predictiveness.
#
# - ``dedup_survivor_length_bias``: does exact dedup disproportionately
#   drop certain document lengths?  Keep-first survivorship (min doc_id
#   per fingerprint, the ``dedup_exact`` rule) compared against the
#   population across length quartile bands: a keep rate that varies by
#   band means the deduped corpus has a different length profile than
#   the raw one -- the curation-bias audit that should accompany every
#   dedup stage (cf. ``corpus_dedup_inflation`` for the volume side).
#   Bands come from fixed character thresholds (map-only, no ntile).
# - ``month_of_year_index``: month-of-year seasonality of order revenue
#   across the multi-year history -- mean revenue share per calendar
#   month vs the uniform 1/12, in permyriad (the annual analogue of
#   ``weekday_value_index``; with ~6 years of orders each month-of-year
#   has multiple observations).  Exact cent sums, one final widened
#   division.
# - ``first_order_vs_ltv``: does the first order's value predict the
#   customer's lifetime revenue?  Per customer: first order (min date,
#   orderkey tie-break, taken via one min_by-style struct-min -- no
#   second scan) vs total revenue; Pearson r from DECIMAL(38) power sums
#   (``acf1_daily_value`` convention) plus the exact covariance sign.
#   The single number behind "can we forecast LTV at day 0".
#
# Scale: all three reduce to customer/month/band grids before any
# statistics; the first-order pick is one struct-min aggregation.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
#: fixed char-length band edges (map-only; ntile would need a sort)
_BANDS = (200, 400, 800)


def _band_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} < {_BANDS[0]} THEN 0"
        f" WHEN {col} < {_BANDS[1]} THEN 1"
        f" WHEN {col} < {_BANDS[2]} THEN 2 ELSE 3 END"
    )


@_register(
    "dedup_survivor_length_bias",
    f"""
WITH fp AS (
  SELECT doc_id, n_chars, md5({_NORM}) AS f FROM documents
), surv AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY f)
              THEN 1 ELSE 0 END AS kept
  FROM fp
)
SELECT CAST({_band_sql("n_chars")} AS BIGINT) AS len_band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(kept) * 10000 // count(*) AS BIGINT) AS keep_pm
FROM surv GROUP BY 1""",
    ref="extension: dedup survivorship bias by length band -- keep-"
    "first exact-dedup keep rate across fixed char bands; the "
    "curation-bias audit behind dedup_exact",
)
def q_dedup_survivor_length_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "n_chars", F.md5(normalize_text("text")).alias("f")
    )
    surv = fp.select(
        "n_chars",
        F.when(
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("f")),
            1,
        )
        .otherwise(0)
        .alias("kept"),
    )
    return (
        surv.select(
            F.expr(_band_sql("n_chars")).cast("bigint").alias("len_band"),
            "kept",
        )
        .groupBy("len_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.expr("sum(kept) * 10000 div count(*)")
            .cast("bigint")
            .alias("keep_pm"),
        )
    )


@_register(
    "month_of_year_index",
    """
WITH m AS (
  SELECT month(CAST(o_orderdate AS DATE)) AS moy,
         count(*) AS n,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
)
SELECT CAST(moy AS BIGINT) AS moy,
       CAST(n AS BIGINT) AS n_orders,
       CAST(rev_c AS BIGINT) AS revenue_c,
       CAST(CAST(rev_c AS HUGEINT) * 120000
            // sum(CAST(rev_c AS HUGEINT)) OVER () AS BIGINT)
         AS index_pm
FROM m""",
    ref="extension: month-of-year revenue seasonality index (share of "
    "annual revenue vs the uniform 1/12, permyriad x12) -- annual "
    "analogue of weekday_value_index over the multi-year order history",
)
def q_month_of_year_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        F.month(F.col("o_orderdate").cast("date")).alias("moy"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "v"
        ),
    ).groupBy("moy").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("rev_c")
    )
    w = Window.partitionBy()
    return m.select(
        F.col("moy").cast("bigint").alias("moy"),
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("rev_c").cast("bigint").alias("revenue_c"),
        (F.col("rev_c").cast("decimal(38,0)") * 120000).alias("_tmp"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).over(w).alias("_den"),
    ).select(
        "moy",
        "n_orders",
        "revenue_c",
        F.expr("CAST(_tmp div _den AS BIGINT)").alias("index_pm"),
    )


@_register(
    "first_order_vs_ltv",
    """
WITH rk AS (
  SELECT o_custkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v_c,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS r
  FROM orders WHERE o_orderdate IS NOT NULL
), per_cust AS (
  SELECT o_custkey,
         max(CASE WHEN r = 1 THEN v_c END) AS first_c,
         sum(v_c) AS ltv_c
  FROM rk GROUP BY 1
), xy AS (
  SELECT CAST(first_c AS DECIMAL(38,0)) AS x,
         CAST(ltv_c AS DECIMAL(38,0)) AS y
  FROM per_cust
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy
)
SELECT n AS n_customers,
       floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS r
FROM s""",
    ref="extension: Pearson r between first-order value and customer "
    "lifetime revenue -- struct-min first-order pick (one scan), "
    "DECIMAL(38) power sums, acf1 rounding convention",
)
def q_first_order_vs_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # an undated order cannot be anyone's FIRST order, and the engines
    # order NULL dates oppositely (dirty-tpch contract): exclude it
    # from the first-vs-LTV analysis on both sides
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    rk = o.select(
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "v_c"
        ),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .alias("r"),
    )
    per_cust = rk.groupBy("o_custkey").agg(
        F.max(F.when(F.col("r") == 1, F.col("v_c"))).alias("first_c"),
        F.sum("v_c").alias("ltv_c"),
    )
    xy = per_cust.select(
        F.col("first_c").cast("decimal(38,0)").alias("x"),
        F.col("ltv_c").cast("decimal(38,0)").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return s.select(
        F.col("n").alias("n_customers"),
        (F.floor(num / den * 10000 + F.lit(0.5)) / 10000.0).alias("r"),
    )


# =========================================================================
# round 5: entity resolution beyond candidate pairs -- match clusters,
# survivorship, and the block-skew audit that decides when the blocked
# self-join needs salting.
#
# - ``er_match_clusters``: fold the blocked edit-distance match graph
#   (the ``typo_pairs`` candidate generator) into entity clusters with
#   the same label-propagation operator dedup uses, and report the
#   cluster-size histogram -- the number that says whether "matching"
#   merges 2% or 40% of the catalog.  Singleton names count as size-1
#   entities.
# - ``er_golden_records``: survivorship -- one golden record per
#   matched entity cluster: representative key = min part key, plus
#   deterministic merge rules for the attributes (min price, max size,
#   variant count).  The output every downstream consumer joins back
#   to; merge rules are explicit aggregates, not "first row wins".
# - ``er_block_skew_audit``: per-block candidate-pair mass (n*(n-1)/2
#   over block sizes) with each block's permyriad share -- the measured
#   input to the salt/no-salt decision for the blocked ER self-join,
#   the same decision the LSH hot-bucket salting automates
#   (operators/dedup.py).  Block count is bounded by the last-token
#   vocabulary, so the single-row total broadcast is enum-bounded.
#
# 100 TB shape: clustering runs on the match-pair graph (candidate
# pairs, orders of magnitude smaller than the catalog); survivorship is
# one hash join catalog->component plus one keyed aggregate; the audit
# is a groupBy on the blocking key.  The recursive-CTE oracle replays
# label propagation exactly (DUP_COMPONENTS_CTE pattern).
# =========================================================================

#: shared ER match-graph CTE: distinct names -> blocked typo pairs ->
#: bidirectional edges -> min-label reach -> per-name component
#: (singletons label themselves), replaying graph.connected_components.
ER_COMPONENTS_CTE = f"""
WITH RECURSIVE names AS (
  SELECT DISTINCT p_name AS name,
         split_part(p_name, ' ', -1) AS block
  FROM part
),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b
  FROM names a JOIN names b
    ON a.block = b.block AND a.name < b.name
  WHERE levenshtein(a.name, b.name) BETWEEN 1 AND {TYPO_MAX_DIST}
),
edges AS (
  SELECT name_a AS u, name_b AS v FROM pairs
  UNION ALL
  SELECT name_b AS u, name_a AS v FROM pairs
),
reach(u, l) AS (
  SELECT u, v FROM edges WHERE v < u
  UNION
  SELECT e.u, r.l FROM edges e JOIN reach r ON r.u = e.v WHERE r.l < e.u
),
comp AS (
  SELECT n.name,
         coalesce((SELECT min(l) FROM reach r WHERE r.u = n.name),
                  n.name) AS component
  FROM names n
)"""


def _er_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name, component) over part names: blocked typo pairs folded
    with connected components; singleton names label themselves."""
    from mapreduce6240project_spark.operators.graph import (
        connected_components,
    )

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    pairs = q_typo_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="name_a", dst="name_b").select(
        F.col("node").alias("name"), "component"
    )
    return names.join(cc, "name", "left").select(
        "name", F.coalesce("component", F.col("name")).alias("component")
    )


@_register(
    "er_match_clusters",
    ER_COMPONENTS_CTE
    + """,
sizes AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size""",
    ref="extension: entity-resolution match clusters -- blocked "
    "edit-distance pair graph folded by label propagation "
    "(operators/graph.py connected_components), cluster-size "
    "histogram incl. singletons",
)
def q_er_match_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _er_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).select(F.col("cluster_size").cast("bigint"), "n_clusters")


@_register(
    "er_golden_records",
    ER_COMPONENTS_CTE
    + """,
matched AS (
  SELECT component FROM comp GROUP BY component HAVING count(*) >= 2
),
golden AS (
  SELECT c.component,
         min(p.p_partkey) AS golden_partkey,
         count(*) AS n_parts,
         count(DISTINCT p.p_name) AS n_name_variants,
         min(CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT))
           AS min_price_cents,
         max(p.p_size) AS max_size
  FROM comp c
  JOIN matched m ON m.component = c.component
  JOIN part p ON p.p_name = c.name
  GROUP BY c.component
)
SELECT component, CAST(golden_partkey AS BIGINT) AS golden_partkey,
       CAST(n_parts AS BIGINT) AS n_parts,
       CAST(n_name_variants AS BIGINT) AS n_name_variants,
       min_price_cents, CAST(max_size AS BIGINT) AS max_size
FROM golden""",
    ref="extension: entity-resolution survivorship -- one golden "
    "record per multi-member match cluster with explicit deterministic "
    "merge rules (min key, min price, max size, variant count)",
)
def q_er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    comp = _er_components(spark, sf_dir)
    matched = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("component")
    )
    joined = (
        comp.join(matched, "component")
        .join(part, comp["name"] == part["p_name"])
    )
    return joined.groupBy("component").agg(
        F.min("p_partkey").cast("bigint").alias("golden_partkey"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.countDistinct("p_name").cast("bigint").alias("n_name_variants"),
        F.min(
            F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
        ).alias("min_price_cents"),
        F.max("p_size").cast("bigint").alias("max_size"),
    )


@_register(
    "er_block_skew_audit",
    """
WITH names AS (
  SELECT DISTINCT p_name AS name,
         split_part(p_name, ' ', -1) AS block
  FROM part
),
blocks AS (
  SELECT block, count(*) AS n_names FROM names GROUP BY 1
)
SELECT block, CAST(n_names AS BIGINT) AS n_names,
       CAST(n_names * (n_names - 1) // 2 AS BIGINT) AS cand_pairs,
       CAST(n_names * (n_names - 1) * 10000 //
            greatest(sum(n_names * (n_names - 1)) OVER (), 1)
            AS BIGINT) AS pair_share_pm
FROM blocks
WHERE n_names >= 2""",
    ref="extension: ER block-skew audit -- per-block candidate-pair "
    "mass and permyriad share, the measured salt/no-salt input for the "
    "blocked self-join (cf. operators/dedup.py hot-bucket salting)",
)
def q_er_block_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).distinct()
    blocks = names.groupBy("block").agg(F.count(F.lit(1)).alias("n_names"))
    sized = blocks.filter(F.col("n_names") >= 2)
    # total pair mass as a 1-row broadcast instead of an unpartitioned
    # window: sum() OVER () forces a SinglePartition exchange over every
    # block, which only stays cheap while the blocking vocabulary is
    # enum-bounded; the 1-row aggregate crossJoin is layout-safe for
    # arbitrary blocking keys.
    total = sized.agg(
        F.greatest(
            F.sum(F.expr("n_names * (n_names - 1)")), F.lit(1)
        ).alias("_tot")
    )
    return sized.crossJoin(F.broadcast(total)).select(
        "block",
        F.col("n_names").cast("bigint").alias("n_names"),
        F.expr("CAST(n_names * (n_names - 1) div 2 AS BIGINT)").alias(
            "cand_pairs"
        ),
        F.expr(
            "CAST(n_names * (n_names - 1) * 10000 div _tot AS BIGINT)"
        ).alias("pair_share_pm"),
    )


# =========================================================================
# round 7: threshold-sensitivity curve for the near-dup pipeline.
#
# ``dedup_threshold_sweep``: how many pairs a Jaccard cutoff keeps, for
# t in {0.5 .. 0.9} -- the tuning curve an operator reads before
# committing a dedup threshold to a 100 TB run (too low: false merges;
# too high: missed dups).  ONE run of the exact prefix-filtered
# similarity join at the loosest threshold (0.5) feeds all five
# buckets -- the sweep re-aggregates, it never re-joins.  Bucketing
# compares the 4-decimal-rounded Jaccard both engines already agree
# on; thresholds are micro-integers so the group keys hash exactly.
# =========================================================================

_SWEEP_THRESHOLDS_MICRO = (500000, 600000, 700000, 800000, 900000)


@_register(
    "dedup_threshold_sweep",
    f"""
WITH j AS (SELECT * FROM ({_ngram_jaccard_sql(0.5)})),
t AS (
  SELECT unnest([500000, 600000, 700000, 800000, 900000])
    AS threshold_micro
)
SELECT t.threshold_micro,
       CAST(coalesce(sum(CASE WHEN j.jaccard >= t.threshold_micro
                                   / 1000000.0
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_pairs
FROM t LEFT JOIN j ON true
GROUP BY t.threshold_micro""",
    ref="extension: dedup threshold tuning curve (pair counts per "
    "Jaccard cutoff from ONE prefix-filtered exact join at the "
    "loosest threshold)",
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators import dedup as D

    pairs = D.jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    counts = pairs.agg(
        *[
            F.coalesce(
                F.sum(
                    (F.col("jaccard") >= F.lit(t / 1000000.0)).cast(
                        "bigint"
                    )
                ),
                F.lit(0),
            ).alias(f"c{i}")
            for i, t in enumerate(_SWEEP_THRESHOLDS_MICRO)
        ]
    )
    stack = ", ".join(
        f"{t}, c{i}" for i, t in enumerate(_SWEEP_THRESHOLDS_MICRO)
    )
    return counts.select(
        F.expr(
            f"stack({len(_SWEEP_THRESHOLDS_MICRO)}, {stack}) "
            "AS (threshold_micro, n_pairs)"
        )
    )


# =========================================================================
# wave 94: exact-substring duplicate spans (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better")
#
# ``dup_span_extents``: maximal token spans that appear verbatim in at
# least two distinct documents -- the EXACT-substring complement to the
# MinHash/SimHash near-dup family (those flag whole documents; this
# locates the copied RUN inside each one, the op used to clip memorized
# boilerplate out of training text).  Method: 8-token shingles with
# their start positions; a shingle is "shared" when >= 2 distinct docs
# contain it; per doc, consecutive shared positions merge into maximal
# extents (gaps-and-islands: position minus rank), reported when the
# covered run is >= 12 tokens.
#
# Spark side groups/joins on a codegen xxhash64 of the token slice,
# never a string (narrow shuffle rows, no per-shingle md5); the oracle
# groups on the raw shingle -- identical output barring a 64-bit
# collision (~1e-12 at 1e4 shingles; at 1e12-shingle scale swap in
# text_fingerprint128's two-hash struct).
# The reference's full suffix-array construction is deliberately NOT
# replicated: shingle-join + islands gives the same >= k-token extents
# with one hash aggregate and one window, both map-side-combinable /
# range-partitionable at 100 TB, versus a global suffix sort.
# =========================================================================

_SPAN_K = 8
_SPAN_MIN_TOKENS = 12


@_register(
    "dup_span_extents",
    f"""
WITH toks AS (
  SELECT doc_id, string_split({{norm}}, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id, i - 1 AS p,
         concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                        w[i+4], w[i+5], w[i+6], w[i+7]) AS s
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_SPAN_K - 1})) AS i
        FROM toks WHERE len(w) >= {_SPAN_K})
),
shared AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
mk AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM sh WHERE s IN (SELECT s FROM shared)
),
spans AS (
  SELECT doc_id, min(p) AS start_pos,
         max(p) - min(p) + {_SPAN_K} AS span_tokens
  FROM mk GROUP BY doc_id, grp
)
SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos,
       CAST(span_tokens AS BIGINT) AS span_tokens
FROM spans WHERE span_tokens >= {_SPAN_MIN_TOKENS}""".replace(
        "{norm}", "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    ),
    ref="extension: exact-substring duplicate-span extraction "
    "(Lee et al. 2022 section 4.1 semantics) -- shared 8-gram "
    "positions merged into maximal extents via gaps-and-islands; "
    "locates the verbatim run, not just the duplicated document",
)
def q_dup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.fanout import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # compute-bound narrow stage (tokenize + 8-slice xxhash per
    # position): conditional fan-out so a row-group-limited local scan
    # still uses every core; no-op at real scan widths
    toks = fan_out(docs).select("doc_id", tokens("text").alias("w")).filter(
        F.size("w") >= _SPAN_K
    )
    # shingle key = codegen xxhash64 of the 8-token slice (no md5, no
    # string materialization: the 10x stress run showed the per-shingle
    # md5 dominating); only EQUALITY is consumed, so any injective-
    # modulo-collision key matches the string-grouping oracle
    sh = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (_SPAN_K - 1)),
                lambda i: F.xxhash64(F.slice("w", i, _SPAN_K)),
            )
        ).alias("p", "h"),
    )
    shared = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    mk = sh.join(shared, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("p")
    grp = (F.col("p") - F.row_number().over(w)).alias("grp")
    spans = (
        mk.select("doc_id", "p", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("p").alias("start_pos"),
            (F.max("p") - F.min("p") + _SPAN_K).alias("span_tokens"),
        )
    )
    return spans.filter(F.col("span_tokens") >= _SPAN_MIN_TOKENS).select(
        "doc_id",
        F.col("start_pos").cast("bigint").alias("start_pos"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
    )


# =========================================================================
# wave 100: b-bit MinHash accuracy audit (Li & Koenig, WWW'10)
#
# ``bbit_minhash_audit``: production MinHash keeps whole 31-bit
# signature slots; b-bit MinHash stores only the LOWEST BIT of each
# slot (32x smaller sketches) and estimates Jaccard from the bit-
# collision fraction (E[c] ~ (1+J)/2, so J_hat = 2c - 1).  This audit
# computes, for every verified Jaccard >= 0.5 pair, the exact
# similarity next to the 32-permutation 1-bit estimate and the error
# -- the measurement that decides whether the 32x sketch compression
# is safe for a given corpus.  Replayability: the audit's base hash is
# the md5-backed hash60 (NOT the production xxhash64 -- md5 is the
# price of a DuckDB-replayable estimator), Carter-Wegman multipliers
# are literals, the estimate 625*n_coll - 10000 is pure integer.
# Eval-sample economics: signatures are one extra aggregate over the
# shingle explode the exact join already pays.
# =========================================================================

_BBIT_PERMS = 32
_BBIT_P = 2147483647  # 2^31 - 1


def _bbit_sig_sql() -> str:
    mins = ", ".join(
        f"CAST(min(({2 * i + 1} * hm + {i * 12345 + 7}) % {_BBIT_P}) % 2"
        f" AS BIGINT) AS b{i}"
        for i in range(1, _BBIT_PERMS + 1)
    )
    return mins


@_register(
    "bbit_minhash_audit",
    f"""
WITH sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= 3 THEN list_transform(
                    generate_series(1, len(w) - 2),
                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                  ELSE [concat_ws(' ', w)] END) AS s
    FROM (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text),
                                                  '\\s+', ' ', 'g')), ' ')
                   AS w
          FROM documents)
  )
),
hm AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_BBIT_P}
                        AS hm FROM sh),
sig AS (SELECT doc_id, {_bbit_sig_sql()} FROM hm GROUP BY doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b,
         CAST(floor(round(CAST(n_inter AS DOUBLE)
                          / (sa.n_sh + sb.n_sh - n_inter), 4)
                    * 10000 + 0.5) AS BIGINT) AS jac_permyriad
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(n_inter AS DOUBLE)
              / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5
),
coll AS (
  SELECT p.id_a, p.id_b, p.jac_permyriad,
         CAST({" + ".join(f"CASE WHEN x.b{i} = y.b{i} THEN 1 ELSE 0 END"
                          for i in range(1, _BBIT_PERMS + 1))} AS BIGINT)
           AS n_coll
  FROM pairs p JOIN sig x ON x.doc_id = p.id_a
               JOIN sig y ON y.doc_id = p.id_b
)
SELECT id_a, id_b, jac_permyriad,
       CAST(625 * n_coll - 10000 AS BIGINT) AS est_permyriad,
       CAST(abs(625 * n_coll - 10000 - jac_permyriad) AS BIGINT)
         AS abs_err_permyriad
FROM coll""",
    ref="extension: 1-bit (b-bit) MinHash estimator audit on verified "
    "pairs -- 32 Carter-Wegman low bits vs exact Jaccard; decides "
    "whether 32x sketch compression is safe on this corpus",
)
def q_bbit_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60
    from mapreduce6240project_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingles,
    )
    from mapreduce6240project_spark.operators.fanout import fan_out

    docs = load_table(spark, sf_dir, "documents")
    sh = fan_out(docs).select(
        "doc_id",
        F.explode(F.array_distinct(shingles("text", 3))).alias("s"),
    )
    hm = sh.select(
        "doc_id", (hash60(F.col("s")) % _BBIT_P).alias("hm")
    )
    # the signature table feeds BOTH sides of the pair join below;
    # unpersisted, the md5 hash of every shingle plus 32 min-aggregates
    # ran twice (measured: the single most expensive stage of this
    # audit, warm exec 5.9 s at sf0.01).  Doc-grain, 32 small ints per
    # row -- the 32x-compressed sketch table is small by design at any
    # scale (r11; guide section 5).
    from mapreduce6240project_spark.runtime import track

    # the 32 one-bit slots are PACKED into a single bigint in the same
    # aggregate (bit i-1 = the i-th permutation's low bit), so (a) the
    # whole signature is ONE parsed expression instead of ~330 Column
    # ops (r11, the elbow_sweep/minhash F.expr treatment -- this fn was
    # 1.27 s of pure py4j with zero jobs), and (b) the pair join carries
    # one 8-byte column per side instead of 32 (guide section 2.3,
    # narrower shuffle).  n_coll = 32 - bit_count(x XOR y) counts the
    # SAME per-slot equalities the per-column CASE sum counted: each
    # slot is exactly one bit, never NULL (min over the non-null hm),
    # and bits above position 31 are zero on both sides.
    bits_sql = " + ".join(
        f"CAST(min(({2 * i + 1} * hm + {i * 12345 + 7}) % {_BBIT_P}) % 2"
        f" AS BIGINT) * {1 << (i - 1)}"
        for i in range(1, _BBIT_PERMS + 1)
    )
    sig = track(
        hm.groupBy("doc_id").agg(F.expr(bits_sql).alias("bits")).persist()
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).selectExpr(
        "id_a",
        "id_b",
        "CAST(floor(jaccard * 10000 + 0.5D) AS BIGINT) AS jac_permyriad",
    )
    x = sig.selectExpr("doc_id AS id_a", "bits AS xbits")
    y = sig.selectExpr("doc_id AS id_b", "bits AS ybits")
    est_sql = f"625 * (CAST({_BBIT_PERMS} AS BIGINT) - bit_count(xbits ^ ybits)) - 10000"
    return (
        pairs.join(x, "id_a")
        .join(y, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "jac_permyriad",
            f"CAST({est_sql} AS BIGINT) AS est_permyriad",
            f"CAST(abs(({est_sql}) - jac_permyriad) AS BIGINT)"
            " AS abs_err_permyriad",
        )
    )


# =========================================================================
# wave 105: sharded-dedup consistency verdict
#
# ``dedup_shard_consistency``: the map-reduce correctness argument of
# distributed exact dedup, checked as a query.  Shard documents by
# their dedup key's own hash (8 shards via the SQL-replayable hash60
# idiom), dedup each shard locally, and verify the shards compose:
# because the partitioning function is keyed ON the fingerprint, two
# copies of a text can never land in different shards, so the sum of
# shard-local distinct counts must equal the global distinct count --
# the boolean the oracle pins TRUE.  Shard balance (min/max shard
# distinct) is reported as exact integers: the number a capacity
# planner actually reads before sizing 1000 dedup reducers.
#
# 100 TB: this IS the scale plan -- dedup never needs a global
# structure, only a fingerprint-keyed shuffle; the query is two hash
# aggregates over md5 keys plus a 8-row fold.
# =========================================================================


@_register(
    "dedup_shard_consistency",
    f"""
WITH fp AS (
  SELECT md5({_NORM}) AS fingerprint FROM documents
),
shards AS (
  SELECT ('0x' || substr(md5(fingerprint), 1, 15))::BIGINT % 8 AS shard,
         fingerprint
  FROM fp
),
local AS (
  SELECT shard, CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_local
  FROM shards GROUP BY shard
),
g AS (SELECT CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_global,
             CAST(count(*) AS BIGINT) AS n_docs FROM fp)
SELECT g.n_docs,
       g.n_global AS n_distinct_global,
       CAST(sum(n_local) AS BIGINT) AS sum_local_distinct,
       CAST(count(*) AS BIGINT) AS n_shards,
       CAST(max(n_local) AS BIGINT) AS max_shard_distinct,
       CAST(min(n_local) AS BIGINT) AS min_shard_distinct,
       sum(n_local) = g.n_global AS shards_compose
FROM local CROSS JOIN g
GROUP BY g.n_docs, g.n_global""",
    ref="extension: distributed exact-dedup consistency -- "
    "fingerprint-keyed sharding composes (sum of shard-local distincts "
    "= global distinct, boolean pinned TRUE) with shard-balance "
    "integers for reducer sizing",
)
def q_dedup_shard_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    fp = load_table(spark, sf_dir, "documents").select(
        F.md5(normalize_text("text")).alias("fingerprint")
    )
    shards = fp.select(
        (hash60(F.col("fingerprint")) % 8).alias("shard"), "fingerprint"
    )
    local = shards.groupBy("shard").agg(
        F.count_distinct("fingerprint").cast("bigint").alias("n_local")
    )
    g = fp.agg(
        F.count_distinct("fingerprint").cast("bigint").alias("n_global"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        local.crossJoin(F.broadcast(g))
        .groupBy("n_docs", "n_global")
        .agg(
            F.sum("n_local").cast("bigint").alias("sum_local_distinct"),
            F.count(F.lit(1)).cast("bigint").alias("n_shards"),
            F.max("n_local").cast("bigint").alias("max_shard_distinct"),
            F.min("n_local").cast("bigint").alias("min_shard_distinct"),
        )
        .select(
            "n_docs",
            F.col("n_global").alias("n_distinct_global"),
            "sum_local_distinct",
            "n_shards",
            "max_shard_distinct",
            "min_shard_distinct",
            (F.col("sum_local_distinct") == F.col("n_global")).alias(
                "shards_compose"
            ),
        )
    )


# =========================================================================
# wave 106: tf-idf cosine similarity join on the rare-term subspace
#
# ``rare_term_cosine_pairs``: the weighted complement of the Jaccard
# SSJoin family -- document pairs scored by tf-idf COSINE computed over
# the subspace of DISCRIMINATIVE terms (document frequency <= 20).
# Restricting both the candidate join and the vectors to rare terms is
# what makes the all-pairs-by-shared-term join scale-safe: a stopword's
# posting list at 100 TB is billions of rows and would quadratically
# dominate the pair expansion, while a df-capped posting list is
# bounded by construction (the inverted_index posting_cap argument).
# Weights are centi-quantized integers (w = floor(tf*idf*100 + 0.5)),
# so dot products and squared norms are exact BIGINTs; the cosine is
# one fixed-shape IEEE expression per PAIR row.  Top-20 by
# (cos desc, id_a, id_b).
# =========================================================================

_RTC_COS = (
    "CAST(floor(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"
    " * 1000000 + 0.5) AS BIGINT)"
)

# Zero-norm guard (r9 ADVICE): on a degenerate corpus (nd close to
# df_t) every centi-quantized weight can round to 0, making n2 = 0 and
# the cosine 0/0 -- Spark floors the NaN to NULL while DuckDB's
# CAST(NaN AS BIGINT) aborts, so the pair must be excluded identically
# on BOTH engines before the division.
_RTC_GUARD = "na2 > 0 AND nb2 > 0"


@_register(
    "rare_term_cosine_pairs",
    f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
nn AS (SELECT count(*) AS nd FROM toks),
tf AS (
  SELECT doc_id, t AS term, count(*) AS tf FROM (
    SELECT doc_id, unnest(w) AS t FROM toks
  ) GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY term HAVING count(*) <= 20
),
vec AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(CAST(tf.tf AS DOUBLE)
              * ln(CAST(nn.nd AS DOUBLE) / df_t) * 100 + 0.5) AS BIGINT) AS w
  FROM tf JOIN dfreq USING (term), nn
),
norms AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM vec GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM vec a JOIN vec b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, {_RTC_COS} AS cos_micro
FROM dots
JOIN (SELECT doc_id, n2 AS na2 FROM norms) na ON na.doc_id = id_a
JOIN (SELECT doc_id, n2 AS nb2 FROM norms) nb ON nb.doc_id = id_b
WHERE {_RTC_GUARD}
ORDER BY cos_micro DESC, id_a, id_b LIMIT 20""",
    ref="extension: tf-idf cosine similarity join on the df<=20 rare-"
    "term subspace -- bounded posting lists make the pair expansion "
    "scale-safe; centi-quantized integer weights, exact dot/norms, one "
    "IEEE cosine per pair",
)
def q_rare_term_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("w"))
    # corpus size enters as a broadcast 1-row aggregate, NOT an eager
    # .count() -- at 100 TB an eager scalar is a redundant full pass
    # over documents per invocation (r9 verdict item 3); the IEEE shape
    # CAST(nd AS DOUBLE) / df_t is identical to the oracle's.
    nn = toks.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    tf = (
        toks.select("doc_id", F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .filter(F.col("df_t") <= 20)
    )
    vec = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf").cast("double")
                * F.log(F.col("nd").cast("double") / F.col("df_t"))
                * 100
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("w"),
        )
    )
    norms = vec.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("n2")
    )
    a = vec.select(F.col("doc_id").alias("id_a"), "term", F.col("w").alias("wa"))
    b = vec.select(F.col("doc_id").alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2")),
            "id_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2")),
            "id_b",
        )
        .filter(F.expr(_RTC_GUARD))
        .select("id_a", "id_b", F.expr(_RTC_COS).alias("cos_micro"))
        .orderBy(F.desc("cos_micro"), "id_a", "id_b")
        .limit(20)
    )


# =========================================================================
# wave 107: entity-resolution blocking quality audit
#
# ``blocking_quality_audit``: the two numbers every blocking scheme is
# judged by (Christen's record-linkage metrics) -- REDUCTION RATIO
# (how many of the n(n-1)/2 candidate comparisons the blocks avoid)
# and PAIRS COMPLETENESS (what fraction of TRUE matching pairs share a
# block, i.e. survive blocking at all), measured for a first-4-token
# prefix blocking scheme against the near-dup similarity graph
# (3-gram Jaccard >= 0.1) as ground truth.  Everything is exact
# integer counting plus two ppm integer divisions.
#
# 100 TB: candidates come from one hash aggregate over block keys
# (sum m(m-1)/2 -- never materializing the pairs); ground-truth pairs
# reuse the session-cached simgraph; completeness is one broadcast
# join of block keys onto the (small) true-pair edge list.
# =========================================================================


@_register(
    "blocking_quality_audit",
    None,  # oracle assembled below (needs the shared simgraph CTE)
    ref="extension: ER blocking quality (reduction ratio + pairs "
    "completeness, Christen) -- prefix-4 blocks vs the near-dup "
    "simgraph ground truth; exact integer counting, block-aggregate "
    "candidate counts (pairs never materialized)",
)
def q_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.graph import simgraph_pairs

    docs = load_table(spark, sf_dir, "documents")
    bk = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens("text"), 1, 4)).alias("bk"),
    )
    nn = bk.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    cand = bk.groupBy("bk").agg(F.count(F.lit(1)).alias("m")).agg(
        F.sum(F.expr("m * (m - 1) div 2")).cast("bigint").alias("n_cand")
    )
    pairs = simgraph_pairs(spark, sf_dir).select("id_a", "id_b")
    truth = (
        pairs.join(
            bk.select(F.col("doc_id").alias("id_a"), F.col("bk").alias("ba")),
            "id_a",
        )
        .join(
            bk.select(F.col("doc_id").alias("id_b"), F.col("bk").alias("bb")),
            "id_b",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum(
                F.when(F.col("ba") == F.col("bb"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_captured"),
        )
    )
    return (
        truth.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(nn))
        .select(
            "n_docs",
            F.col("n_true").alias("n_true_pairs"),
            F.col("n_cand").alias("n_candidate_pairs"),
            "n_captured",
            # n_true = 0 (no simgraph pair clears the threshold) makes
            # completeness vacuously total: pin 1000000 rather than
            # emitting NULL (r9 ADVICE) -- identically in the oracle.
            F.expr(
                "CASE WHEN n_true = 0 THEN 1000000"
                " ELSE n_captured * 1000000 div n_true END"
            )
            .cast("bigint")
            .alias("completeness_ppm"),
            F.expr(
                "(n_docs * (n_docs - 1) div 2 - n_cand) * 1000000"
                " div (n_docs * (n_docs - 1) div 2)"
            )
            .cast("bigint")
            .alias("reduction_ppm"),
        )
    )


# the oracle shares the simgraph ground-truth CTE with the graph
# family (same 0.1 threshold the session-cached operator uses);
# assembled after registration, elbow_knee_k pattern
from mapreduce6240project_spark.plans.retrieval import (  # noqa: E402
    _SIMGRAPH_PAIRS_CTE as _BQ_PAIRS_CTE,
)

REGISTRY["blocking_quality_audit"] = type(
    REGISTRY["blocking_quality_audit"]
)(
    "blocking_quality_audit",
    REGISTRY["blocking_quality_audit"].fn,
    _BQ_PAIRS_CTE
    + f"""
, bk AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split({_NORM}, ' '), 1, 4), ' ')
           AS bk
  FROM documents
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM bk),
cand AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_cand FROM (
    SELECT count(*) AS m FROM bk GROUP BY bk.bk
  )
),
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN ba.bk = bb.bk THEN 1 ELSE 0 END) AS BIGINT)
           AS n_captured
  FROM pairs
  JOIN bk ba ON ba.doc_id = pairs.id_a
  JOIN bk bb ON bb.doc_id = pairs.id_b
)
SELECT nn.n_docs,
       truth.n_true AS n_true_pairs,
       cand.n_cand AS n_candidate_pairs,
       truth.n_captured,
       CAST(CASE WHEN truth.n_true = 0 THEN 1000000
            ELSE truth.n_captured * 1000000 // truth.n_true END AS BIGINT)
         AS completeness_ppm,
       CAST((nn.n_docs * (nn.n_docs - 1) // 2 - cand.n_cand) * 1000000
            // (nn.n_docs * (nn.n_docs - 1) // 2) AS BIGINT)
         AS reduction_ppm
FROM truth CROSS JOIN cand CROSS JOIN nn""",
    REGISTRY["blocking_quality_audit"].ref,
    REGISTRY["blocking_quality_audit"].headline,
)
