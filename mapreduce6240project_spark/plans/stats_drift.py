"""statistical tests, drift monitors, trend estimators and distribution audits.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 49: Round-3 coverage wave 49: hypothesis testing and CDC apply.
* wave 53: Round-3 coverage wave 53: cross-source quantile normalization.
* wave 66: Round-3 coverage wave 66: change-point localization and tie-aware
* wave 73: Round-3 coverage wave 73: distribution-drift and score-separability
* wave 81: Round-3 coverage wave 81: Mann-Kendall trend test, fixed-bin
* wave 84: Round-3 coverage wave 84: PSI drift, conversion latency, linear
* wave 90: Round-3 coverage wave 90: tail-index estimation, join-skew
* wave 93: Round-3 coverage wave 93: vocabulary growth, discount response,
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.sources.tables import load_table
from mapreduce6240project_spark.operators.sketch import (
    QSKETCH_BID_SQL,
    QSKETCH_REP_SQL,
)
from pyspark.sql import DataFrame, SparkSession, Window
from mapreduce6240project_spark.plans.text_corpus import _POIS_T

# =========================================================================
# wave 49
# Round-3 coverage wave 49: hypothesis testing and CDC apply.
#
# - ``permutation_test_value``: distributed permutation test -- is the
#   mean event value of purchasers really different from clickers, or
#   noise?  The observed integer-cents mean gap is compared against 20
#   deterministic label permutations (LCG re-labelings of users), and the
#   p-value numerator is the count of permuted gaps at least as extreme.
#   Every permutation is a hash re-labeling, so the full test is one
#   explode (x21) + two hash aggregates -- the scale-honest way to run
#   resampling statistics (no driver-side resampling loop).
# - ``cdc_latest_state``: changelog apply with delete semantics -- the
#   event stream read as CDC (``error`` = tombstone, everything else =
#   upsert of the event value); final state = last event per user, users
#   whose last event is a tombstone are absent.  The MERGE-style
#   compaction every lakehouse table maintenance job runs.
# =========================================================================

_K_PERMS = 20

#: deterministic permutation label: LCG over (user_id, k) -> {0, 1}
_PERM = (
    "(((user_id * 31 + {k}) % 2147483648) * 1103515245 + 12345)"
    " % 2147483648 % 2"
)


def _perm_test_sql() -> str:
    perm_branches = " UNION ALL ".join(
        f"SELECT {k} AS perm, CAST({_PERM.format(k=k)} AS BIGINT) AS grp,"
        " cents FROM base"
        for k in range(1, _K_PERMS + 1)
    )
    return f"""
WITH base AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
),
obs AS (
  SELECT abs(
    (SELECT sum(cents) // count(*) FROM base WHERE event_type = 'purchase')
    - (SELECT sum(cents) // count(*) FROM base WHERE event_type = 'click')
  ) AS gap
),
perms AS ({perm_branches}),
pgaps AS (
  SELECT perm,
         abs(
           sum(CASE WHEN grp = 1 THEN cents END)
             // count(CASE WHEN grp = 1 THEN 1 END)
           - sum(CASE WHEN grp = 0 THEN cents END)
             // count(CASE WHEN grp = 0 THEN 1 END)
         ) AS gap
  FROM perms GROUP BY perm
)
SELECT CAST((SELECT gap FROM obs) AS BIGINT) AS obs_gap_cents,
       CAST(count(*) AS BIGINT) AS n_perms,
       CAST(sum(CASE WHEN p.gap >= (SELECT gap FROM obs) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme
FROM pgaps p"""


@_register(
    "permutation_test_value",
    _perm_test_sql(),
    ref="extension: distributed permutation test (20 LCG label "
    "permutations, integer-cents mean gap) -- resampling statistics as "
    "one explode + hash aggregates, no driver loop",
)
def q_perm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    obs = base.agg(
        F.abs(
            F.expr(
                "sum(CASE WHEN event_type = 'purchase' THEN cents END)"
                " div count(CASE WHEN event_type = 'purchase' THEN 1 END)"
                " - sum(CASE WHEN event_type = 'click' THEN cents END)"
                " div count(CASE WHEN event_type = 'click' THEN 1 END)"
            )
        ).alias("obs_gap")
    )
    perms = base.select(
        "user_id",
        "cents",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _K_PERMS + 1)])
        ).alias("perm"),
    ).withColumn("grp", F.expr(_PERM.format(k="perm")).cast("bigint"))
    pgaps = perms.groupBy("perm").agg(
        F.abs(
            F.expr(
                "sum(CASE WHEN grp = 1 THEN cents END)"
                " div count(CASE WHEN grp = 1 THEN 1 END)"
                " - sum(CASE WHEN grp = 0 THEN cents END)"
                " div count(CASE WHEN grp = 0 THEN 1 END)"
            )
        ).alias("gap")
    )
    return pgaps.crossJoin(F.broadcast(obs)).agg(
        F.max("obs_gap").cast("bigint").alias("obs_gap_cents"),
        F.count(F.lit(1)).alias("n_perms"),
        F.sum(F.when(F.col("gap") >= F.col("obs_gap"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_extreme"),
    )


@_register(
    "cdc_latest_state",
    """
WITH ranked AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, cents AS last_value_cents
FROM ranked WHERE rn = 1 AND event_type <> 'error'""",
    ref="extension: CDC/MERGE compaction with tombstones -- last event "
    "per key wins, trailing 'error' deletes the key; WindowGroupLimit "
    "keeps one row per key below the sort",
)
def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    ranked = ev.withColumn(
        "rn",
        F.expr(
            "row_number() OVER (PARTITION BY user_id"
            " ORDER BY ts DESC, event_id DESC)"
        ),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select("user_id", F.col("cents").alias("last_value_cents"))
    )


# =========================================================================
# wave 53
# Round-3 coverage wave 53: cross-source quantile normalization.
#
# ``quantile_normalize_doclen``: batch-effect correction for corpus
# mixing -- each document's token count is ranked WITHIN its source
# (integer percent-rank in permyriad), then mapped onto the GLOBAL
# distribution by looking the rank up in the mergeable log-bucket
# quantile sketch.  After normalization every source contributes the
# same length distribution, which is the point of quantile normalization
# (sources with systematically shorter docs stop being under-weighted by
# length-based curation rules).
#
# Scale shape: the per-source rank is a source-partitioned window (hash-
# balanced); the global distribution is the ~512-row quantile sketch --
# never a global sort -- and the rank->value lookup is a banded join
# against the BROADCAST cumulative bucket table.  Every step is integer
# arithmetic (permyriad ranks, ceil-div targets, bucket midpoints), so
# the whole mapping replays bit-for-bit in SQL.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _qnorm_sql() -> str:
    bid = QSKETCH_BID_SQL.format(m="m")
    rep = QSKETCH_REP_SQL.format(b="bid")
    return f"""
WITH scores AS (
  SELECT doc_id, source,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score,
         CAST((row_number() OVER (PARTITION BY source
                                  ORDER BY score, doc_id) - 1) * 10000
              // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
              AS BIGINT) AS pr10k
  FROM scores
),
mm AS (SELECT score * 1000000 AS m FROM scores),
b AS (SELECT {bid} AS bid, count(*) AS n FROM mm GROUP BY 1),
c AS (
  SELECT bid, n, sum(n) OVER (ORDER BY bid) AS cum,
         coalesce(sum(n) OVER (ORDER BY bid ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS prev_cum,
         sum(n) OVER () AS total
  FROM b
)
SELECT r.doc_id, r.source, r.pr10k,
       CAST({rep} AS BIGINT) AS norm_micros
FROM ranked r JOIN c
  ON greatest((r.pr10k * c.total + 9999) // 10000, 1) > c.prev_cum
 AND greatest((r.pr10k * c.total + 9999) // 10000, 1) <= c.cum"""


@_register(
    "quantile_normalize_doclen",
    _qnorm_sql(),
    ref="extension: cross-source quantile normalization -- per-source "
    "integer percent-rank mapped through the ~512-row mergeable "
    "quantile sketch (broadcast banded join), no global sort",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text
    from mapreduce6240project_spark.operators.sketch import quantile_sketch

    docs = load_table(spark, sf_dir, "documents")
    scores = docs.select(
        "doc_id",
        "source",
        F.size(F.split(normalize_text("text"), " ")).cast("bigint").alias("score"),
    )
    ranked = scores.select(
        "doc_id",
        "source",
        F.expr(
            "CAST((row_number() OVER (PARTITION BY source ORDER BY score,"
            " doc_id) - 1) * 10000"
            " div greatest(count(*) OVER (PARTITION BY source) - 1, 1)"
            " AS BIGINT)"
        ).alias("pr10k"),
    )
    # quantile_sketch micro-quantizes internally (m = floor(v*1e6+0.5)),
    # exact for integer scores -- the oracle's mm = score * 1e6 twin
    sk = quantile_sketch(scores, "score")
    c = sk.select(
        "bid",
        "n",
        F.expr("sum(n) OVER (ORDER BY bid)").alias("cum"),
        F.expr(
            "coalesce(sum(n) OVER (ORDER BY bid ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND 1 PRECEDING), 0)"
        ).alias("prev_cum"),
        F.expr("sum(n) OVER ()").alias("total"),
    )
    target = "greatest((pr10k * total + 9999) div 10000, 1)"
    joined = ranked.join(
        F.broadcast(c),
        F.expr(f"{target} > prev_cum AND {target} <= cum"),
    )
    return joined.selectExpr(
        "doc_id",
        "source",
        "pr10k",
        f"CAST({QSKETCH_REP_SQL.format(b='bid')} AS BIGINT) AS norm_micros",
    )


# =========================================================================
# wave 66
# Round-3 coverage wave 66: change-point localization and tie-aware
# leaderboards.
#
# - ``changepoint_day``: WHERE the daily event-value level shifted -- the
#   two-segment scan statistic argmax ((S1*n2 - S2*n1)^2 / (n1*n2*n),
#   the between-segment variance-reduction numerator) over the day-grain
#   series.  CUSUM (``cusum_max_deviation``) says THAT a shift happened;
#   this localizes it.  All candidate gains are exact integer/decimal
#   arithmetic over day-grain prefix sums (the series is days-bounded, so
#   the single-partition window is a ~30-row frame at any data volume).
# - ``top_revenue_days_ties``: top-3 revenue days per market segment with
#   DENSE_RANK -- ties share a rank and all tied days surface, the
#   leaderboard semantics row_number silently breaks.
# =========================================================================

@_register(
    "changepoint_day",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
  FROM events GROUP BY 1
),
pre AS (
  SELECT day, y,
         sum(y) OVER (ORDER BY day) AS s1,
         count(*) OVER (ORDER BY day) AS n1,
         sum(y) OVER () AS st,
         count(*) OVER () AS nt
  FROM daily
),
gains AS (
  SELECT day,
         CAST(CAST(s1 * (nt - n1) - (st - s1) * n1 AS HUGEINT)
              * CAST(s1 * (nt - n1) - (st - s1) * n1 AS HUGEINT) AS DOUBLE)
           / (n1 * (nt - n1) * nt) AS gain
  FROM pre WHERE n1 < nt
)
SELECT CAST(strftime(day, '%Y-%m-%d') AS VARCHAR) AS split_day,
       round(gain, 4) AS gain
FROM gains ORDER BY gain DESC, day LIMIT 1""",
    ref="extension: change-point localization -- two-segment scan "
    "statistic over day-grain prefix sums (exact wide-integer "
    "numerator, days-bounded frame); localizes what CUSUM only flags",
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias("y")
    )
    pre = daily.select(
        "day",
        F.expr("sum(y) OVER (ORDER BY day)").alias("s1"),
        F.expr("count(*) OVER (ORDER BY day)").alias("n1"),
        F.expr("sum(y) OVER ()").alias("st"),
        F.expr("count(*) OVER ()").alias("nt"),
    )
    gains = pre.filter(F.col("n1") < F.col("nt")).select(
        "day",
        (
            F.expr(
                "CAST(CAST(s1 AS DECIMAL(38,0)) * (nt - n1)"
                " - CAST(st - s1 AS DECIMAL(38,0)) * n1 AS DECIMAL(38,0))"
            ).cast("double")
            * F.expr(
                "CAST(CAST(s1 AS DECIMAL(38,0)) * (nt - n1)"
                " - CAST(st - s1 AS DECIMAL(38,0)) * n1 AS DECIMAL(38,0))"
            ).cast("double")
            / F.expr("n1 * (nt - n1) * nt")
        ).alias("gain"),
    )
    return (
        gains.select(
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.round("gain", 4).alias("gain"),
        )
        .orderBy(F.desc("gain"), "split_day")
        .limit(1)
    )


@_register(
    "top_revenue_days_ties",
    """
WITH daily AS (
  SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE) AS day,
         sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, CAST(strftime(day, '%Y-%m-%d') AS VARCHAR) AS day,
       CAST(rev_c AS BIGINT) AS rev_c, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, dense_rank() OVER (PARTITION BY c_mktsegment
                               ORDER BY rev_c DESC) AS rk
  FROM daily
) WHERE rk <= 3""",
    ref="extension: tie-aware leaderboard -- dense_rank keeps every day "
    "sharing a top-3 revenue level (row_number would break ties "
    "arbitrarily)",
)
def q_top_revenue_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", F.col("o_orderdate").cast("date").alias("day0"))
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).alias(
                "rev_c"
            )
        )
    )
    return (
        daily.withColumn(
            "rk",
            F.expr(
                "dense_rank() OVER (PARTITION BY c_mktsegment"
                " ORDER BY rev_c DESC)"
            ),
        )
        .filter(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            F.date_format("day0", "yyyy-MM-dd").alias("day"),
            F.col("rev_c").cast("bigint").alias("rev_c"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# =========================================================================
# wave 73
# Round-3 coverage wave 73: distribution-drift and score-separability
# audits.
#
# - ``ks_value_drift``: two-sample Kolmogorov-Smirnov statistic between
#   the ``value`` distributions of two deterministic user cohorts
#   (user_id parity -- the A/B-split drift check every experimentation
#   pipeline runs).  Values are quantized to unit-width bins so the CDF
#   comparison runs over a BOUNDED histogram (~500 rows), not the raw
#   event stream: per-bin counts are one group-by shuffle, the cumulative
#   scan is a window over the tiny histogram.  The statistic is exact
#   integer arithmetic -- ``|cumA*nB - cumB*nA| * 10000 div (nA*nB)`` in
#   DECIMAL(38,0) -- so Spark and the DuckDB oracle agree bit-for-bit
#   (no float CDF summation).
# - ``score_auc_audit``: Mann-Whitney / rank-sum AUC of how well
#   ``value`` separates purchase events from the rest.  Scores are
#   quantized to integer cents; per-bin (n_pos, n_neg) is one group-by,
#   then ``U2 = sum(2*n_pos*cum_neg_below + n_pos*n_neg)`` over the
#   bounded bin table (ties get the standard half credit, doubled into
#   integers).  AUC is reported as the exact rational (auc_num2,
#   auc_den2) plus an integer permyriad -- no floating point anywhere.
#
# Scale: both audits reduce the data to a quantized histogram first (one
# partial-aggregated shuffle at any input size); the windowed cumulative
# pass runs over the histogram, whose size is bounded by the
# quantization, not the row count.  DECIMAL(38,0) sufficient statistics
# keep the cross-products overflow-safe past bigint range (same pattern
# as the wave-53 trend slope).
# =========================================================================

@_register(
    "ks_value_drift",
    """
WITH binned AS (
  SELECT CAST(floor(value) AS BIGINT) AS bin,
         count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
         count(*) FILTER (WHERE user_id % 2 = 1) AS n_b
  FROM events GROUP BY 1
), cdf AS (
  SELECT bin,
         CAST(sum(n_a) OVER (ORDER BY bin) AS DECIMAL(38,0)) AS cum_a,
         CAST(sum(n_b) OVER (ORDER BY bin) AS DECIMAL(38,0)) AS cum_b,
         CAST(sum(n_a) OVER () AS DECIMAL(38,0)) AS tot_a,
         CAST(sum(n_b) OVER () AS DECIMAL(38,0)) AS tot_b
  FROM binned
), diffs AS (
  SELECT bin, tot_a, tot_b,
         abs(cum_a * tot_b - cum_b * tot_a) AS num
  FROM cdf
)
SELECT CAST(tot_a AS BIGINT) AS n_a, CAST(tot_b AS BIGINT) AS n_b,
       CAST(num * 10000 AS BIGINT) // CAST(tot_a * tot_b AS BIGINT)
         AS ks_permyriad,
       CAST(bin AS BIGINT) AS argmax_bin
FROM diffs ORDER BY num DESC, bin ASC LIMIT 1""",
    ref="extension: two-sample KS drift audit over unit-value bins -- "
    "exact integer CDF comparison on a bounded histogram",
)
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    binned = (
        ev.groupBy(F.floor("value").cast("bigint").alias("bin"))
        .agg(
            F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("n_b"),
        )
    )
    # The window runs over the bounded bin histogram (<= ~500 rows at
    # any scale), not the raw events -- a single-partition scan here is
    # deliberate and safe.
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    dec = "decimal(38,0)"
    cdf = binned.select(
        "bin",
        F.sum("n_a").over(w_cum).cast(dec).alias("cum_a"),
        F.sum("n_b").over(w_cum).cast(dec).alias("cum_b"),
        F.sum("n_a").over(w_all).cast(dec).alias("tot_a"),
        F.sum("n_b").over(w_all).cast(dec).alias("tot_b"),
    ).select(
        "bin",
        "tot_a",
        "tot_b",
        F.abs(
            F.col("cum_a") * F.col("tot_b") - F.col("cum_b") * F.col("tot_a")
        ).alias("num"),
    )
    return (
        cdf.orderBy(F.col("num").desc(), F.col("bin").asc())
        .limit(1)
        .select(
            F.col("tot_a").cast("bigint").alias("n_a"),
            F.col("tot_b").cast("bigint").alias("n_b"),
            F.expr("CAST(num * 10000 div (tot_a * tot_b) AS BIGINT)").alias(
                "ks_permyriad"
            ),
            F.col("bin").cast("bigint").alias("argmax_bin"),
        )
    )


@_register(
    "score_auc_audit",
    """
WITH binned AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS bin,
         count(*) FILTER (WHERE event_type = 'purchase') AS n_pos,
         count(*) FILTER (WHERE event_type <> 'purchase') AS n_neg
  FROM events GROUP BY 1
), scanned AS (
  SELECT CAST(n_pos AS DECIMAL(38,0)) AS n_pos,
         CAST(n_neg AS DECIMAL(38,0)) AS n_neg,
         CAST(coalesce(sum(n_neg) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS DECIMAL(38,0)) AS cum_neg_below
  FROM binned
)
SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CAST(sum(2 * n_pos * cum_neg_below + n_pos * n_neg) AS BIGINT)
         AS auc_num2,
       CAST(2 * sum(n_pos) * sum(n_neg) AS BIGINT) AS auc_den2,
       CAST(sum(2 * n_pos * cum_neg_below + n_pos * n_neg) * 10000
            AS BIGINT)
         // CAST(2 * sum(n_pos) * sum(n_neg) AS BIGINT) AS auc_permyriad
FROM scanned""",
    ref="extension: Mann-Whitney rank-sum AUC of value vs purchase "
    "label over cent-quantized score bins -- exact rational, tie-aware",
)
def q_score_auc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    binned = (
        ev.groupBy(
            F.floor(F.col("value") * 100).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_pos"
            ),
            F.count(F.when(F.col("event_type") != "purchase", 1)).alias(
                "n_neg"
            ),
        )
    )
    # Bounded histogram (<= ~49k cent bins); the ordered scan is over
    # bins, never raw rows.
    w_below = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = "decimal(38,0)"
    scanned = binned.select(
        F.col("n_pos").cast(dec).alias("n_pos"),
        F.col("n_neg").cast(dec).alias("n_neg"),
        F.coalesce(F.sum("n_neg").over(w_below), F.lit(0))
        .cast(dec)
        .alias("cum_neg_below"),
    )
    u2 = F.sum(
        2 * F.col("n_pos") * F.col("cum_neg_below")
        + F.col("n_pos") * F.col("n_neg")
    )
    return scanned.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        u2.cast("bigint").alias("auc_num2"),
        (2 * F.sum("n_pos") * F.sum("n_neg")).cast("bigint").alias("auc_den2"),
        F.expr(
            "CAST(sum(2 * n_pos * cum_neg_below + n_pos * n_neg) * 10000"
            " div (2 * sum(n_pos) * sum(n_neg)) AS BIGINT)"
        ).alias("auc_permyriad"),
    )


# =========================================================================
# wave 81
# Round-3 coverage wave 81: Mann-Kendall trend test, fixed-bin
# calibration, mutual information.
#
# - ``mann_kendall_daily``: the Mann-Kendall S statistic over the daily
#   revenue series -- the standard non-parametric monotone-trend test
#   (rank-based, outlier-immune), the distribution-free companion to
#   ``segment_trend_slope`` (OLS).  Events aggregate to exact daily cent
#   totals FIRST (one shuffle); the pairwise ``sign(v_j - v_i)`` join
#   then runs over the tiny day dimension only (calendar-bounded, ~30
#   rows at any scale factor, ~3.6k at a 10-year corpus) -- the same
#   "shrink before the quadratic step" shape as ``changepoint_day``.
#   Ties contribute 0 via ``sign``.  All integer.
# - ``value_bin_purchase_rate``: reliability/calibration audit -- events
#   bucketed into fixed $10 value bins (integer division, NO ntile/global
#   sort), per-bin event count, purchase count, and purchase share in
#   permyriad.  The fixed-width binning is the scale-safe calibration
#   shape: bin assignment is map-only and the bin table is bounded by
#   the value domain.
# - ``mi_type_valuebin``: mutual information between event type and
#   value bin in integer micro-nats -- the feature-selection statistic
#   (does knowing the value band tell you the event type?), companion to
#   ``chi2_segment_status`` (independence test) and ``token_entropy``
#   (marginal uncertainty).  Shape: one (type, bin) count shuffle; the
#   contingency table is tiny (5 types x bounded bins), marginals and
#   the quantized-log sum run on it locally-parallel.  Per-cell log
#   terms are floor-quantized to micro-nats before the integer sum --
#   the repo's established deterministic-float convention
#   (``zipf_slope_tokens``).
#
# Scale: every quadratic or log step runs on a domain-bounded table
# (days, bins, cells), never on raw rows.
# =========================================================================

@_register(
    "mann_kendall_daily",
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_c
  FROM events GROUP BY 1
)
SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
       CAST(sum(sign(b.v_c - a.v_c)) AS BIGINT) AS s_stat,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM d a JOIN d b ON b.day > a.day""",
    ref="extension: Mann-Kendall monotone-trend S over daily revenue -- "
    "aggregate to the bounded day dimension first, pairwise sign join "
    "on days only; rank-based companion to segment_trend_slope",
)
def q_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
        )
        .groupBy("day")
        .agg(F.sum("v_c").alias("v_c"))
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.day") > F.col("a.day"))
    n_days = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    stats = pairs.agg(
        F.sum(F.signum(F.col("b.v_c") - F.col("a.v_c")))
        .cast("bigint")
        .alias("s_stat"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    return n_days.crossJoin(F.broadcast(stats))


@_register(
    "value_bin_purchase_rate",
    """
WITH e AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000 AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(bin * 1000 AS BIGINT) AS bin_lo_c,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(is_p) AS BIGINT) AS n_purchases,
       CAST(sum(is_p) * 10000 // count(*) AS BIGINT) AS purchase_pm
FROM e GROUP BY bin""",
    ref="extension: fixed-width $10 value-bin purchase-rate calibration "
    "table -- map-only bin assignment (no ntile/global sort), bounded "
    "bin dimension",
)
def q_value_bin_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000").alias(
            "bin"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_p"
        ),
    )
    return (
        e.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_p").alias("n_purchases"),
        )
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            (F.col("bin") * 1000).cast("bigint").alias("bin_lo_c"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_purchases").cast("bigint").alias("n_purchases"),
            F.expr("n_purchases * 10000 div n_events")
            .cast("bigint")
            .alias("purchase_pm"),
        )
    )


@_register(
    "mi_type_valuebin",
    """
WITH cell AS (
  SELECT event_type AS x,
         CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000 AS y,
         count(*) AS n_xy
  FROM events GROUP BY 1, 2
), m AS (
  SELECT x, y, n_xy,
         sum(n_xy) OVER (PARTITION BY x) AS n_x,
         sum(n_xy) OVER (PARTITION BY y) AS n_y,
         sum(n_xy) OVER () AS n
  FROM cell
)
SELECT CAST(max(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n_xy * CAST(floor(ln(CAST(n AS DOUBLE) * n_xy
                                     / (n_x * n_y)) * 1000000 + 0.5)
                            AS BIGINT)) AS BIGINT) AS mi_micro_sum
FROM m""",
    ref="extension: mutual information I(event_type; value bin) in "
    "micro-nats -- one contingency shuffle, quantized per-cell log "
    "terms (zipf_slope_tokens convention); feature-selection gauge "
    "next to chi2_segment_status",
)
def q_mi_type_valuebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cell = (
        ev.select(
            F.col("event_type").alias("x"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000")
            .alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    m = cell.select(
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("x")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("y")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).alias("n"),
    )
    return m.agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(
            F.col("n_xy")
            * F.expr(
                "CAST(floor(ln(CAST(n AS DOUBLE) * n_xy / (n_x * n_y))"
                " * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("mi_micro_sum"),
    )


# =========================================================================
# wave 84
# Round-3 coverage wave 84: PSI drift, conversion latency, linear
# attribution.
#
# - ``psi_value_drift``: Population Stability Index between the parity
#   user cohorts' value distributions -- the industry-standard drift
#   score next to ``ks_value_drift`` (KS is the sup-norm; PSI weights
#   every bin and is what model-monitoring dashboards alarm on, with
#   0.1/0.25 watch/act thresholds).  Same $10 bins and cohorts as the
#   KS/calibration queries; Laplace add-one smoothing keeps empty-bin
#   logs finite (documented, applied identically in both engines).  The
#   per-bin log ratio is floor-quantized to micro-nats (the
#   ``zipf_slope_tokens`` convention) and the whole sum stays in
#   DECIMAL(38) with ONE final division -- bit-exact across engines.
# - ``signup_to_purchase_latency``: per-user conversion latency -- first
#   signup event to the first purchase at-or-after it, in whole seconds.
#   Two user-keyed aggregations (signup min, then conditional purchase
#   min after the join); users who never convert are dropped.  The
#   funnel-latency table every growth dashboard starts from, the
#   continuous companion to ``event_funnel``/``funnel_strict_3step``
#   (which count stage reach, not time-to-convert).
# - ``linear_attribution``: equal-credit (linear) multi-touch
#   attribution -- each view/click within 1 hour BEFORE a purchase by
#   the same user shares that purchase's credit equally; credits sum per
#   touch type in exact micro units (``floor(n_type * 1e6 / n_touches)``
#   per purchase, then an integer sum).  The forward as-of window
#   (``asof_next_purchase`` pattern) assigns each touch its next
#   purchase with NO range join: one user-partitioned ordered window,
#   then a (user, purchase) group-by.  Complements
#   ``last_touch_attribution`` (winner-take-all).
#
# Scale: PSI reduces to a bounded histogram before any math; latency is
# two user-keyed shuffles; attribution is a user-partitioned window plus
# two bounded aggregations -- no pairwise range join anywhere.
# =========================================================================

@_register(
    "psi_value_drift",
    """
WITH binned AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000 AS bin,
         count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
         count(*) FILTER (WHERE user_id % 2 = 1) AS n_b
  FROM events GROUP BY 1
), sm AS (
  SELECT bin, n_a + 1 AS a, n_b + 1 AS b,
         CAST(sum(n_a + 1) OVER () AS DECIMAL(38,0)) AS ta,
         CAST(sum(n_b + 1) OVER () AS DECIMAL(38,0)) AS tb
  FROM binned
), term AS (
  SELECT ta, tb,
         (a * tb - b * ta)
           * CAST(floor(ln(CAST(a * tb AS DOUBLE) / CAST(b * ta AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS num
  FROM sm
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(max(ta) AS BIGINT) AS tot_a_sm,
       CAST(max(tb) AS BIGINT) AS tot_b_sm,
       CAST(CAST(sum(num) AS HUGEINT)
            // CAST(max(ta) * max(tb) AS HUGEINT) AS BIGINT) AS psi_micro
FROM term""",
    ref="extension: Population Stability Index between parity cohorts "
    "over $10 value bins -- add-one smoothing, micro-nat quantized "
    "log ratios, DECIMAL(38) sum, one final division; PSI companion "
    "to ks_value_drift",
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    binned = (
        ev.select(
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000")
            .alias("bin"),
            F.col("user_id"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("n_b"),
        )
    )
    w = Window.partitionBy()
    sm = binned.select(
        (F.col("n_a") + 1).alias("a"),
        (F.col("n_b") + 1).alias("b"),
        F.sum(F.col("n_a") + 1).over(w).cast("decimal(38,0)").alias("ta"),
        F.sum(F.col("n_b") + 1).over(w).cast("decimal(38,0)").alias("tb"),
    )
    term = sm.select(
        "ta",
        "tb",
        (
            (F.col("a") * F.col("tb") - F.col("b") * F.col("ta"))
            * F.expr(
                "CAST(floor(ln(CAST(a * tb AS DOUBLE)"
                " / CAST(b * ta AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            )
        ).alias("num"),
    )
    return term.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.max("ta").cast("bigint").alias("tot_a_sm"),
        F.max("tb").cast("bigint").alias("tot_b_sm"),
        F.expr("CAST(sum(num) div (max(ta) * max(tb)) AS BIGINT)").alias(
            "psi_micro"
        ),
    )


@_register(
    "signup_to_purchase_latency",
    """
WITH signup AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
), conv AS (
  SELECT s.user_id, s.signup_ts, min(e.ts) AS purchase_ts
  FROM signup s JOIN events e
    ON e.user_id = s.user_id
   AND e.event_type = 'purchase' AND e.ts >= s.signup_ts
  GROUP BY 1, 2
)
SELECT user_id,
       CAST(epoch_us(signup_ts) AS BIGINT) AS signup_us,
       CAST(epoch_us(purchase_ts) AS BIGINT) AS purchase_us,
       CAST((epoch_us(purchase_ts) - epoch_us(signup_ts)) // 1000000
            AS BIGINT) AS latency_s
FROM conv""",
    ref="extension: first-signup -> first-subsequent-purchase latency "
    "per user -- two user-keyed aggregations, whole-second deltas; "
    "time-to-convert companion to the funnel reach queries",
)
def q_signup_to_purchase_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(
            p,
            (signup.user_id == F.col("p_uid"))
            & (F.col("p_ts") >= F.col("signup_ts")),
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )
    su = F.unix_micros(F.col("signup_ts"))
    pu = F.unix_micros(F.col("purchase_ts"))
    return conv.select(
        "user_id",
        su.cast("bigint").alias("signup_us"),
        pu.cast("bigint").alias("purchase_us"),
        ((pu - su) / F.lit(1000000)).cast("bigint").alias("latency_s"),
    )


@_register(
    "linear_attribution",
    """
WITH nxt AS (
  SELECT event_type, user_id, epoch_us(ts) AS t_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS purch_us
  FROM events
), touch AS (
  SELECT event_type, user_id, purch_us
  FROM nxt
  WHERE event_type IN ('view', 'click')
    AND purch_us IS NOT NULL AND purch_us - t_us <= 3600000000
), grp AS (
  SELECT user_id, purch_us, event_type, count(*) AS n_type,
         sum(count(*)) OVER (PARTITION BY user_id, purch_us) AS n_touch
  FROM touch GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(sum(n_type) AS BIGINT) AS n_touches,
       CAST(sum(n_type * 1000000 // n_touch) AS BIGINT) AS credit_micro
FROM grp GROUP BY 1""",
    ref="extension: linear (equal-share) multi-touch attribution over "
    "a 1h lookback -- forward as-of window assigns each touch its "
    "next purchase (no range join), per-purchase equal split in exact "
    "micro units; winner-take-all variant is last_touch_attribution",
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        )
        .over(w)
        .alias("purch_us"),
    )
    touch = nxt.filter(
        F.col("event_type").isin("view", "click")
        & F.col("purch_us").isNotNull()
        & (F.col("purch_us") - F.col("t_us") <= 3600000000)
    )
    grp = touch.groupBy("user_id", "purch_us", "event_type").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    grp = grp.withColumn(
        "n_touch",
        F.sum("n_type").over(Window.partitionBy("user_id", "purch_us")),
    )
    return grp.groupBy("event_type").agg(
        F.sum("n_type").cast("bigint").alias("n_touches"),
        F.sum(F.expr("n_type * 1000000 div n_touch"))
        .cast("bigint")
        .alias("credit_micro"),
    )


# =========================================================================
# wave 90
# Round-3 coverage wave 90: tail-index estimation, join-skew
# profiling, leaderboard stability.
#
# - ``hill_tail_index``: the Hill estimator of the value distribution's
#   tail exponent over the top-200 order statistics -- the standard
#   fat-tail diagnostic (alpha ~ 1/mean(ln(x_i/x_k))): alpha <= 2 means
#   infinite variance and every mean-based dashboard is lying; the
#   parametric companion to ``value_overdispersion`` and
#   ``benford_totalprice``.  Top-k is a rank over cents (no global
#   materialized sort -- Catalyst takes TakeOrdered for the k rows);
#   each log term is micro-quantized (``zipf_slope_tokens`` convention)
#   and the estimate is one integer division: alpha_micro =
#   k * 1e12 / sum(ln_micro).
# - ``join_key_skew_profile``: count-of-counts profile of the
#   orders |><| lineitem join key -- how many orders have 1, 2, ... line
#   items, plus each multiplicity's share of join output rows.  The
#   exact-skew companion to ``join_size_cms`` (sketched) and
#   ``join_strategy_advisor`` (decision): a key whose multiplicity share
#   concentrates is the key you salt (``salted_*``).  Two bounded
#   aggregations.
# - ``topk_stability_bootstrap``: is the top-10 customer leaderboard
#   real or noise?  Re-rank customers under each of 20 Poisson(1)
#   bootstrap replicates (per-ORDER integer-threshold hash weights, the
#   ``bootstrap_mean_value`` machinery) and report, for every customer
#   appearing in any replicate's top 10, how many replicates keep them
#   there.  A customer in 20/20 is a stable fact; 3/20 is sampling
#   noise.  One explode + replicate-partitioned rank over per-customer
#   aggregates -- parallel across replicates, never a global sort of raw
#   facts.
#
# Scale: top-k and count-of-counts are bounded outputs; the bootstrap
# ranks run per replicate over customer aggregates (|customers| <<
# |orders|).
# =========================================================================

_HILL_K = 200
_B = 20

_W_SQL = " + ".join(
    f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)" for t in _POIS_T
)


@_register(
    "hill_tail_index",
    f"""
WITH v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
         row_number() OVER (ORDER BY floor(value * 100 + 0.5) DESC,
                            event_id) AS r
  FROM events
), topk AS (
  SELECT x, r FROM v WHERE r <= {_HILL_K}
), xk AS (
  SELECT x AS x_k FROM topk WHERE r = {_HILL_K}
), terms AS (
  SELECT CAST(floor(ln(CAST(t.x AS DOUBLE) / k.x_k) * 1000000 + 0.5)
              AS BIGINT) AS ln_micro
  FROM topk t CROSS JOIN xk k
  WHERE t.r < {_HILL_K}
)
SELECT CAST(count(*) AS BIGINT) AS k_used,
       CAST(sum(ln_micro) AS BIGINT) AS sum_ln_micro,
       CAST(count(*) * 1000000000000 // greatest(sum(ln_micro), 1)
            AS BIGINT) AS alpha_micro
FROM terms""",
    ref="extension: Hill tail-exponent estimator over the top-200 "
    "value order statistics -- TakeOrdered top-k, micro-quantized log "
    "terms, one integer division; fat-tail gate next to "
    "value_overdispersion",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("x"),
        "event_id",
    ).select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.desc("x"), F.col("event_id")))
        .alias("r"),
    )
    topk = v.filter(F.col("r") <= _HILL_K)
    xk = topk.filter(F.col("r") == _HILL_K).select(
        F.col("x").alias("x_k")
    )
    terms = (
        topk.filter(F.col("r") < _HILL_K)
        .crossJoin(F.broadcast(xk))
        .select(
            F.expr(
                "CAST(floor(ln(CAST(x AS DOUBLE) / x_k) * 1000000 + 0.5)"
                " AS BIGINT)"
            ).alias("ln_micro")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.sum("ln_micro").cast("bigint").alias("sum_ln_micro"),
        F.expr(
            "CAST(count(*) * 1000000000000"
            " div greatest(sum(ln_micro), 1) AS BIGINT)"
        ).alias("alpha_micro"),
    )


@_register(
    "join_key_skew_profile",
    """
WITH per_key AS (
  SELECT l_orderkey, count(*) AS m FROM lineitem GROUP BY 1
), cc AS (
  SELECT m, count(*) AS n_keys FROM per_key GROUP BY m
)
SELECT CAST(m AS BIGINT) AS multiplicity,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(m * n_keys AS BIGINT) AS join_rows,
       CAST(m * n_keys * 10000 // sum(m * n_keys) OVER () AS BIGINT)
         AS join_rows_pm
FROM cc""",
    ref="extension: exact count-of-counts skew profile of the "
    "orders-lineitem join key with per-multiplicity join-output "
    "share; the measured input to join_strategy_advisor / salting",
)
def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("m"))
    cc = per_key.groupBy("m").agg(F.count(F.lit(1)).alias("n_keys"))
    w = Window.partitionBy()
    return cc.select(
        F.col("m").cast("bigint").alias("multiplicity"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        (F.col("m") * F.col("n_keys")).cast("bigint").alias("join_rows"),
        F.expr(
            "m * n_keys * 10000 div "
            "sum(m * n_keys) OVER ()"
        )
        .cast("bigint")
        .alias("join_rows_pm"),
    )


@_register(
    "topk_stability_bootstrap",
    f"""
WITH r AS (
  SELECT o.o_custkey,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v_c,
         b.b,
         ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':'
                             || CAST(b.b AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders o CROSS JOIN (
    SELECT unnest(generate_series(0, {_B - 1})) AS b) b
), w AS (
  SELECT b, o_custkey, sum(({_W_SQL}) * v_c) AS rev_c FROM r
  GROUP BY 1, 2
), rk AS (
  SELECT b, o_custkey,
         row_number() OVER (PARTITION BY b
                            ORDER BY rev_c DESC, o_custkey) AS r
  FROM w
)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_top10
FROM rk WHERE r <= 10 GROUP BY o_custkey""",
    ref="extension: leaderboard stability audit -- re-rank customers "
    "under 20 Poisson bootstrap replicates (bootstrap_mean_value "
    "machinery) and count how often each holds a top-10 seat",
)
def q_topk_stability_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").cast("string").alias("oid"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "v_c"
        ),
    )
    r = o.select(
        "o_custkey",
        "v_c",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        "oid",
    ).select(
        "o_custkey",
        "v_c",
        "b",
        hash60(
            F.concat(F.col("oid"), F.lit(":"), F.col("b").cast("string"))
        ).alias("h"),
    )
    w = r.groupBy("b", "o_custkey").agg(
        F.sum(F.expr(f"({_W_SQL}) * v_c")).alias("rev_c")
    )
    # two-stage exact top-10 per replicate (round-4 verdict item 7): a
    # plain Window.partitionBy("b") rank puts EVERY customer of one
    # replicate in a single partition -- only B=20-way parallelism and
    # a full per-partition sort, the same single-partition-sort class
    # as the zonemap row_number regression.  Stage 1 ranks within
    # (b, salt=custkey%64) -- 64x the parallelism, each group a 64th of
    # the customers -- and keeps its local top 10; any global top-10
    # row is necessarily top-10 within its salt group, so ranking the
    # <=640 survivors per replicate in stage 2 is exact, not approximate.
    salted = w.withColumn("s", F.pmod(F.col("o_custkey"), F.lit(64)))
    w_local = Window.partitionBy("b", "s").orderBy(
        F.desc("rev_c"), F.col("o_custkey")
    )
    cands = (
        salted.withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= 10)
        .drop("s", "lr")
    )
    rk = cands.select(
        "b",
        "o_custkey",
        F.row_number()
        .over(
            Window.partitionBy("b").orderBy(
                F.desc("rev_c"), F.col("o_custkey")
            )
        )
        .alias("r"),
    )
    return (
        rk.filter(F.col("r") <= 10)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_top10"))
    )


# =========================================================================
# wave 93
# Round-3 coverage wave 93: vocabulary growth, discount response,
# class rebalancing.
#
# - ``heaps_law_curve``: Heaps'-law vocabulary growth -- distinct token
#   types vs cumulative token count at doc-order checkpoints (every 100
#   docs).  Natural corpora grow types ~ tokens^beta with beta ~ 0.5-0.6;
#   a flattening curve means the corpus has gone repetitive (the growth-
#   over-time companion to ``zipf_slope_tokens``).  NO sequential scan:
#   each type reduces to its FIRST doc (one min per token), each
#   checkpoint's type count is "tokens whose first doc <= cutoff" and
#   its token count is a prefix sum of per-doc lengths -- two bounded
#   aggregations over the checkpoint grid.
# - ``discount_qty_response``: quantity response by discount band -- the
#   demand-elasticity proxy table (does a deeper discount move more
#   units?): per integer discount percent, line count, exact mean
#   quantity (milli units) and revenue.  Map-only banding (the discount
#   domain is bounded), one shuffle.
# - ``balanced_downsample_labels``: deterministic class rebalancing --
#   every label downsampled to the minority class size by keeping the
#   lowest-``hash60`` vec_ids (re-run stable, the property training
#   splits need; the classification analogue of
#   ``mixture_resample_docs``).  One rank per label over the hash, the
#   cap broadcast from the tiny per-label count table.
#
# Scale: Heaps reduces tokens to first-occurrence rows before any
# cumulative step; banding is map-only; rebalancing is one label-
# partitioned rank.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_STEP = 100


@_register(
    "heaps_law_curve",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t
  FROM documents WHERE {_NORM} <> ''
), first_doc AS (
  SELECT t, min(doc_id) AS fd FROM tok GROUP BY t
), doc_len AS (
  SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
), cuts AS (
  -- greatest(max, step): one checkpoint even when max(doc_id) < step,
  -- matching Spark's guarded sequence (round-3 advice)
  SELECT unnest(generate_series({_STEP},
           (SELECT greatest(CAST(max(doc_id) AS BIGINT), {_STEP})
            FROM documents),
           {_STEP})) AS cutoff
)
SELECT CAST(c.cutoff AS BIGINT) AS cutoff_doc,
       COALESCE((SELECT CAST(sum(n_tok) AS BIGINT) FROM doc_len
                 WHERE doc_id <= c.cutoff), 0) AS n_tokens,
       COALESCE((SELECT CAST(count(*) AS BIGINT) FROM first_doc
                 WHERE fd <= c.cutoff), 0) AS n_types
FROM cuts c""",
    ref="extension: Heaps'-law vocabulary growth at doc checkpoints -- "
    "per-type first-doc reduction + prefix sums, no sequential scan; "
    "growth companion to zipf_slope_tokens",
)
def q_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", normalize_text("text").alias("nm"))
        .filter(F.col("nm") != "")
        .select("doc_id", F.explode(F.split("nm", " ")).alias("t"))
    )
    first_doc = tok.groupBy("t").agg(F.min("doc_id").alias("fd"))
    doc_len = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    # greatest(mx, step) guards sequence() (which THROWS when stop <
    # start under a positive step) and pins one checkpoint on tiny /
    # offset doc_id spaces (round-3 advice)
    cuts = (
        docs.agg(F.max("doc_id").cast("bigint").alias("mx"))
        .select(
            F.explode(
                F.sequence(
                    F.lit(_STEP).cast("bigint"),
                    F.greatest(F.col("mx"), F.lit(_STEP).cast("bigint")),
                    F.lit(_STEP).cast("bigint"),
                )
            ).alias("cutoff")
        )
    )
    # both "counts below cutoff" reduce via a conditional-join-free
    # broadcast of the tiny checkpoint grid
    types_at = (
        first_doc.crossJoin(F.broadcast(cuts))
        .filter(F.col("fd") <= F.col("cutoff"))
        .groupBy("cutoff")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    )
    tokens_at = (
        doc_len.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("cutoff")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    # left-join the checkpoint grid so a cutoff with zero docs or zero
    # first-seen types below it still emits a row (coalesced to 0),
    # matching the oracle's correlated-subquery-per-cutoff shape
    return (
        cuts.join(tokens_at, "cutoff", "left")
        .join(types_at, "cutoff", "left")
        .select(
            F.col("cutoff").cast("bigint").alias("cutoff_doc"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("bigint").alias("n_types"),
        )
    )


@_register(
    "discount_qty_response",
    """
WITH b AS (
  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
         l_quantity,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
              AS BIGINT) AS rev_c
  FROM lineitem
)
SELECT disc_pct,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT))
            // count(*) AS BIGINT) AS avg_qty_milli,
       CAST(sum(rev_c) AS BIGINT) AS revenue_c
FROM b GROUP BY disc_pct""",
    ref="extension: quantity response by integer discount percent -- "
    "demand-elasticity proxy table; map-only banding over the bounded "
    "discount domain",
)
def q_discount_qty_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_pct"
        ),
        F.expr("CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT)").alias(
            "q_milli"
        ),
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " AS BIGINT)"
        ).alias("rev_c"),
    )
    return b.groupBy("disc_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr("sum(q_milli) div count(*)")
        .cast("bigint")
        .alias("avg_qty_milli"),
        F.sum("rev_c").cast("bigint").alias("revenue_c"),
    )


@_register(
    "balanced_downsample_labels",
    """
WITH h AS (
  SELECT label,
         ('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)), 1, 15))
           ::BIGINT AS hv
  FROM embeddings
), ranked AS (
  SELECT label, row_number() OVER (PARTITION BY label ORDER BY hv) AS r,
         count(*) OVER (PARTITION BY label) AS n_before
  FROM h
), cap AS (
  SELECT min(n_before) AS n_min FROM (SELECT DISTINCT label, n_before
                                      FROM ranked)
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(max(n_before) AS BIGINT) AS n_before,
       CAST(count(*) AS BIGINT) AS n_after
FROM ranked, cap WHERE r <= cap.n_min
GROUP BY label""",
    ref="extension: deterministic downsample-to-minority class "
    "rebalance (lowest-hash60 keep per label) -- re-run-stable splits; "
    "classification analogue of mixture_resample_docs",
)
def q_balanced_downsample_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    emb = load_table(spark, sf_dir, "embeddings")
    h = emb.select(
        "label",
        hash60(
            F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))
        ).alias("hv"),
    )
    ranked = h.select(
        "label",
        F.row_number()
        .over(Window.partitionBy("label").orderBy("hv"))
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias(
            "n_before"
        ),
    )
    cap = (
        ranked.select("label", "n_before")
        .distinct()
        .agg(F.min("n_before").alias("n_min"))
    )
    return (
        ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("r") <= F.col("n_min"))
        .groupBy("label")
        .agg(
            F.max("n_before").cast("bigint").alias("n_before"),
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
        )
        .select(F.col("label").cast("bigint").alias("label"), "n_before",
                "n_after")
    )


# =========================================================================
# round-4 experimentation family
#
# - ``diff_in_diff_value``: difference-in-differences over the purchase
#   stream -- treatment = even user_id (the deterministic assignment the
#   parity cohorts already use), period split at the midpoint of the
#   observed time span (computed from min/max epoch micros, so the query
#   is scale-factor agnostic).  All math is integer cents with
#   truncating division: four cell means + the DiD contrast replay
#   bit-exactly on any engine.
# - ``cuped_adjusted_lift``: CUPED variance reduction -- per-user
#   pre-period covariate X and post-period metric Y (integer-cent
#   sums), theta = cov(X,Y)/var(X) computed from DECIMAL(38) integer
#   moment sums (n*Sxy - Sx*Sy over n*Sxx - Sx^2, HUGEINT in DuckDB),
#   quantized once to micro units, then the adjusted lift
#   raw_lift - theta * covariate_gap entirely in integer micro math.
# - ``nelson_aalen_hazard``: Nelson-Aalen cumulative-hazard estimator
#   for signup->purchase conversion latency (day grain), right-censored
#   at each user's last observed event.  Each hazard increment is the
#   exactly-quantized rational (1e6 * d_t) div n_t; the cumulative sum
#   is an integer window sum -- the KM companion
#   (``km_repurchase_survival``) done additively.
#
# Scale: DiD and CUPED are two hash aggregates over a filtered scan
# (the 1-row threshold/moment frames broadcast); Nelson-Aalen is one
# user-keyed aggregate + one day-grain window over <=span-days rows.
# =========================================================================


@_register(
    "diff_in_diff_value",
    """
WITH b AS (
  SELECT user_id % 2 = 0 AS treat,
         epoch_us(ts) AS t_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), thr AS (
  SELECT (min(t_us) + max(t_us)) // 2 AS mid_us FROM b
), cell AS (
  SELECT treat, t_us >= (SELECT mid_us FROM thr) AS post,
         sum(cents) AS s, count(*) AS n
  FROM b GROUP BY 1, 2
), m AS (
  SELECT
    sum(s) FILTER (WHERE treat AND post)
      // sum(n) FILTER (WHERE treat AND post) AS m_tp,
    sum(s) FILTER (WHERE treat AND NOT post)
      // sum(n) FILTER (WHERE treat AND NOT post) AS m_tq,
    sum(s) FILTER (WHERE NOT treat AND post)
      // sum(n) FILTER (WHERE NOT treat AND post) AS m_cp,
    sum(s) FILTER (WHERE NOT treat AND NOT post)
      // sum(n) FILTER (WHERE NOT treat AND NOT post) AS m_cq,
    CAST(sum(n) AS BIGINT) AS n_purchases
  FROM cell
)
SELECT CAST(m_tp AS BIGINT) AS mean_treat_post_cents,
       CAST(m_tq AS BIGINT) AS mean_treat_pre_cents,
       CAST(m_cp AS BIGINT) AS mean_ctrl_post_cents,
       CAST(m_cq AS BIGINT) AS mean_ctrl_pre_cents,
       CAST((m_tp - m_tq) - (m_cp - m_cq) AS BIGINT) AS did_cents,
       n_purchases
FROM m""",
    ref="extension: difference-in-differences (parity assignment, "
    "midpoint period split) in exact integer cents -- two hash "
    "aggregates, broadcast scalar threshold",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        F.unix_micros("ts").alias("t_us"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    thr = b.agg(
        F.expr("(min(t_us) + max(t_us)) div 2").alias("mid_us")
    )
    cell = (
        b.crossJoin(F.broadcast(thr))
        .select("treat", (F.col("t_us") >= F.col("mid_us")).alias("post"), "cents")
        .groupBy("treat", "post")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
    )

    def _m(tr: bool, po: bool) -> F.Column:
        return F.expr(
            f"sum(CASE WHEN treat = {str(tr).lower()} AND post = {str(po).lower()}"
            " THEN s END) div "
            f"sum(CASE WHEN treat = {str(tr).lower()} AND post = {str(po).lower()}"
            " THEN n END)"
        )

    m = cell.agg(
        _m(True, True).alias("m_tp"),
        _m(True, False).alias("m_tq"),
        _m(False, True).alias("m_cp"),
        _m(False, False).alias("m_cq"),
        F.sum("n").cast("bigint").alias("n_purchases"),
    )
    return m.select(
        F.col("m_tp").cast("bigint").alias("mean_treat_post_cents"),
        F.col("m_tq").cast("bigint").alias("mean_treat_pre_cents"),
        F.col("m_cp").cast("bigint").alias("mean_ctrl_post_cents"),
        F.col("m_cq").cast("bigint").alias("mean_ctrl_pre_cents"),
        ((F.col("m_tp") - F.col("m_tq")) - (F.col("m_cp") - F.col("m_cq")))
        .cast("bigint")
        .alias("did_cents"),
        "n_purchases",
    )


@_register(
    "cuped_adjusted_lift",
    """
WITH ev2 AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), thr AS (
  SELECT (min(t_us) + max(t_us)) // 2 AS mid_us FROM ev2
), u AS (
  SELECT user_id, user_id % 2 = 0 AS treat,
         coalesce(sum(cents) FILTER (WHERE t_us < (SELECT mid_us FROM thr)), 0) AS x,
         coalesce(sum(cents) FILTER (WHERE t_us >= (SELECT mid_us FROM thr)), 0) AS y
  FROM ev2 GROUP BY 1, 2
), mom AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * y) AS HUGEINT) AS sxy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(count(*) FILTER (WHERE treat) AS HUGEINT) AS n_t,
         CAST(sum(x) FILTER (WHERE treat) AS HUGEINT) AS sx_t,
         CAST(sum(y) FILTER (WHERE treat) AS HUGEINT) AS sy_t,
         CAST(count(*) FILTER (WHERE NOT treat) AS HUGEINT) AS n_c,
         CAST(sum(x) FILTER (WHERE NOT treat) AS HUGEINT) AS sx_c,
         CAST(sum(y) FILTER (WHERE NOT treat) AS HUGEINT) AS sy_c
  FROM u
), th AS (
  SELECT n, n_t, n_c,
         CASE WHEN n * sxx - sx * sx <> 0
           THEN (1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
           ELSE 0 END AS theta_micro,
         CASE WHEN n_t > 0 AND n_c > 0
           THEN (1000000 * sy_t) // n_t - (1000000 * sy_c) // n_c
           END AS raw_lift_micro,
         CASE WHEN n_t > 0 AND n_c > 0
           THEN (1000000 * sx_t) // n_t - (1000000 * sx_c) // n_c
           END AS cov_gap_micro
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(n_t AS BIGINT) AS n_treat,
       CAST(n_c AS BIGINT) AS n_ctrl,
       CAST(theta_micro AS BIGINT) AS theta_micro,
       CAST(raw_lift_micro AS BIGINT) AS raw_lift_micro,
       CAST(raw_lift_micro - (theta_micro * cov_gap_micro) // 1000000
            AS BIGINT) AS cuped_lift_micro
FROM th""",
    ref="extension: CUPED variance-reduced lift -- per-user pre/post "
    "integer-cent sums, theta from DECIMAL(38)/HUGEINT moment sums "
    "(n*Sxy-Sx*Sy over n*Sxx-Sx^2) quantized once to micro units, "
    "adjusted lift in pure integer micro math; one user aggregate + "
    "one 1-row moment frame",
)
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev2 = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    thr = ev2.agg(F.expr("(min(t_us) + max(t_us)) div 2").alias("mid_us"))
    u = (
        ev2.crossJoin(F.broadcast(thr))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("t_us") < F.col("mid_us"), F.col("cents"))),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("t_us") >= F.col("mid_us"), F.col("cents"))),
                F.lit(0),
            ).alias("y"),
        )
        .withColumn("treat", F.col("user_id") % 2 == 0)
    )
    d38 = "decimal(38,0)"
    mom = u.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
        F.count(F.when(F.col("treat"), 1)).cast(d38).alias("n_t"),
        F.sum(F.when(F.col("treat"), F.col("x"))).cast(d38).alias("sx_t"),
        F.sum(F.when(F.col("treat"), F.col("y"))).cast(d38).alias("sy_t"),
        F.count(F.when(~F.col("treat"), 1)).cast(d38).alias("n_c"),
        F.sum(F.when(~F.col("treat"), F.col("x"))).cast(d38).alias("sx_c"),
        F.sum(F.when(~F.col("treat"), F.col("y"))).cast(d38).alias("sy_c"),
    )
    th = mom.select(
        "n",
        "n_t",
        "n_c",
        F.expr(
            "CASE WHEN n * sxx - sx * sx <> 0"
            " THEN (1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
            " ELSE 0 END"
        ).alias("theta_micro"),
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0"
            " THEN (1000000 * sy_t) div n_t - (1000000 * sy_c) div n_c END"
        ).alias("raw_lift_micro"),
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0"
            " THEN (1000000 * sx_t) div n_t - (1000000 * sx_c) div n_c END"
        ).alias("cov_gap_micro"),
    )
    return th.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("n_t").cast("bigint").alias("n_treat"),
        F.col("n_c").cast("bigint").alias("n_ctrl"),
        F.col("theta_micro").cast("bigint").alias("theta_micro"),
        F.col("raw_lift_micro").cast("bigint").alias("raw_lift_micro"),
        F.expr(
            "CAST(raw_lift_micro - (theta_micro * cov_gap_micro) div 1000000"
            " AS BIGINT)"
        ).alias("cuped_lift_micro"),
    )


@_register(
    "nelson_aalen_hazard",
    """
WITH su AS (
  SELECT user_id, min(epoch_us(ts)) AS su_us
  FROM events WHERE event_type = 'signup' GROUP BY 1
), obs AS (
  SELECT s.user_id, min(s.su_us) AS su_us,
         min(CASE WHEN e.event_type = 'purchase'
                   AND epoch_us(e.ts) >= s.su_us
                  THEN epoch_us(e.ts) END) AS pu_us,
         max(epoch_us(e.ts)) AS last_us
  FROM su s JOIN events e ON e.user_id = s.user_id
  GROUP BY 1
), t AS (
  SELECT CASE WHEN pu_us IS NOT NULL
              THEN (pu_us - su_us) // 86400000000
              ELSE (last_us - su_us) // 86400000000 END AS day,
         pu_us IS NOT NULL AS ev
  FROM obs
), risk AS (
  SELECT day,
         count(*) FILTER (WHERE ev) AS d,
         sum(count(*)) OVER (ORDER BY day DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS n_risk
  FROM t GROUP BY day
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(d AS BIGINT) AS d_events,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       CAST((1000000 * d) // n_risk AS BIGINT) AS hazard_step_micro,
       CAST(sum((1000000 * d) // n_risk)
            OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS cum_hazard_micro
FROM risk""",
    ref="extension: Nelson-Aalen cumulative hazard of signup->purchase "
    "latency (day grain, right-censored at last observed event) -- "
    "exactly-quantized rational increments (1e6*d) div n, integer "
    "window cumsum; additive companion to km_repurchase_survival",
)
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("su_us"))
    )
    obs = (
        su.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("su_us").alias("su_us"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("su_us")),
                    F.unix_micros("ts"),
                )
            ).alias("pu_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
    )
    t = obs.select(
        F.expr(
            "CASE WHEN pu_us IS NOT NULL"
            " THEN (pu_us - su_us) div 86400000000"
            " ELSE (last_us - su_us) div 86400000000 END"
        ).alias("day"),
        F.col("pu_us").isNotNull().alias("ev"),
    )
    risk = t.groupBy("day").agg(
        F.count(F.when(F.col("ev"), 1)).alias("d"),
        F.count(F.lit(1)).alias("n_day"),
    )
    w_desc = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_asc = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = risk.withColumn("n_risk", F.sum("n_day").over(w_desc)).withColumn(
        "step", F.expr("(1000000 * d) div n_risk")
    )
    return risk.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("step").cast("bigint").alias("hazard_step_micro"),
        F.sum("step").over(w_asc).cast("bigint").alias("cum_hazard_micro"),
    )


# =========================================================================
# round-4 predictive-evaluation family
#
# - ``quantile_regression_grid``: grid-search quantile regression --
#   for each target quantile tau the pinball (check) loss is evaluated
#   over the 19 ventile candidates of the value distribution and the
#   argmin wins.  Loss terms are integer permyriad x cents products, so
#   every (tau, candidate) cell is an exact integer; the grid is a
#   57-row broadcast and the scan aggregates map-side into 57 cells --
#   resampling-free robust regression at any scale.
# - ``conformal_coverage_audit``: split-conformal prediction audit --
#   even users calibrate a per-event-type interval (group mean +/- the
#   k-th order statistic of absolute residuals, k = ceil(0.9*(n+1)),
#   the standard finite-sample-valid split-conformal rank), odd users
#   test it; reports the interval halfwidth and the empirical coverage
#   permyriad per event type.  All order statistics are exact
#   rank-position picks -- no interpolation, no floats.
# =========================================================================


@_register(
    "quantile_regression_grid",
    """
WITH v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id
  FROM events
), rk AS (
  SELECT cents, row_number() OVER (ORDER BY cents, event_id) AS rn,
         count(*) OVER () AS n
  FROM v
), cand AS (
  SELECT DISTINCT cents AS q
  FROM rk, (SELECT unnest(range(1, 20)) AS k) ks
  WHERE rn = (n * k) // 20
), taus AS (SELECT unnest([2500, 5000, 9000]) AS tau),
loss AS (
  SELECT t.tau, c.q,
         sum(CASE WHEN v.cents >= c.q
                  THEN t.tau * (v.cents - c.q)
                  ELSE (10000 - t.tau) * (c.q - v.cents) END) AS pinball
  FROM v CROSS JOIN cand c CROSS JOIN taus t
  GROUP BY 1, 2
), best AS (
  SELECT tau, q, pinball,
         row_number() OVER (PARTITION BY tau ORDER BY pinball, q) AS r
  FROM loss
)
SELECT CAST(tau AS BIGINT) AS tau_permyriad,
       CAST(q AS BIGINT) AS best_q_cents,
       CAST(pinball AS BIGINT) AS pinball_loss
FROM best WHERE r = 1""",
    ref="extension: grid-search quantile regression (pinball loss over "
    "ventile candidates x 3 taus) -- exact integer permyriad-cents "
    "loss cells, map-side combine into a 57-cell aggregate",
)
def q_quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        "event_id",
    )
    # ventile order statistics from the range-exchanged global rank
    # (operators/prefix) -- the row_number()-over-everything window
    # funneled every event through one task (plan-lint finding)
    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
    )

    rk = distributed_prefix(
        v, ["cents", "event_id"], rank_col="rn", total_col="n"
    ).select("cents", "rn", "n")
    ks = spark.range(1, 20).select(F.col("id").alias("k"))
    # .limit(19): a true structural bound (one candidate per ventile k,
    # deduped) the plan auditor can prove, not just the comment
    cand = (
        rk.crossJoin(F.broadcast(ks))
        .filter(F.col("rn") == F.expr("(n * k) div 20"))
        .select(F.col("cents").alias("q"))
        .distinct()
        .limit(19)
    )
    taus = spark.createDataFrame(
        [(2500,), (5000,), (9000,)], "tau long"
    ).limit(3)
    loss = (
        v.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(taus))
        .groupBy("tau", "q")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN cents >= q THEN tau * (cents - q)"
                    " ELSE (10000 - tau) * (q - cents) END"
                )
            ).alias("pinball")
        )
    )
    best = loss.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("tau").orderBy("pinball", "q")
        ),
    ).filter(F.col("r") == 1)
    return best.select(
        F.col("tau").cast("bigint").alias("tau_permyriad"),
        F.col("q").cast("bigint").alias("best_q_cents"),
        F.col("pinball").cast("bigint").alias("pinball_loss"),
    )


@_register(
    "conformal_coverage_audit",
    """
WITH v AS (
  SELECT event_type, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id
  FROM events
), mu AS (
  SELECT event_type, sum(cents) // count(*) AS mean_cents
  FROM v WHERE user_id % 2 = 0 GROUP BY 1
), resid AS (
  SELECT v.event_type, abs(v.cents - mu.mean_cents) AS r, v.event_id
  FROM v JOIN mu USING (event_type) WHERE v.user_id % 2 = 0
), rr AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY r, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM resid
), qhat AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n_cal, min(r) AS q
  FROM rr
  WHERE rn = least((9 * (n + 1) + 9) // 10, n)
  GROUP BY 1
), test AS (
  SELECT v.event_type,
         count(*) AS n_test,
         count(*) FILTER (WHERE abs(v.cents - mu.mean_cents) <= qhat.q)
           AS covered
  FROM v JOIN mu USING (event_type) JOIN qhat USING (event_type)
  WHERE v.user_id % 2 = 1
  GROUP BY 1
)
SELECT t.event_type,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       CAST(t.n_test AS BIGINT) AS n_test,
       CAST(q.q AS BIGINT) AS halfwidth_cents,
       CAST((10000 * t.covered) // t.n_test AS BIGINT)
         AS coverage_permyriad
FROM test t JOIN qhat q USING (event_type)""",
    ref="extension: split-conformal interval audit -- parity-split "
    "calibration, ceil(0.9*(n+1))-th order-statistic residual "
    "halfwidth (finite-sample-valid rank), exact test coverage "
    "permyriad per event type",
)
def q_conformal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "user_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        "event_id",
    )
    cal = v.filter(F.col("user_id") % 2 == 0)
    mu = cal.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("mean_cents")
    )
    resid = cal.join(mu, "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("mean_cents")).alias("r"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("r", "event_id")
    rr = resid.select(
        "event_type",
        "r",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    qhat = (
        rr.filter(F.col("rn") == F.expr("least((9 * (n + 1) + 9) div 10, n)"))
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_cal"),
            F.min("r").alias("q"),
        )
    )
    test = (
        v.filter(F.col("user_id") % 2 == 1)
        .join(mu, "event_type")
        .join(qhat, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.count(
                F.when(
                    F.abs(F.col("cents") - F.col("mean_cents"))
                    <= F.col("q"),
                    1,
                )
            ).alias("covered"),
        )
    )
    return test.join(qhat, "event_type").select(
        "event_type",
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("n_test").cast("bigint").alias("n_test"),
        F.col("q").cast("bigint").alias("halfwidth_cents"),
        F.expr("(10000 * covered) div n_test")
        .cast("bigint")
        .alias("coverage_permyriad"),
    )


# =========================================================================
# round-4 survival/uplift completions
#
# - ``log_rank_test``: two-arm log-rank statistic over the
#   signup->purchase survival curves (parity arms, same cohort
#   construction as ``nelson_aalen_hazard``).  Per event-day terms --
#   expectation (1e6*d*n1) div n and hypergeometric variance
#   (1e12*d*n1*(n-n1)*(n-d)) div (n*n*(n-1)) -- are exactly-quantized
#   integers (DECIMAL(38)/HUGEINT products), so O1, E1 and V replay
#   bit-exactly; the chi-square statistic is a final integer ratio.
# - ``qini_uplift_deciles``: cumulative uplift (Qini) curve -- users
#   ranked by first-half purchase propensity (integer micro), split
#   into row-number deciles, per-decile cumulative treated/control
#   outcomes and the Qini value y_t - y_c * (n_t/n_c) in exact micro
#   units.  The audit every uplift model ships with, as one ranking
#   window + one decile aggregate.
# =========================================================================


@_register(
    "log_rank_test",
    """
WITH su AS (
  SELECT user_id, min(epoch_us(ts)) AS su_us
  FROM events WHERE event_type = 'signup' GROUP BY 1
), obs AS (
  SELECT s.user_id, min(s.su_us) AS su_us,
         min(CASE WHEN e.event_type = 'purchase'
                   AND epoch_us(e.ts) >= s.su_us
                  THEN epoch_us(e.ts) END) AS pu_us,
         max(epoch_us(e.ts)) AS last_us
  FROM su s JOIN events e ON e.user_id = s.user_id
  GROUP BY 1
), t AS (
  SELECT user_id % 2 = 0 AS arm1,
         CASE WHEN pu_us IS NOT NULL
              THEN (pu_us - su_us) // 86400000000
              ELSE (last_us - su_us) // 86400000000 END AS day,
         pu_us IS NOT NULL AS ev
  FROM obs
), risk AS (
  SELECT day,
         count(*) FILTER (WHERE ev) AS d,
         count(*) FILTER (WHERE ev AND arm1) AS d1,
         sum(count(*)) OVER (ORDER BY day DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS n,
         sum(count(*) FILTER (WHERE arm1))
           OVER (ORDER BY day DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
  FROM t GROUP BY day
), terms AS (
  SELECT d, d1, n, n1,
         CAST((CAST(1000000 AS HUGEINT) * d * n1)
              // CAST(n AS HUGEINT) AS BIGINT) AS e1_term,
         CASE WHEN n > 1 THEN
           CAST((CAST(1000000000000 AS HUGEINT) * d * n1 * (n - n1)
                 * (n - d)) // (CAST(n AS HUGEINT) * n * (n - 1))
                AS BIGINT)
         ELSE 0 END AS v_term
  FROM risk WHERE d > 0
)
SELECT CAST(sum(d1) AS BIGINT) AS o1_events,
       CAST(sum(e1_term) AS BIGINT) AS e1_micro,
       CAST(sum(v_term) AS BIGINT) AS v_micro2,
       CAST(CASE WHEN sum(v_term) > 0 THEN
         CAST(((CAST(1000000 AS HUGEINT) * sum(d1) - sum(e1_term))
               * (CAST(1000000 AS HUGEINT) * sum(d1) - sum(e1_term)))
              // CAST(sum(v_term) AS HUGEINT) AS BIGINT)
       ELSE 0 END AS BIGINT) AS chi2_micro
FROM terms""",
    ref="extension: two-arm log-rank test over signup->purchase "
    "survival (parity arms, right-censored) -- exactly-quantized "
    "hypergeometric expectation/variance terms, integer chi-square "
    "ratio; completes the KM / Nelson-Aalen survival family",
)
def q_log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("su_us"))
    )
    obs = (
        su.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("su_us").alias("su_us"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("su_us")),
                    F.unix_micros("ts"),
                )
            ).alias("pu_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
    )
    t = obs.select(
        (F.col("user_id") % 2 == 0).alias("arm1"),
        F.expr(
            "CASE WHEN pu_us IS NOT NULL"
            " THEN (pu_us - su_us) div 86400000000"
            " ELSE (last_us - su_us) div 86400000000 END"
        ).alias("day"),
        F.col("pu_us").isNotNull().alias("ev"),
    )
    byday = t.groupBy("day").agg(
        F.count(F.when(F.col("ev"), 1)).alias("d"),
        F.count(F.when(F.col("ev") & F.col("arm1"), 1)).alias("d1"),
        F.count(F.lit(1)).alias("n_day"),
        F.count(F.when(F.col("arm1"), 1)).alias("n1_day"),
    )
    w_desc = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = byday.withColumn("n", F.sum("n_day").over(w_desc)).withColumn(
        "n1", F.sum("n1_day").over(w_desc)
    )
    terms = risk.filter(F.col("d") > 0).select(
        "d",
        "d1",
        "n",
        "n1",
        # widened to DECIMAL(38) before the multiply (mirrors v_term):
        # at 100 TB scale 1e6*d*n1 can exceed 2^63, which would wrap
        # silently in non-ANSI Spark while the HUGEINT oracle errors
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * d * n1) div n"
            " AS BIGINT)"
        ).alias("e1_term"),
        F.expr(
            "CASE WHEN n > 1 THEN"
            " CAST((CAST(1000000000000 AS DECIMAL(38,0)) * d * n1"
            " * (n - n1) * (n - d))"
            " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)"
            " ELSE 0 END"
        ).alias("v_term"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1_events"),
        F.sum("e1_term").cast("bigint").alias("e1_micro"),
        F.sum("v_term").cast("bigint").alias("v_micro2"),
        F.expr(
            "CAST(CASE WHEN sum(v_term) > 0 THEN"
            " CAST(((CAST(1000000 AS DECIMAL(38,0)) * sum(d1)"
            " - sum(e1_term))"
            " * (CAST(1000000 AS DECIMAL(38,0)) * sum(d1)"
            " - sum(e1_term)))"
            " div CAST(sum(v_term) AS DECIMAL(38,0)) AS BIGINT)"
            " ELSE 0 END AS BIGINT)"
        ).alias("chi2_micro"),
    )


@_register(
    "qini_uplift_deciles",
    """
WITH ev2 AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
), thr AS (
  SELECT (min(t_us) + max(t_us)) // 2 AS mid_us FROM ev2
), u AS (
  SELECT user_id, user_id % 2 = 0 AS treat,
         (1000000 * count(*) FILTER (WHERE event_type = 'purchase'
                                     AND t_us < (SELECT mid_us FROM thr)))
           // count(*) FILTER (WHERE t_us < (SELECT mid_us FROM thr)) AS p,
         CAST(coalesce(max(CASE WHEN event_type = 'purchase'
                       AND t_us >= (SELECT mid_us FROM thr)
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS y
  FROM ev2 GROUP BY 1
  HAVING count(*) FILTER (WHERE t_us < (SELECT mid_us FROM thr)) > 0
), rk AS (
  SELECT treat, y,
         row_number() OVER (ORDER BY p DESC, user_id) AS rn,
         count(*) OVER () AS nu
  FROM u
), dec AS (
  SELECT ((rn - 1) * 10) // nu AS decile, treat, y FROM rk
), cum AS (
  SELECT decile,
         sum(sum(CASE WHEN treat THEN 1 ELSE 0 END))
           OVER (ORDER BY decile) AS n_t,
         sum(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END))
           OVER (ORDER BY decile) AS n_c,
         sum(sum(CASE WHEN treat THEN y ELSE 0 END))
           OVER (ORDER BY decile) AS y_t,
         sum(sum(CASE WHEN NOT treat THEN y ELSE 0 END))
           OVER (ORDER BY decile) AS y_c
  FROM dec GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_t AS BIGINT) AS n_treat_cum,
       CAST(n_c AS BIGINT) AS n_ctrl_cum,
       CAST(y_t AS BIGINT) AS y_treat_cum,
       CAST(y_c AS BIGINT) AS y_ctrl_cum,
       CAST(CASE WHEN n_c > 0
            THEN 1000000 * y_t - (1000000 * y_c * n_t) // n_c
            END AS BIGINT) AS qini_micro
FROM cum""",
    ref="extension: Qini uplift curve -- propensity-ranked row-number "
    "deciles, cumulative treated/control outcomes, exact micro "
    "y_t - y_c * n_t/n_c per decile; one ranking window + one decile "
    "aggregate",
)
def q_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev2 = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    thr = ev2.agg(F.expr("(min(t_us) + max(t_us)) div 2").alias("mid_us"))
    u = (
        ev2.crossJoin(F.broadcast(thr))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(1000000 * count(CASE WHEN event_type = 'purchase'"
                " AND t_us < mid_us THEN 1 END))"
                " div count(CASE WHEN t_us < mid_us THEN 1 END)"
            ).alias("p"),
            F.expr(
                "CAST(coalesce(max(CASE WHEN event_type = 'purchase'"
                " AND t_us >= mid_us THEN 1 ELSE 0 END), 0) AS BIGINT)"
            ).alias("y"),
            F.expr("count(CASE WHEN t_us < mid_us THEN 1 END)").alias(
                "_npre"
            ),
        )
        .filter(F.col("_npre") > 0)
        .withColumn("treat", F.col("user_id") % 2 == 0)
    )
    rk = u.select(
        "treat",
        "y",
        F.row_number()
        .over(Window.orderBy(F.col("p").desc(), "user_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nu"),
    )
    dec = rk.select(
        F.expr("((rn - 1) * 10) div nu").alias("decile"), "treat", "y"
    )
    g = dec.groupBy("decile").agg(
        F.sum(F.when(F.col("treat"), 1).otherwise(0)).alias("nt_d"),
        F.sum(F.when(~F.col("treat"), 1).otherwise(0)).alias("nc_d"),
        F.sum(F.when(F.col("treat"), F.col("y")).otherwise(0)).alias(
            "yt_d"
        ),
        F.sum(F.when(~F.col("treat"), F.col("y")).otherwise(0)).alias(
            "yc_d"
        ),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "decile",
        F.sum("nt_d").over(w_cum).alias("n_t"),
        F.sum("nc_d").over(w_cum).alias("n_c"),
        F.sum("yt_d").over(w_cum).alias("y_t"),
        F.sum("yc_d").over(w_cum).alias("y_c"),
    )
    return cum.select(
        F.col("decile").cast("bigint").alias("decile"),
        F.col("n_t").cast("bigint").alias("n_treat_cum"),
        F.col("n_c").cast("bigint").alias("n_ctrl_cum"),
        F.col("y_t").cast("bigint").alias("y_treat_cum"),
        F.col("y_c").cast("bigint").alias("y_ctrl_cum"),
        F.expr(
            "CAST(CASE WHEN n_c > 0"
            " THEN 1000000 * y_t - (1000000 * y_c * n_t) div n_c"
            " END AS BIGINT)"
        ).alias("qini_micro"),
    )


@_register(
    "stratified_ate_quintiles",
    """
WITH ev2 AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
), thr AS (
  SELECT (min(t_us) + max(t_us)) // 2 AS mid_us FROM ev2
), u AS (
  SELECT user_id, user_id % 2 = 0 AS treat,
         (1000000 * count(*) FILTER (WHERE event_type = 'purchase'
                                     AND t_us < (SELECT mid_us FROM thr)))
           // count(*) FILTER (WHERE t_us < (SELECT mid_us FROM thr)) AS p,
         CAST(coalesce(max(CASE WHEN event_type = 'purchase'
                       AND t_us >= (SELECT mid_us FROM thr)
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS y
  FROM ev2 GROUP BY 1
  HAVING count(*) FILTER (WHERE t_us < (SELECT mid_us FROM thr)) > 0
), rk AS (
  SELECT treat, y, row_number() OVER (ORDER BY p DESC, user_id) AS rn,
         count(*) OVER () AS nu
  FROM u
), strat AS (
  SELECT ((rn - 1) * 5) // nu AS stratum, treat, y FROM rk
)
SELECT CAST(stratum AS BIGINT) AS stratum,
       CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS n_treat,
       CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n_ctrl,
       CAST(CASE WHEN count(*) FILTER (WHERE treat) > 0
            THEN (10000 * sum(y) FILTER (WHERE treat))
                 // count(*) FILTER (WHERE treat) END AS BIGINT)
         AS rate_treat_permyriad,
       CAST(CASE WHEN count(*) FILTER (WHERE NOT treat) > 0
            THEN (10000 * sum(y) FILTER (WHERE NOT treat))
                 // count(*) FILTER (WHERE NOT treat) END AS BIGINT)
         AS rate_ctrl_permyriad,
       CAST(CASE WHEN count(*) FILTER (WHERE treat) > 0
                  AND count(*) FILTER (WHERE NOT treat) > 0
            THEN (10000 * sum(y) FILTER (WHERE treat))
                 // count(*) FILTER (WHERE treat)
               - (10000 * sum(y) FILTER (WHERE NOT treat))
                 // count(*) FILTER (WHERE NOT treat) END AS BIGINT)
         AS ate_permyriad
FROM strat GROUP BY 1""",
    ref="extension: propensity-stratified ATE (quintile strata over the "
    "first-half propensity, per-stratum treated/control purchase-rate "
    "contrast in exact permyriad) -- the confounder-adjustment "
    "companion to diff_in_diff_value / cuped_adjusted_lift / "
    "qini_uplift_deciles",
)
def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev2 = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    thr = ev2.agg(F.expr("(min(t_us) + max(t_us)) div 2").alias("mid_us"))
    u = (
        ev2.crossJoin(F.broadcast(thr))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(1000000 * count(CASE WHEN event_type = 'purchase'"
                " AND t_us < mid_us THEN 1 END))"
                " div count(CASE WHEN t_us < mid_us THEN 1 END)"
            ).alias("p"),
            F.expr(
                "CAST(coalesce(max(CASE WHEN event_type = 'purchase'"
                " AND t_us >= mid_us THEN 1 ELSE 0 END), 0) AS BIGINT)"
            ).alias("y"),
            F.expr("count(CASE WHEN t_us < mid_us THEN 1 END)").alias(
                "_npre"
            ),
        )
        .filter(F.col("_npre") > 0)
        .withColumn("treat", F.col("user_id") % 2 == 0)
    )
    rk = u.select(
        "treat",
        "y",
        F.row_number()
        .over(Window.orderBy(F.col("p").desc(), "user_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nu"),
    )
    strat = rk.select(
        F.expr("((rn - 1) * 5) div nu").alias("stratum"), "treat", "y"
    )
    nt = "count(CASE WHEN treat THEN 1 END)"
    nc = "count(CASE WHEN NOT treat THEN 1 END)"
    yt = "sum(CASE WHEN treat THEN y END)"
    yc = "sum(CASE WHEN NOT treat THEN y END)"
    return strat.groupBy(F.col("stratum").cast("bigint").alias("stratum")).agg(
        F.expr(f"CAST({nt} AS BIGINT)").alias("n_treat"),
        F.expr(f"CAST({nc} AS BIGINT)").alias("n_ctrl"),
        F.expr(
            f"CAST(CASE WHEN {nt} > 0 THEN (10000 * {yt}) div {nt} END"
            " AS BIGINT)"
        ).alias("rate_treat_permyriad"),
        F.expr(
            f"CAST(CASE WHEN {nc} > 0 THEN (10000 * {yc}) div {nc} END"
            " AS BIGINT)"
        ).alias("rate_ctrl_permyriad"),
        F.expr(
            f"CAST(CASE WHEN {nt} > 0 AND {nc} > 0"
            f" THEN (10000 * {yt}) div {nt} - (10000 * {yc}) div {nc} END"
            " AS BIGINT)"
        ).alias("ate_permyriad"),
    )


@_register(
    "power_mde_audit",
    """
WITH v AS (
  SELECT user_id % 2 = 0 AS treat,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), mom AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS sx,
         CAST(sum(cents * cents) AS HUGEINT) AS sxx,
         CAST(count(*) FILTER (WHERE treat) AS HUGEINT) AS n_t,
         CAST(count(*) FILTER (WHERE NOT treat) AS HUGEINT) AS n_c
  FROM v
), stats AS (
  SELECT n_t, n_c,
         CASE WHEN n > 1 THEN (n * sxx - sx * sx) // (n * (n - 1))
              ELSE 0 END AS var_cents2
  FROM mom
), se AS (
  SELECT n_t, n_c, var_cents2,
         CASE WHEN n_t > 0 AND n_c > 0
              THEN (var_cents2 * (n_t + n_c)) // (n_t * n_c)
              ELSE 0 END AS se2_cents2
  FROM stats
)
SELECT CAST(n_t AS BIGINT) AS n_treat,
       CAST(n_c AS BIGINT) AS n_ctrl,
       CAST(var_cents2 AS BIGINT) AS pooled_var_cents2,
       -- z(0.975)+z(0.8) in micro = 1959964 + 841621; IEEE sqrt is
       -- correctly rounded, so sqrt of the same integer is the same
       -- double in both engines and the quantization is exact
       CAST((2801585 * CAST(floor(sqrt(CAST(se2_cents2 AS DOUBLE))
                                  * 1000000 + 0.5) AS BIGINT))
            // 1000000 AS BIGINT) AS mde_micro_cents
FROM se""",
    ref="extension: A/B power audit -- minimum detectable effect at "
    "alpha=0.05 / power=0.8 for the parity experiment from exact "
    "integer moments; the one float op (sqrt) is IEEE correctly "
    "rounded, hence cross-engine exact after quantization",
)
def q_power_mde_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    d38 = "decimal(38,0)"
    mom = v.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("cents").cast(d38).alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).cast(d38).alias("sxx"),
        F.count(F.when(F.col("treat"), 1)).cast(d38).alias("n_t"),
        F.count(F.when(~F.col("treat"), 1)).cast(d38).alias("n_c"),
    )
    stats = mom.select(
        "n_t",
        "n_c",
        F.expr(
            "CASE WHEN n > 1 THEN (n * sxx - sx * sx) div (n * (n - 1))"
            " ELSE 0 END"
        ).alias("var_cents2"),
    )
    se = stats.select(
        "n_t",
        "n_c",
        "var_cents2",
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0"
            " THEN (var_cents2 * (n_t + n_c)) div (n_t * n_c)"
            " ELSE 0 END"
        ).alias("se2_cents2"),
    )
    return se.select(
        F.col("n_t").cast("bigint").alias("n_treat"),
        F.col("n_c").cast("bigint").alias("n_ctrl"),
        F.col("var_cents2").cast("bigint").alias("pooled_var_cents2"),
        F.expr(
            "CAST((2801585 * CAST(floor(sqrt(CAST(se2_cents2 AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)) div 1000000 AS BIGINT)"
        ).alias("mde_micro_cents"),
    )


# =========================================================================
# round 5: cogrouped two-sample testing.
#
# ``cogroup_ks_by_type``: exact per-event-type two-sample
# Kolmogorov-Smirnov statistic between the even-user (treatment) and
# odd-user (control) value distributions, computed in a COGROUPED
# Pandas function -- the ``groupBy().cogroup().applyInPandas`` API
# surface (FlatMapCoGroupsInPandas), which no other registry query
# exercises.  Complements ``ks_value_drift`` (global, integer-binned,
# pure SQL): this one is per-type and exact at cent grain.
#
# Scale honesty: cogrouped applyInPandas materializes each key's
# groups in ONE task, so cogrouping raw events would break at scale.
# The job therefore cogroups the per-(type, cent) HISTOGRAM -- group
# size is bounded by the quantized value domain, not the row count --
# and the pandas side folds counts with arbitrary-precision Python
# ints (cum_a * n_b products overflow int64 at ~1e10 rows/side).
# D = max |cum_a*n_b - cum_b*n_a| over the merged support, reported in
# exact integer micro (D * 1e6 div (n_a*n_b)); the oracle replays the
# identical integer walk with DECIMAL(38) windows.
# =========================================================================


@_register(
    "cogroup_ks_by_type",
    """
WITH v AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         user_id % 2 AS g
  FROM events WHERE value IS NOT NULL
), h AS (
  SELECT event_type, cents,
         count(*) FILTER (WHERE g = 0) AS na_v,
         count(*) FILTER (WHERE g = 1) AS nb_v
  FROM v GROUP BY 1, 2
), c AS (
  SELECT event_type,
         CAST(sum(na_v) OVER (PARTITION BY event_type ORDER BY cents)
              AS DECIMAL(38,0)) AS ca,
         CAST(sum(nb_v) OVER (PARTITION BY event_type ORDER BY cents)
              AS DECIMAL(38,0)) AS cb,
         CAST(sum(na_v) OVER (PARTITION BY event_type)
              AS DECIMAL(38,0)) AS na,
         CAST(sum(nb_v) OVER (PARTITION BY event_type)
              AS DECIMAL(38,0)) AS nb
  FROM h
)
SELECT event_type, n_treat, n_ctrl,
       -- exact floor division on DECIMAL(38): subtract the remainder
       -- first (DuckDB's // on decimal operands ROUNDS -- wave-73)
       CAST((num - num % den) / den AS BIGINT) AS ks_micro
FROM (
  SELECT event_type,
         CAST(max(na) AS BIGINT) AS n_treat,
         CAST(max(nb) AS BIGINT) AS n_ctrl,
         max(abs(ca * nb - cb * na)) * 1000000 AS num,
         max(na) * max(nb) AS den
  FROM c
  GROUP BY 1
  HAVING max(na) > 0 AND max(nb) > 0
)""",
    ref="extension: cogrouped exact two-sample KS per event type "
    "(FlatMapCoGroupsInPandas over the domain-bounded value histogram; "
    "python-int exact products) -- per-cohort drift test beside the "
    "global binned ks_value_drift",
)
def q_cogroup_ks_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KS is defined over observed values: NULLs are excluded
    # explicitly on BOTH engines (a NULL cent would otherwise reach the
    # pandas fold as float64 NaN and crash int(); the oracle would
    # instead order it as a spurious CDF step)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
            F.expr("user_id % 2").alias("g"),
        )
    )
    from mapreduce6240project_spark.runtime import track

    # both cogroup sides read the histogram; uncached, the self-cogroup
    # would scan and aggregate events twice (tracked; released when
    # the caller's query run exits)
    hist = track(
        ev.groupBy("event_type", "cents").agg(
            F.count(F.when(F.col("g") == 0, 1)).alias("na_v"),
            F.count(F.when(F.col("g") == 1, 1)).alias("nb_v"),
        ).persist()
    )
    a = hist.select("event_type", "cents", F.col("na_v").alias("n"))
    # (cents + 0): both cogroup sides share hist's lineage, and
    # self-cogroup attribute deduplication prunes the RIGHT side's
    # duplicate `cents` attribute (the pandas fn then receives a
    # 2-column frame); the no-op arithmetic mints a fresh expression id
    b = hist.select(
        "event_type",
        (F.col("cents") + F.lit(0)).alias("cents"),
        F.col("nb_v").alias("n"),
    )

    def ks(key, left, right):  # noqa: ANN001 - pandas cogroup contract
        import pandas as pd

        counts: dict[int, list[int]] = {}
        for frame, side in ((left, 0), (right, 1)):
            # a key absent from one side arrives as an EMPTY frame
            # with no columns at all -- not an empty typed frame
            if "cents" not in frame.columns:
                continue
            for cents, n in zip(frame["cents"], frame["n"]):
                counts.setdefault(int(cents), [0, 0])[side] += int(n)
        na = sum(v[0] for v in counts.values())
        nb = sum(v[1] for v in counts.values())
        if na == 0 or nb == 0:
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype="object"),
                    "n_treat": pd.Series(dtype="int64"),
                    "n_ctrl": pd.Series(dtype="int64"),
                    "ks_micro": pd.Series(dtype="int64"),
                }
            )
        ca = cb = best = 0
        for cents in sorted(counts):
            ca += counts[cents][0]
            cb += counts[cents][1]
            d = abs(ca * nb - cb * na)  # python ints: exact past 2^63
            if d > best:
                best = d
        return pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "n_treat": na,
                    "n_ctrl": nb,
                    "ks_micro": best * 1_000_000 // (na * nb),
                }
            ]
        )

    return (
        a.groupBy("event_type")
        .cogroup(b.groupBy("event_type"))
        .applyInPandas(
            ks, "event_type string, n_treat long, n_ctrl long, ks_micro long"
        )
    )


# =========================================================================
# round 7: Wald sequential probability ratio test (SPRT) -- the
# always-monitoring counterpart to the fixed-horizon tests in this
# module (welch_t_value, permutation_test_value, power_mde_audit).
#
# ``sprt_boundary_day``: daily cumulative log-likelihood ratio for a
# Bernoulli rate test (H0 p=0.18 vs H1 p=0.22, alpha=0.05, beta=0.10)
# over the treatment arm (user_id % 2 = 1; trial = any event, success
# = purchase).  The LLR is a pure INTEGER expression -- cum_k*C1 +
# (cum_n-cum_k)*C2 with the two log terms micro-rounded ONCE in
# Python and embedded as the same literals in both engines -- so the
# whole monitoring curve (and the Wald boundary verdicts) is
# hash-exact with zero runtime IEEE.  NULL-timestamp events are
# excluded (no day to attribute the trial to; round-6 dirty-events
# contract).  Plan: one group-by to the bounded day dimension, one
# window cumsum over days -- at 100 TB the per-day table is tiny and
# the window runs on it, never on raw events.
# =========================================================================

#: micro-rounded SPRT constants (Python-computed once; ln(p1/p0),
#: ln((1-p1)/(1-p0)), ln((1-beta)/alpha), ln(beta/(1-alpha)))
_SPRT_C1 = 200671
_SPRT_C2 = -50010
_SPRT_UPPER = 2890372
_SPRT_LOWER = -2251292


@_register(
    "sprt_boundary_day",
    f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events
  WHERE ts IS NOT NULL AND user_id % 2 = 1
  GROUP BY 1
),
c AS (
  SELECT day,
         CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cum_n,
         CAST(sum(k) OVER (ORDER BY day) AS BIGINT) AS cum_k
  FROM d
)
SELECT day, cum_n, cum_k,
       CAST(cum_k * {_SPRT_C1} + (cum_n - cum_k) * ({_SPRT_C2}) AS BIGINT)
         AS llr_micro,
       CASE
         WHEN cum_k * {_SPRT_C1} + (cum_n - cum_k) * ({_SPRT_C2})
              >= {_SPRT_UPPER} THEN 'accept_h1'
         WHEN cum_k * {_SPRT_C1} + (cum_n - cum_k) * ({_SPRT_C2})
              <= {_SPRT_LOWER} THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM c""",
    ref="extension: Wald SPRT sequential monitoring (Bernoulli rate, "
    "integer LLR from micro-rounded log constants, Wald boundaries)",
)
def q_sprt_boundary_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") % 2 == 1)
    )
    d = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_k"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_k").cast("bigint").alias("k"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("k").over(w).alias("cum_k"),
    )
    llr = F.col("cum_k") * F.lit(_SPRT_C1) + (
        F.col("cum_n") - F.col("cum_k")
    ) * F.lit(_SPRT_C2)
    decision = (
        F.when(llr >= _SPRT_UPPER, "accept_h1")
        .when(llr <= _SPRT_LOWER, "accept_h0")
        .otherwise("continue")
    )
    return c.select(
        "day",
        "cum_n",
        "cum_k",
        llr.cast("bigint").alias("llr_micro"),
        decision.alias("decision"),
    )


@_register(
    "srm_audit",
    """
WITH u AS (
  SELECT CAST(ts AS DATE) AS day, user_id, user_id % 2 AS arm
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
d AS (
  SELECT day,
         CAST(count(DISTINCT CASE WHEN arm = 0 THEN user_id END)
              AS BIGINT) AS n_a,
         CAST(count(DISTINCT CASE WHEN arm = 1 THEN user_id END)
              AS BIGINT) AS n_b
  FROM u GROUP BY day
)
SELECT day, n_a, n_b,
       CAST(floor(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) * 1000000
                  / (n_a + n_b) + 0.5) AS BIGINT) AS chi2_micro,
       CAST(floor(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) * 1000000
                  / (n_a + n_b) + 0.5) > 3841459 AS INT) AS srm_flag
FROM d WHERE n_a + n_b > 0""",
    ref="extension: sample-ratio-mismatch audit (daily distinct users "
    "per 50/50 hash arm, one-df chi-square vs the 95% cutoff; the "
    "guardrail every experimentation platform runs before reading a "
    "metric)",
)
def q_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    u = ev.select(
        F.col("ts").cast("date").alias("day"),
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
    )
    d = u.groupBy("day").agg(
        F.count_distinct(
            F.when(F.col("arm") == 0, F.col("user_id"))
        ).alias("n_a"),
        F.count_distinct(
            F.when(F.col("arm") == 1, F.col("user_id"))
        ).alias("n_b"),
    )
    diff = F.col("n_a") - F.col("n_b")
    chi2 = F.floor(
        (diff * diff).cast("double")
        * 1000000
        / (F.col("n_a") + F.col("n_b"))
        + 0.5
    ).cast("bigint")
    return d.filter(F.col("n_a") + F.col("n_b") > 0).select(
        "day",
        "n_a",
        "n_b",
        chi2.alias("chi2_micro"),
        (chi2 > 3841459).cast("int").alias("srm_flag"),
    )


# =========================================================================
# wave 94: time-series structure -- dominant period + forecastability
#
# - ``acf_top_period``: dominant seasonal period of the daily event-value
#   series by raw autocovariance at lags 1..14.  Hash-exactness strategy:
#   every aggregate is integer (cents sums; integer-floor global mean;
#   bigint cross products), so Spark's partial-aggregation order cannot
#   perturb the result; the only ordering is a rank over already-exact
#   bigints.  A trig periodogram was rejected -- libm cos/sin last-ulp
#   drift between the JVM and DuckDB would sit UNDER a float sum, where
#   quantization cannot repair it.
# - ``mase_seasonal_naive``: forecast-evaluation op -- the lag-7
#   seasonal-naive forecast of daily order revenue scored by MASE
#   (scaled by the lag-1 naive denominator, Hyndman & Koehler 2006) and
#   sMAPE.  Absolute errors are exact integer cents; the two final
#   ratios are computed once on a single row; sMAPE's per-pair division
#   is micro-quantized BEFORE the sum so the aggregate is order-free.
#
# At 100 TB both are one (day) aggregate -- thousands of rows -- then
# constant-size lag joins; the series stage after the first groupBy is
# driver-scale regardless of input size.
# =========================================================================

_ACF_MAX_LAG = 14


@_register(
    "acf_top_period",
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
),
mn AS (SELECT min(d) AS d0 FROM daily),
idx AS (SELECT datediff('day', mn.d0, d) AS t, cents FROM daily, mn),
mu AS (SELECT sum(cents) // count(*) AS m FROM idx),
y AS (SELECT t, cents - mu.m AS yv FROM idx, mu),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
pairs AS (
  SELECT l.lag, a.yv * b.yv AS prod
  FROM y a JOIN lags l ON TRUE JOIN y b ON b.t = a.t + l.lag
),
agg AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(prod) AS BIGINT) AS acov_num
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs, acov_num,
       CAST(row_number() OVER (ORDER BY acov_num DESC, lag) AS BIGINT)
         AS rnk
FROM agg""",
    ref="extension: dominant-period detection via integer-exact "
    "autocovariance (lags 1..14) of the daily value series -- seasonal "
    "structure for the monitoring family, no trig in any aggregate",
)
def q_acf_top_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    mn = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff(F.col("d"), F.col("d0")).alias("t"), "cents"
    )
    mu = idx.agg(F.expr("sum(cents) div count(*)").alias("m"))
    y = idx.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("cents") - F.col("m")).alias("yv")
    )
    lagged = y.select(
        "t",
        "yv",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _ACF_MAX_LAG + 1)])
        ).alias("lag"),
    ).select((F.col("t") + F.col("lag")).alias("t"), "lag", F.col("yv").alias("ya"))
    agg = (
        lagged.join(y.select("t", F.col("yv").alias("yb")), "t")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ya") * F.col("yb")).alias("acov_num"),
        )
    )
    w = Window.orderBy(F.col("acov_num").desc(), "lag")
    return agg.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        "acov_num",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


@_register(
    "mase_seasonal_naive",
    """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
mn AS (SELECT min(d) AS d0 FROM daily),
idx AS (SELECT datediff('day', mn.d0, d) AS t, cents FROM daily, mn),
e7 AS (
  SELECT a.cents AS actual, b.cents AS fc,
         abs(a.cents - b.cents) AS ae,
         CAST(floor(2.0 * abs(a.cents - b.cents)
                    / (a.cents + b.cents) * 1000000 + 0.5) AS BIGINT)
           AS smape_micro
  FROM idx a JOIN idx b ON a.t = b.t + 7
),
e1 AS (
  SELECT abs(a.cents - b.cents) AS ae
  FROM idx a JOIN idx b ON a.t = b.t + 1
),
s7 AS (SELECT CAST(count(*) AS BIGINT) AS n7, CAST(sum(ae) AS BIGINT) AS sae7,
              CAST(sum(smape_micro) // count(*) AS BIGINT) AS smape_micro_mean
       FROM e7),
s1 AS (SELECT CAST(count(*) AS BIGINT) AS n1, CAST(sum(ae) AS BIGINT) AS sae1 FROM e1)
SELECT n7, sae7, n1, sae1, smape_micro_mean,
       round((sae7 * 1.0 / n7) / (sae1 * 1.0 / n1), 4) AS mase_q
FROM s7, s1""",
    ref="extension: seasonal-naive (lag-7) forecast evaluation on daily "
    "revenue -- MASE and order-free micro-quantized sMAPE; the classic "
    "baseline every forecasting pipeline must report",
)
def q_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = od.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    mn = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff(F.col("d"), F.col("d0")).alias("t"), "cents"
    )
    a = idx.alias("a")

    def _lag_join(k: int) -> DataFrame:
        b = idx.select(
            (F.col("t") + k).alias("t"), F.col("cents").alias("fc")
        ).alias("b")
        return a.join(b, "t").select(
            F.col("cents").alias("actual"), "fc"
        )

    p7 = _lag_join(7).select(
        F.abs(F.col("actual") - F.col("fc")).alias("ae"),
        F.floor(
            F.lit(2.0)
            * F.abs(F.col("actual") - F.col("fc"))
            / (F.col("actual") + F.col("fc"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("smape_micro"),
    )
    s7 = p7.agg(
        F.count(F.lit(1)).alias("n7"),
        F.sum("ae").alias("sae7"),
        F.expr("sum(smape_micro) div count(*)").alias("smape_micro_mean"),
    )
    s1 = (
        _lag_join(1)
        .select(F.abs(F.col("actual") - F.col("fc")).alias("ae"))
        .agg(F.count(F.lit(1)).alias("n1"), F.sum("ae").alias("sae1"))
    )
    return s7.crossJoin(F.broadcast(s1)).select(
        "n7",
        "sae7",
        "n1",
        "sae1",
        "smape_micro_mean",
        F.round(
            (F.col("sae7") * 1.0 / F.col("n7"))
            / (F.col("sae1") * 1.0 / F.col("n1")),
            4,
        ).alias("mase_q"),
    )


# =========================================================================
# wave 95: nonparametric effect size + instrumental-variable estimate
#
# - ``mann_whitney_effect``: Mann-Whitney U between purchase and click
#   event values with exact tie handling, plus the rank-biserial /
#   Cliff's-delta effect size.  Scalable shape: a VALUE HISTOGRAM first
#   (one hash aggregate -- the distinct-cents table is bounded by the
#   value range, not the row count), then the pid-parallel cumulative
#   sum helper for the "how many B below each A value" term; U is kept
#   in doubled units (2U) so tied values contribute exact integer
#   half-credits.  No global window, no per-row ranking.
# - ``iv_wald_estimate``: the Wald instrumental-variable ratio
#   (intent-to-treat effect / first-stage compliance) with user-id
#   parity as the instrument, any-purchase as treatment, and total
#   event value as outcome.  Algebra is cleared to one integer
#   numerator and one integer denominator (y1*u0 - y0*u1 over
#   d1*u0 - d0*u1), so the only float is the final micro-quantized
#   division.
# =========================================================================


@_register(
    "mann_whitney_effect",
    """
WITH base AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
hist AS (
  SELECT cents,
         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS na,
         CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS nb
  FROM base GROUP BY 1
),
cum AS (
  SELECT na, nb,
         sum(nb) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cwb
  FROM hist
),
agg AS (
  SELECT CAST(sum(na) AS BIGINT) AS n_a,
         CAST(sum(nb) AS BIGINT) AS n_b,
         CAST(sum(na * (2 * (cwb - nb) + nb)) AS BIGINT) AS u2_a
  FROM cum
)
SELECT n_a, n_b, u2_a,
       CAST(floor((u2_a - n_a * n_b) * 1000000.0 / (n_a * n_b) + 0.5)
            AS BIGINT) AS cliffs_delta_micro
FROM agg""",
    ref="extension: Mann-Whitney U with exact tie half-credits (2U "
    "integer units) + Cliff's delta -- the nonparametric effect size "
    "for experiment readouts; histogram-first, no global ranking",
)
def q_mann_whitney_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.ranking import stratum_order_stats

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    )
    hist = ev.groupBy(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("na"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("nb"),
    )
    cum = stratum_order_stats(
        hist, strata=[], order=["cents"], weight="nb"
    ).select("na", "nb", F.col("cw").alias("cwb"))
    agg = cum.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(
            F.col("na") * (2 * (F.col("cwb") - F.col("nb")) + F.col("nb"))
        ).alias("u2_a"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "u2_a",
        F.floor(
            (F.col("u2_a") - F.col("n_a") * F.col("n_b"))
            * 1000000.0
            / (F.col("n_a") * F.col("n_b"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cliffs_delta_micro"),
    )


@_register(
    "iv_wald_estimate",
    """
WITH u AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS z,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
),
agg AS (
  SELECT CAST(count(CASE WHEN z = 1 THEN 1 END) AS BIGINT) AS u1,
         CAST(count(CASE WHEN z = 0 THEN 1 END) AS BIGINT) AS u0,
         CAST(sum(CASE WHEN z = 1 THEN d END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN z = 0 THEN d END) AS BIGINT) AS d0,
         CAST(sum(CASE WHEN z = 1 THEN y END) AS BIGINT) AS y1,
         CAST(sum(CASE WHEN z = 0 THEN y END) AS BIGINT) AS y0
  FROM u
)
SELECT u1, u0, d1, d0, y1, y0,
       CASE WHEN d1 * u0 - d0 * u1 = 0 THEN NULL
            ELSE CAST(floor((y1 * u0 - y0 * u1) * 1000000.0
                            / (d1 * u0 - d0 * u1) + 0.5) AS BIGINT)
       END AS wald_cents_micro
FROM agg""",
    ref="extension: Wald IV / LATE estimate (instrument = user-id "
    "parity, treatment = any purchase, outcome = total value cents) -- "
    "cross-multiplied to one integer ratio, one quantized division",
)
def q_iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("d"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("y"),
    ).select((F.col("user_id") % 2).alias("z"), "d", "y")
    agg = u.agg(
        F.count(F.when(F.col("z") == 1, 1)).alias("u1"),
        F.count(F.when(F.col("z") == 0, 1)).alias("u0"),
        F.sum(F.when(F.col("z") == 1, F.col("d"))).alias("d1"),
        F.sum(F.when(F.col("z") == 0, F.col("d"))).alias("d0"),
        F.sum(F.when(F.col("z") == 1, F.col("y"))).alias("y1"),
        F.sum(F.when(F.col("z") == 0, F.col("y"))).alias("y0"),
    )
    den = F.col("d1") * F.col("u0") - F.col("d0") * F.col("u1")
    num = F.col("y1") * F.col("u0") - F.col("y0") * F.col("u1")
    return agg.select(
        "u1",
        "u0",
        "d1",
        "d0",
        "y1",
        "y0",
        F.when(den == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.floor(num * 1000000.0 / den + F.lit(0.5)).cast("bigint")
        )
        .alias("wald_cents_micro"),
    )


# =========================================================================
# wave 96: inequality decomposition + STL-lite seasonal split
#
# - ``theil_index_nations``: Theil-T inequality of customer revenue
#   decomposed by nation -- the additive between/within split Gini
#   cannot give (``gini_customer_revenue`` measures only the total).
#   Per-customer entropy terms are nano-quantized BEFORE the per-nation
#   sum (order-free); group/global masses are exact integer cents.
# - ``seasonal_decompose_daily``: classical additive decomposition of
#   the daily value series -- centered 7-day moving-average trend
#   (computed as an offset self-join, NOT a global window), day-of-week
#   seasonal means over the detrended series, residual remainder.
#   day-of-week = t % 7 from the integer day index, sidestepping the
#   engines' different dayofweek() origins.
#
# 100 TB: theil is two hash aggregates + one broadcast-scalar join at
# customer grain; the decomposition runs entirely on the per-day
# aggregate (hundreds of rows).
# =========================================================================


@_register(
    "theil_index_nations",
    """
WITH cust AS (
  SELECT c.c_custkey, n.n_name,
         sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
  HAVING sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) > 0
),
gtot AS (SELECT CAST(sum(x) AS BIGINT) AS xx,
                CAST(count(*) AS BIGINT) AS nn FROM cust),
grp AS (SELECT n_name, CAST(sum(x) AS BIGINT) AS xg,
               CAST(count(*) AS BIGINT) AS ng FROM cust GROUP BY 1),
terms AS (
  SELECT c.n_name,
         CAST(floor((c.x * 1.0 / g.xg)
                    * ln((c.x * 1.0) / (g.xg * 1.0 / g.ng))
                    * 1000000000 + 0.5) AS BIGINT) AS tw_nano
  FROM cust c JOIN grp g ON g.n_name = c.n_name
),
within AS (SELECT n_name, CAST(sum(tw_nano) AS BIGINT) AS theil_within_nano
           FROM terms GROUP BY 1)
SELECT g.n_name, g.ng AS n_cust, g.xg AS revenue_cents,
       w.theil_within_nano,
       CAST(floor((g.xg * 1.0 / gl.xx)
                  * ln((g.xg * 1.0 / gl.xx) / (g.ng * 1.0 / gl.nn))
                  * 1000000000 + 0.5) AS BIGINT) AS between_term_nano
FROM grp g JOIN within w ON w.n_name = g.n_name CROSS JOIN gtot gl""",
    ref="extension: Theil-T inequality with between/within-nation "
    "decomposition over customer revenue -- additive entropy split, "
    "order-free nano-quantized customer terms",
)
def q_theil_index_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cust = (
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("x")
        )
        # zero-revenue customers carry no entropy mass (x ln x -> 0);
        # excluding them is exact and keeps ln finite on dirty inputs
        .filter(F.col("x") > 0)
    )
    glob = cust.agg(
        F.sum("x").alias("xx"), F.count(F.lit(1)).alias("nn")
    )
    grp = cust.groupBy("n_name").agg(
        F.sum("x").alias("xg"), F.count(F.lit(1)).alias("ng")
    )
    terms = cust.join(F.broadcast(grp), "n_name").select(
        "n_name",
        F.floor(
            (F.col("x") * 1.0 / F.col("xg"))
            * F.log(
                (F.col("x") * 1.0) / (F.col("xg") * 1.0 / F.col("ng"))
            )
            * 1000000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("tw_nano"),
    )
    within = terms.groupBy("n_name").agg(
        F.sum("tw_nano").cast("bigint").alias("theil_within_nano")
    )
    return (
        grp.join(within, "n_name")
        .crossJoin(F.broadcast(glob))
        .select(
            "n_name",
            F.col("ng").alias("n_cust"),
            F.col("xg").alias("revenue_cents"),
            "theil_within_nano",
            F.floor(
                (F.col("xg") * 1.0 / F.col("xx"))
                * F.log(
                    (F.col("xg") * 1.0 / F.col("xx"))
                    / (F.col("ng") * 1.0 / F.col("nn"))
                )
                * 1000000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("between_term_nano"),
        )
    )


@_register(
    "seasonal_decompose_daily",
    """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
),
mn AS (SELECT min(d) AS d0 FROM daily),
idx AS (SELECT datediff('day', mn.d0, d) AS t, cents FROM daily, mn),
off AS (SELECT unnest(generate_series(-3, 3)) AS o),
ma AS (
  SELECT a.t, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(b.cents) AS BIGINT) AS s
  FROM idx a JOIN off ON TRUE JOIN idx b ON b.t = a.t + off.o
  GROUP BY 1
),
det AS (
  SELECT idx.t, idx.cents, ma.s // 7 AS trend,
         idx.cents - ma.s // 7 AS dt
  FROM idx JOIN ma ON ma.t = idx.t AND ma.k = 7
),
dow AS (
  SELECT t % 7 AS w, CAST(sum(dt) AS BIGINT) AS sw,
         CAST(count(*) AS BIGINT) AS cw
  FROM det GROUP BY 1
)
SELECT det.t, CAST(det.cents AS BIGINT) AS cents,
       CAST(det.trend AS BIGINT) AS trend_cents,
       CAST(sw // cw AS BIGINT) AS seasonal_cents,
       CAST(det.dt - sw // cw AS BIGINT) AS resid_cents
FROM det JOIN dow ON dow.w = det.t % 7""",
    ref="extension: additive trend/seasonal/residual decomposition of "
    "the daily value series (centered 7-day MA trend via offset "
    "self-join, day-of-week seasonal means) -- all-integer, no global "
    "window",
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    mn = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff(F.col("d"), F.col("d0")).alias("t"), "cents"
    )
    offs = F.explode(F.array(*[F.lit(o) for o in range(-3, 4)])).alias("o")
    ma = (
        idx.select("t", offs)
        .select((F.col("t") + F.col("o")).alias("bt"), F.col("t"))
        .join(
            idx.select(F.col("t").alias("bt"), F.col("cents").alias("bc")),
            "bt",
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("k"), F.sum("bc").alias("s"))
        .filter(F.col("k") == 7)
    )
    det = idx.join(ma, "t").select(
        "t",
        "cents",
        F.expr("s div 7").alias("trend"),
        (F.col("cents") - F.expr("s div 7")).alias("dt"),
    )
    dow = det.groupBy((F.col("t") % 7).alias("w")).agg(
        F.sum("dt").alias("sw"), F.count(F.lit(1)).alias("cw")
    )
    return det.join(
        F.broadcast(dow), det.t % 7 == dow.w
    ).select(
        "t",
        "cents",
        F.col("trend").cast("bigint").alias("trend_cents"),
        F.expr("sw div cw").cast("bigint").alias("seasonal_cents"),
        (F.col("dt") - F.expr("sw div cw")).cast("bigint").alias(
            "resid_cents"
        ),
    )


# =========================================================================
# wave 97: quantile treatment effects
#
# ``qte_deciles``: the per-decile gap between the treated (purchase)
# and control (click) event-value distributions -- where in the
# distribution an effect lives, which the mean gap (welch_t_value,
# permutation_test_value) cannot show.  Quantiles are the exact lower
# quantile over a distinct-cents HISTOGRAM per arm (q_d = min cents
# with cum*10 >= d*total), so everything is integer and order-free;
# the per-arm cumulative ranks come from the pid-parallel
# stratum_order_stats helper, not a per-arm window funnel.  100 TB:
# one histogram aggregate per arm + a |values| x 9 bounded grid.
# =========================================================================


@_register(
    "qte_deciles",
    """
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
hist AS (
  SELECT arm, cents, CAST(count(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2
),
cum AS (
  SELECT arm, cents,
         sum(cnt) OVER (PARTITION BY arm ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(cnt) OVER (PARTITION BY arm) AS tw
  FROM hist
),
ds AS (SELECT unnest(generate_series(1, 9)) AS decile),
q AS (
  SELECT ds.decile, cum.arm, min(cum.cents) AS qv
  FROM cum JOIN ds ON cum.cw * 10 >= ds.decile * cum.tw
  GROUP BY 1, 2
)
SELECT CAST(t.decile AS BIGINT) AS decile,
       CAST(t.qv AS BIGINT) AS q_treat_cents,
       CAST(c.qv AS BIGINT) AS q_ctrl_cents,
       CAST(t.qv - c.qv AS BIGINT) AS qte_cents
FROM q t JOIN q c ON c.decile = t.decile AND c.arm = 0
WHERE t.arm = 1""",
    ref="extension: quantile treatment effects at deciles (purchase vs "
    "click values) -- exact integer lower quantiles over per-arm "
    "histograms; locates the effect in the distribution",
)
def q_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.ranking import stratum_order_stats

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    )
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("arm"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
    )
    hist = base.groupBy("arm", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = stratum_order_stats(
        hist, strata=["arm"], order=["cents"], weight="cnt"
    ).select("arm", "cents", "cw", "tw")
    ds = F.explode(F.array(*[F.lit(d) for d in range(1, 10)])).alias(
        "decile"
    )
    q = (
        cum.select("arm", "cents", "cw", "tw", ds)
        .filter(F.col("cw") * 10 >= F.col("decile") * F.col("tw"))
        .groupBy("decile", "arm")
        .agg(F.min("cents").alias("qv"))
    )
    t = q.filter(F.col("arm") == 1).select(
        "decile", F.col("qv").alias("q_treat_cents")
    )
    c = q.filter(F.col("arm") == 0).select(
        "decile", F.col("qv").alias("q_ctrl_cents")
    )
    return t.join(c, "decile").select(
        F.col("decile").cast("bigint").alias("decile"),
        "q_treat_cents",
        "q_ctrl_cents",
        (F.col("q_treat_cents") - F.col("q_ctrl_cents"))
        .cast("bigint")
        .alias("qte_cents"),
    )


# =========================================================================
# wave 98: exact 1-D optimal transport
#
# ``wasserstein_value_gap``: the Wasserstein-1 (earth-mover) distance
# between the purchase and click value distributions -- the drift/shift
# metric that, unlike KS (sup of CDF gap), weights HOW FAR mass must
# move, and unlike PSI, needs no binning choice.  In 1-D it is the
# integral of |F_A - F_B|, computed EXACTLY over the merged distinct-
# cents grid: between consecutive values the CDF gap is constant, so
# W1 = sum |cwa*tb - cwb*ta| * (next_v - v) / (ta*tb) with every factor
# an exact integer; terms are summed as integers and divided once.
# The cumulative counts ride the same pid-parallel order-stats helper
# as the other histogram statistics -- no global window.
# =========================================================================


@_register(
    "wasserstein_value_gap",
    """
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
hist AS (
  SELECT cents,
         CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS ca,
         CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS cb
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
               CAST(sum(cb) AS BIGINT) AS tb FROM hist),
cum AS (
  SELECT cents,
         sum(ca) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cwa,
         sum(cb) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cwb,
         lead(cents) OVER (ORDER BY cents) AS nxt
  FROM hist
),
seg AS (
  SELECT CAST(abs(cwa * tot.tb - cwb * tot.ta) * (nxt - cents) AS BIGINT)
           AS num
  FROM cum CROSS JOIN tot WHERE nxt IS NOT NULL
)
SELECT tot.ta AS n_treat, tot.tb AS n_ctrl,
       CAST(sum(seg.num) AS BIGINT) AS w1_num,
       CAST(sum(seg.num) // (tot.ta * tot.tb) AS BIGINT) AS w1_cents
FROM seg CROSS JOIN tot GROUP BY tot.ta, tot.tb""",
    ref="extension: exact 1-D Wasserstein-1 distance between the "
    "purchase and click value distributions -- integer CDF-gap "
    "segments over the merged cents grid, one truncating division",
)
def q_wasserstein_value_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.ranking import stratum_order_stats

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    )
    hist = ev.groupBy(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        )
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("ca"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("cb"),
    )
    tot = hist.agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    # pid-parallel cumulative counts; the within-grid lead() needs the
    # next DISTINCT value, recovered by a self-join on rank+1 (the
    # helper's rn is dense over distinct cents rows)
    cum = stratum_order_stats(
        hist, strata=[], order=["cents"], weight="ca"
    ).select("cents", "cb", F.col("cw").alias("cwa"), F.col("rn"))
    cumb = stratum_order_stats(
        hist, strata=[], order=["cents"], weight="cb"
    ).select(F.col("cents").alias("c2"), F.col("cw").alias("cwb"))
    cum = cum.join(cumb, cum.cents == cumb.c2).drop("c2")
    nxt = cum.select(
        (F.col("rn") - 1).alias("rn"), F.col("cents").alias("nxt")
    )
    seg = (
        cum.join(nxt, "rn")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.abs(
                    F.col("cwa") * F.col("tb") - F.col("cwb") * F.col("ta")
                )
                * (F.col("nxt") - F.col("cents"))
            ).alias("num")
        )
    )
    return (
        seg.agg(F.sum("num").alias("w1_num"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ta").alias("n_treat"),
            F.col("tb").alias("n_ctrl"),
            F.col("w1_num").cast("bigint").alias("w1_num"),
            F.expr("w1_num div (ta * tb)").cast("bigint").alias("w1_cents"),
        )
    )


# =========================================================================
# wave 98: multiple-testing control
#
# ``bh_fdr_type_gaps``: one permutation test PER EVENT TYPE (is the
# weekend-vs-weekday mean value gap real?), then Benjamini-Hochberg
# across the family of types at q = 0.25 -- the step every dashboard
# that fires K tests at once must apply before alerting.  The
# permutation machinery is the replayable LCG of
# ``permutation_test_value`` (20 label shuffles keyed on user_id); the
# p-value is integer (extreme count + 1 over 21, the add-one
# permutation convention), and the BH threshold comparison
# p_(i) <= q*i/K is evaluated by integer cross-multiplication
# (p_num * K_total * 4 <= i * p_den), so the whole procedure is exact.
# The rank over the per-type p-values is a |types|-row sort.
# =========================================================================


@_register(
    "bh_fdr_type_gaps",
    f"""
WITH base AS (
  SELECT event_type, user_id,
         CASE WHEN CAST(dayofweek(ts) AS INT) IN (0, 6) THEN 1 ELSE 0 END
           AS wkend,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
),
obs AS (
  SELECT event_type,
         abs(COALESCE(sum(CASE WHEN wkend = 1 THEN cents END)
               // NULLIF(count(CASE WHEN wkend = 1 THEN 1 END), 0), 0)
             - COALESCE(sum(CASE WHEN wkend = 0 THEN cents END)
               // NULLIF(count(CASE WHEN wkend = 0 THEN 1 END), 0), 0))
           AS gap
  FROM base GROUP BY 1
),
perms AS (
  SELECT b.event_type, p.perm,
         CAST({_PERM.format(k="p.perm")} AS BIGINT) AS grp,
         b.cents
  FROM base b
  CROSS JOIN (SELECT unnest(generate_series(1, {_K_PERMS})) AS perm) p
),
pgaps AS (
  SELECT event_type, perm,
         abs(COALESCE(sum(CASE WHEN grp = 1 THEN cents END)
               // NULLIF(count(CASE WHEN grp = 1 THEN 1 END), 0), 0)
             - COALESCE(sum(CASE WHEN grp = 0 THEN cents END)
               // NULLIF(count(CASE WHEN grp = 0 THEN 1 END), 0), 0))
           AS gap
  FROM perms GROUP BY 1, 2
),
pv AS (
  SELECT o.event_type,
         CAST(1 + count(CASE WHEN pg.gap >= o.gap THEN 1 END) AS BIGINT)
           AS p_num,
         CAST({_K_PERMS} + 1 AS BIGINT) AS p_den,
         CAST(o.gap AS BIGINT) AS obs_gap_cents
  FROM obs o JOIN pgaps pg ON pg.event_type = o.event_type
  GROUP BY o.event_type, o.gap
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY p_num, event_type) AS i,
         count(*) OVER () AS kk
  FROM pv
),
flag AS (
  SELECT *, CASE WHEN p_num * kk * 4 <= i * p_den THEN 1 ELSE 0 END AS ok
  FROM rk
),
thresh AS (SELECT COALESCE(max(CASE WHEN ok = 1 THEN i END), 0) AS imax
           FROM flag)
SELECT f.event_type, f.obs_gap_cents, f.p_num, f.p_den,
       CAST(f.i AS BIGINT) AS rank_i,
       CAST(CASE WHEN f.i <= t.imax THEN 1 ELSE 0 END AS BIGINT)
         AS rejected
FROM flag f CROSS JOIN thresh t""",
    ref="extension: per-type permutation tests + Benjamini-Hochberg "
    "step-up at q=0.25 -- replayable LCG shuffles, add-one integer "
    "p-values, cross-multiplied threshold; exact multiple-testing "
    "control",
)
def q_bh_fdr_type_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    base = ev.select(
        "event_type",
        "user_id",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wkend"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
    )

    def _gap(df, grp_col):
        return df.groupBy("event_type", *(
            ["perm"] if "perm" in df.columns else []
        )).agg(
            F.abs(
                F.coalesce(
                    F.expr(
                        f"sum(CASE WHEN {grp_col} = 1 THEN cents END)"
                        f" div nullif(count(CASE WHEN {grp_col} = 1"
                        " THEN 1 END), 0)"
                    ),
                    F.lit(0),
                )
                - F.coalesce(
                    F.expr(
                        f"sum(CASE WHEN {grp_col} = 0 THEN cents END)"
                        f" div nullif(count(CASE WHEN {grp_col} = 0"
                        " THEN 1 END), 0)"
                    ),
                    F.lit(0),
                )
            ).alias("gap")
        )

    obs = _gap(base, "wkend")
    perms = base.select(
        "event_type",
        "cents",
        "user_id",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _K_PERMS + 1)])
        ).alias("perm"),
    ).withColumn("grp", F.expr(_PERM.format(k="perm")).cast("bigint"))
    pgaps = _gap(perms, "grp")
    pv = (
        pgaps.join(
            obs.select("event_type", F.col("gap").alias("obs_gap")),
            "event_type",
        )
        .groupBy("event_type", "obs_gap")
        .agg(
            (
                1 + F.count(F.when(F.col("gap") >= F.col("obs_gap"), 1))
            )
            .cast("bigint")
            .alias("p_num")
        )
        .select(
            "event_type",
            "p_num",
            F.lit(_K_PERMS + 1).cast("bigint").alias("p_den"),
            F.col("obs_gap").alias("obs_gap_cents"),
        )
    )
    w = Window.orderBy("p_num", "event_type")
    rk = pv.select(
        "*",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("kk"),
    )
    flag = rk.withColumn(
        "ok",
        F.when(
            F.col("p_num") * F.col("kk") * 4 <= F.col("i") * F.col("p_den"),
            1,
        ).otherwise(0),
    )
    thresh = flag.agg(
        F.coalesce(
            F.max(F.when(F.col("ok") == 1, F.col("i"))), F.lit(0)
        ).alias("imax")
    )
    return flag.crossJoin(F.broadcast(thresh)).select(
        "event_type",
        "obs_gap_cents",
        "p_num",
        "p_den",
        F.col("i").cast("bigint").alias("rank_i"),
        F.when(F.col("i") <= F.col("imax"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    )


# =========================================================================
# wave 104: Spearman rank correlation (tie-corrected)
#
# ``spearman_discount_qty``: the rank-based complement to the Pearson
# ``corr_by_returnflag`` -- monotone association between discount and
# quantity per returnflag, robust to the metric scale.  Ties get
# AVERAGE ranks, carried as integer DOUBLE-ranks (2*rank is always an
# integer: dr = 2*#less + #eq + 1), so every moment sum is an exact
# integer in DECIMAL(38,0) on both engines (no float under any sum;
# overflow-safe past int64 at large n).  The single final op per group
# row is num / sqrt(varx*vary) on doubles converted from those exact
# integers -- IEEE-identical cross-engine, micro-quantized half-up.
# 100 TB: two value-domain histograms (11 discounts x 50 quantities
# per flag), one broadcast rank join each, one hash aggregate.
# =========================================================================


@_register(
    "spearman_discount_qty",
    """
WITH base AS (
  SELECT l_returnflag AS rf,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
         CAST(floor(l_quantity) AS BIGINT) AS q
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_discount IS NOT NULL
    AND l_quantity IS NOT NULL
),
hd AS (
  SELECT rf, d, count(*) AS c,
         2 * (sum(count(*)) OVER (PARTITION BY rf ORDER BY d
              ROWS UNBOUNDED PRECEDING) - count(*)) + count(*) + 1 AS dr
  FROM base GROUP BY rf, d
),
hq AS (
  SELECT rf, q, count(*) AS c,
         2 * (sum(count(*)) OVER (PARTITION BY rf ORDER BY q
              ROWS UNBOUNDED PRECEDING) - count(*)) + count(*) + 1 AS dr
  FROM base GROUP BY rf, q
),
rk AS (
  SELECT b.rf, CAST(hd.dr AS DECIMAL(38,0)) AS x,
         CAST(hq.dr AS DECIMAL(38,0)) AS y
  FROM base b
  JOIN hd ON hd.rf = b.rf AND hd.d = b.d
  JOIN hq ON hq.rf = b.rf AND hq.q = b.q
),
mom AS (
  SELECT rf, CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM rk GROUP BY rf
)
SELECT rf AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
       CAST(CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN 0
            ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1000000 + 0.5) END AS BIGINT) AS spearman_micro
FROM mom""",
    ref="extension: tie-corrected Spearman rank correlation per "
    "returnflag -- integer double-ranks from value-domain histograms, "
    "DECIMAL(38,0) moment sums, one IEEE sqrt/division per group row",
)
def q_spearman_discount_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    base = li.select(
        F.col("l_returnflag").alias("rf"),
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias("d"),
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("q"),
    )

    def ranks(col: str) -> DataFrame:
        w = (
            Window.partitionBy("rf")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        h = base.groupBy("rf", col).agg(F.count(F.lit(1)).alias("c"))
        return h.select(
            "rf",
            col,
            (
                2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1
            ).alias(f"dr_{col}"),
        )

    rk = (
        base.join(ranks("d"), ["rf", "d"])
        .join(ranks("q"), ["rf", "q"])
        .select(
            "rf",
            F.col("dr_d").cast("decimal(38,0)").alias("x"),
            F.col("dr_q").cast("decimal(38,0)").alias("y"),
        )
    )
    mom = rk.groupBy("rf").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return mom.select(
        F.col("rf").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0"
            " THEN 0 ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
            " * 1000000 + 0.5) END AS BIGINT)"
        ).alias("spearman_micro"),
    )


# =========================================================================
# wave 104: Ljung-Box white-noise test over the daily value series
#
# ``ljung_box_daily``: Q = n(n+2) * sum_{k=1..10} rho_k^2 / (n-k) --
# the standard portmanteau test that a monitoring series has NO
# remaining autocorrelation (the residual check every forecast
# pipeline should run after mase_seasonal_naive).  Exactness follows
# the acf_top_period doctrine: autocovariance numerators are exact
# bigint products of integer-centered cents; rho_k is micro-quantized
# in ONE double division per lag row (IEEE-identical cross-engine);
# everything after is integer algebra, so the statistic -- and the
# chi2(10)-based rejection verdict -- hash exactly.  100 TB: one day
# aggregate, then constant-size lag joins.
# =========================================================================

_LB_LAGS = 10
#: chi-square 0.95 quantile, 10 dof, in micro units
_LB_CRIT_MICRO = 18_307_038


@_register(
    "ljung_box_daily",
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1
),
mn AS (SELECT min(d) AS d0 FROM daily),
idx AS (SELECT datediff('day', mn.d0, d) AS t, cents FROM daily, mn),
mu AS (SELECT sum(cents) // count(*) AS m FROM idx),
y AS (SELECT t, cents - mu.m AS yv FROM idx, mu),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM y),
a0 AS (SELECT CAST(sum(yv * yv) AS BIGINT) AS acov0 FROM y),
lags AS (SELECT unnest(generate_series(1, {_LB_LAGS})) AS lag),
ak AS (
  SELECT l.lag, CAST(sum(a.yv * b.yv) AS BIGINT) AS acov
  FROM y a JOIN lags l ON TRUE JOIN y b ON b.t = a.t + l.lag
  GROUP BY 1
),
rho AS (
  SELECT ak.lag,
         CAST(floor(CAST(ak.acov AS DOUBLE) / CAST(a0.acov0 AS DOUBLE)
              * 1000000 + 0.5) AS BIGINT) AS rho_micro
  FROM ak CROSS JOIN a0
),
s AS (
  -- lag < n keeps the divisor provably positive: n counts DISTINCT
  -- days while t is datediff-indexed, so a gapped series can have
  -- lag pairs even when n - lag <= 0 -- a zero divisor NULLs the
  -- whole sum (silent NULL output) and a negative one flips the
  -- term's sign; both are statistically meaningless for the Q sum
  SELECT CAST(coalesce(sum(rho_micro * rho_micro // (nn.n - rho.lag)), 0)
              AS BIGINT) AS s_int
  FROM rho CROSS JOIN nn WHERE rho.lag < nn.n
)
SELECT nn.n AS n_days,
       CAST(nn.n * (nn.n + 2) * s.s_int // 1000000 AS BIGINT) AS q_micro,
       nn.n * (nn.n + 2) * s.s_int // 1000000 > {_LB_CRIT_MICRO}
         AS whitenoise_rejected
FROM nn CROSS JOIN s""",
    ref="extension: Ljung-Box portmanteau test (lags 1..10) on the "
    "daily value series -- integer-exact autocovariances, one "
    "micro-quantized rho per lag, chi2(10) rejection verdict",
)
def q_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    mn = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff(F.col("d"), F.col("d0")).alias("t"), "cents"
    )
    mu = idx.agg(F.expr("sum(cents) div count(*)").alias("m"))
    # y (one row per day) feeds nn, a0, the lag explode AND the lag
    # join: pin it so a cold plan aggregates events once, not four
    # times (30 cold exchanges in the r8 PLANPROFILE)
    from mapreduce6240project_spark.runtime import track

    y = track(
        idx.crossJoin(F.broadcast(mu)).select(
            "t", (F.col("cents") - F.col("m")).alias("yv")
        ).persist()
    )
    nn = y.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a0 = y.agg(F.sum(F.col("yv") * F.col("yv")).cast("bigint").alias("acov0"))
    lagged = y.select(
        "t",
        "yv",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _LB_LAGS + 1)])
        ).alias("lag"),
    ).select(
        (F.col("t") + F.col("lag")).alias("t"), "lag", F.col("yv").alias("ya")
    )
    ak = (
        lagged.join(y.select("t", F.col("yv").alias("yb")), "t")
        .groupBy("lag")
        .agg(F.sum(F.col("ya") * F.col("yb")).cast("bigint").alias("acov"))
    )
    rho = ak.crossJoin(F.broadcast(a0)).select(
        "lag",
        F.floor(
            F.col("acov").cast("double") / F.col("acov0").cast("double")
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rho_micro"),
    )
    # lag < n guards the divisor (gapped day series: lag pairs can
    # exist at n - lag <= 0 -- a zero divisor NULLs the sum, a
    # negative one flips the term's sign; see the oracle CTE comment)
    s = (
        rho.crossJoin(F.broadcast(nn))
        .filter(F.col("lag") < F.col("n"))
        .agg(
            F.coalesce(
                F.sum(F.expr("rho_micro * rho_micro div (n - lag)")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("s_int")
        )
    )
    return (
        nn.crossJoin(F.broadcast(s))
        .select(
            F.col("n").alias("n_days"),
            F.expr("CAST(n * (n + 2) * s_int div 1000000 AS BIGINT)").alias(
                "q_micro"
            ),
            F.expr(
                f"n * (n + 2) * s_int div 1000000 > {_LB_CRIT_MICRO}"
            ).alias("whitenoise_rejected"),
        )
    )


# =========================================================================
# wave 104 (cont.): Brown-Forsythe variance homogeneity
#
# ``brown_forsythe_types``: do event types have EQUAL value spread?
# welch_t_value tests means and value_overdispersion tests a Poisson
# ratio; nothing tested variance homogeneity -- the assumption ANOVA
# and pooled tests silently make.  Brown-Forsythe = one-way ANOVA on
# absolute deviations from the GROUP MEDIAN (robust Levene variant).
# Group medians are exact order statistics (position
# ceil((n+1)/2)) from the distinct-cents histogram; per-group mean deviations are quantized by INTEGER
# division (s1 * 1e6 div n -- replayable exactly); the sums of squares
# are exact DECIMAL(38) integers; the F ratio is the ONE float op
# (acf/spearman convention -- Spark's integer `div` wraps through long
# on >int64 decimals, so the final division runs in IEEE doubles
# converted identically on both engines).  100 TB: a (type x cents)
# histogram, two hash aggregates, |types|-row algebra.
# =========================================================================


@_register(
    "brown_forsythe_types",
    """
WITH base AS (
  SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
hist AS (SELECT g, c, count(*) AS cnt FROM base GROUP BY g, c),
med AS (
  SELECT g, min(c) AS med_c FROM (
    SELECT g, c,
           sum(cnt) OVER (PARTITION BY g ORDER BY c
                          ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER (PARTITION BY g) AS n
    FROM hist
  ) WHERE cum * 2 >= n + 1 GROUP BY g
),
z AS (
  SELECT b.g, abs(b.c - med.med_c) AS z
  FROM base b JOIN med ON med.g = b.g
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(z) AS DECIMAL(38,0)) AS s1,
         CAST(sum(z * z) AS DECIMAL(38,0)) AS s2,
         CAST(sum(z) * 1000000 // count(*) AS BIGINT) AS zbar_micro
  FROM z GROUP BY g
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(s1) * 1000000 // sum(n) AS BIGINT) AS gbar_micro
  FROM grp
),
parts AS (
  SELECT CAST(sum(CAST(n AS DECIMAL(38,0))
                  * CAST(zbar_micro - tot.gbar_micro AS DECIMAL(38,0))
                  * CAST(zbar_micro - tot.gbar_micro AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS ssb,
         CAST(sum(s2 * CAST(1000000000000 AS DECIMAL(38,0))
                  - 2 * CAST(zbar_micro AS DECIMAL(38,0)) * s1 * 1000000
                  + CAST(n AS DECIMAL(38,0))
                    * CAST(zbar_micro AS DECIMAL(38,0))
                    * CAST(zbar_micro AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS ssw
  FROM grp CROSS JOIN tot
)
SELECT tot.nn AS n_total, tot.k AS k_groups,
       CAST(CASE WHEN parts.ssw <= 0 OR tot.nn <= tot.k THEN 0
            ELSE floor(CAST(tot.nn - tot.k AS DOUBLE)
                       * CAST(parts.ssb AS DOUBLE)
                       / (CAST(tot.k - 1 AS DOUBLE)
                          * CAST(parts.ssw AS DOUBLE))
                       * 1000000 + 0.5) END AS BIGINT) AS f_micro
FROM tot CROSS JOIN parts""",
    ref="extension: Brown-Forsythe (median-based Levene) variance-"
    "homogeneity F across event types -- exact histogram order-"
    "statistic medians (position ceil((n+1)/2)), "
    "integer-division quantized means, DECIMAL(38) sums of squares, "
    "one final IEEE ratio",
)
def q_brown_forsythe_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(
        F.col("event_type").alias("g"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
    )
    hist = base.groupBy("g", "c").agg(F.count(F.lit(1)).alias("cnt"))
    wc = (
        Window.partitionBy("g")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("g")
    med = (
        hist.select(
            "g",
            "c",
            F.sum("cnt").over(wc).alias("cum"),
            F.sum("cnt").over(wg).alias("n"),
        )
        .filter(F.col("cum") * 2 >= F.col("n") + 1)
        .groupBy("g")
        .agg(F.min("c").alias("med_c"))
    )
    z = base.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("c") - F.col("med_c")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("z") * F.col("z")).cast("decimal(38,0)").alias("s2"),
        F.expr("CAST(sum(z) * 1000000 div count(*) AS BIGINT)").alias(
            "zbar_micro"
        ),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.expr("CAST(sum(s1) * 1000000 div sum(n) AS BIGINT)").alias(
            "gbar_micro"
        ),
    )
    dec = "decimal(38,0)"
    parts = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n").cast(dec)
            * (F.col("zbar_micro") - F.col("gbar_micro")).cast(dec)
            * (F.col("zbar_micro") - F.col("gbar_micro")).cast(dec)
        )
        .cast(dec)
        .alias("ssb"),
        F.sum(
            F.col("s2") * F.lit(1000000000000).cast(dec)
            - 2 * F.col("zbar_micro").cast(dec) * F.col("s1") * 1000000
            + F.col("n").cast(dec)
            * F.col("zbar_micro").cast(dec)
            * F.col("zbar_micro").cast(dec)
        )
        .cast(dec)
        .alias("ssw"),
    )
    # the ONE float op (acf/spearman convention): both engines convert
    # the exact DECIMAL(38) sums to double (round-to-nearest, identical)
    # and perform the identical multiply/divide/floor sequence.  Spark's
    # integer `div` is NOT usable here -- on >int64 decimals it wraps
    # through long (measured: d went negative), which is why the ratio
    # is IEEE instead of integer-divided.
    return tot.crossJoin(F.broadcast(parts)).select(
        F.col("nn").alias("n_total"),
        F.col("k").alias("k_groups"),
        F.expr(
            "CAST(CASE WHEN ssw <= 0 OR nn <= k THEN 0"
            " ELSE floor(CAST(nn - k AS DOUBLE) * CAST(ssb AS DOUBLE)"
            " / (CAST(k - 1 AS DOUBLE) * CAST(ssw AS DOUBLE))"
            " * 1000000 + 0.5) END AS BIGINT)"
        ).alias("f_micro"),
    )


# =========================================================================
# wave 106: Kruskal-Wallis k-group rank test
#
# ``kruskal_wallis_types``: do event types share one value
# DISTRIBUTION?  mann_whitney_effect covers two groups and
# brown_forsythe_types covers variances; Kruskal-Wallis is the k-group
# rank ANOVA both of them defer to.  Exactness: ranks come from the
# distinct-cents histogram as DOUBLED average ranks (2*cum + m + 1 --
# integers even for ties, the established doubled-rank idiom), group
# rank sums and deviations d_g = S2_g - n_g(N+1) are exact BIGINTs, and
# each group's H contribution 3*d_g^2/(n_g N (N+1)) is ONE fixed-shape
# IEEE expression micro-quantized per GROUP row before the integer sum
# (d_g <= 2N^2 < 2^53 at any realistic N, so the bigint->double cast is
# exact).  The tie correction divides two exact DECIMAL(38) terms in
# one double ratio; the rejection verdict compares against frozen
# chi-square 0.95 quantiles (df 1..12, micro units -- df 10 matches
# ljung_box's _LB_CRIT_MICRO).
#
# 100 TB: one (type x cents) histogram aggregate, one small window
# over distinct cents, |types|-row algebra.
# =========================================================================

#: chi-square 0.95 quantiles, df 1..12, micro units
_KW_CRIT_MICRO = (
    3841459, 5991465, 7814728, 9487729, 11070498, 12591587,
    14067140, 15507313, 16918978, 18307038, 19675138, 21026070,
)
_KW_CRIT_CASE = (
    "CASE least(n_groups - 1, 12) "
    + " ".join(
        f"WHEN {df} THEN {c}" for df, c in enumerate(_KW_CRIT_MICRO, start=1)
    )
    + " ELSE 21026070 END"
)
#: one fixed-shape IEEE expression per group row (identical text on
#: both engines so the double arithmetic order cannot differ)
_KW_HG = (
    "CAST(floor(3.0 * CAST(s2 - n_g * (n + 1) AS DOUBLE)"
    " * CAST(s2 - n_g * (n + 1) AS DOUBLE)"
    " / (CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))"
    " * 1000000 + 0.5) AS BIGINT)"
)
_KW_HADJ = (
    "CASE WHEN t3 >= n3 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(floor(CAST(h_micro AS DOUBLE)"
    " / (1.0 - CAST(t3 AS DOUBLE) / CAST(n3 AS DOUBLE)) + 0.5) AS BIGINT)"
    " END"
)


@_register(
    "kruskal_wallis_types",
    f"""
WITH base AS (
  SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
gh AS (SELECT g, c, count(*) AS cnt FROM base GROUP BY 1, 2),
vh AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS m FROM gh GROUP BY c),
vr AS (
  SELECT c, m,
         2 * (sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - m)
           + m + 1 AS r2
  FROM vh
),
nn AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM vh),
tt AS (
  SELECT CAST(sum(CAST(m AS DECIMAL(38, 0)) * m * m - m)
              AS DECIMAL(38, 0)) AS t3
  FROM vh
),
n3t AS (
  SELECT CAST(CAST(n AS DECIMAL(38, 0)) * n * n - n AS DECIMAL(38, 0)) AS n3
  FROM nn
),
gs AS (
  SELECT gh.g, CAST(sum(gh.cnt) AS BIGINT) AS n_g,
         CAST(sum(gh.cnt * vr.r2) AS BIGINT) AS s2
  FROM gh JOIN vr USING (c) GROUP BY gh.g
),
hg AS (SELECT n_g, {_KW_HG} AS h_micro_g FROM gs CROSS JOIN nn),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(h_micro_g) AS BIGINT) AS h_micro
  FROM hg
)
SELECT nn.n AS n_total, agg.n_groups, agg.h_micro,
       {_KW_HADJ} AS h_adj_micro,
       {_KW_HADJ} > {_KW_CRIT_CASE} AS homogeneity_rejected
FROM agg CROSS JOIN nn CROSS JOIN tt CROSS JOIN n3t""",
    ref="extension: Kruskal-Wallis rank ANOVA across event types -- "
    "doubled average ranks from the distinct-cents histogram, exact "
    "integer rank sums, per-group fixed-shape IEEE H contributions "
    "micro-quantized before the sum, DECIMAL(38) tie correction, "
    "frozen chi-square(df) 0.95 verdict",
)
def q_kruskal_wallis_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(
        F.col("event_type").alias("g"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
    )
    from mapreduce6240project_spark.runtime import track

    # gh feeds the value histogram AND the per-group rank-sum join:
    # pin it ((type x distinct-cents) sized -- tiny) so a cold plan
    # aggregates events once.  vh stays UNCACHED on purpose: the
    # global-window waiver's substantiation walk must find vh's
    # grain aggregate below the window node, and an InMemoryRelation
    # would hide it (vh rebuilds from the cached gh -- cheap)
    gh = track(
        base.groupBy("g", "c").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    vh = gh.groupBy("c").agg(F.sum("cnt").cast("bigint").alias("m"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    vr = vh.select(
        "c",
        "m",
        (
            F.lit(2) * (F.sum("m").over(w) - F.col("m"))
            + F.col("m")
            + F.lit(1)
        ).alias("r2"),
    )
    nn = vh.agg(F.sum("m").cast("bigint").alias("n"))
    tt = vh.agg(
        F.expr(
            "CAST(sum(CAST(m AS DECIMAL(38, 0)) * m * m - m)"
            " AS DECIMAL(38, 0))"
        ).alias("t3")
    )
    n3t = nn.select(
        F.expr(
            "CAST(CAST(n AS DECIMAL(38, 0)) * n * n - n AS DECIMAL(38, 0))"
        ).alias("n3")
    )
    gs = (
        gh.join(vr.select("c", "r2"), "c")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_g"),
            F.sum(F.col("cnt") * F.col("r2")).cast("bigint").alias("s2"),
        )
    )
    hg = gs.crossJoin(F.broadcast(nn)).select(
        "n_g", F.expr(_KW_HG).alias("h_micro_g")
    )
    agg = hg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("h_micro_g").cast("bigint").alias("h_micro"),
    )
    return (
        agg.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(n3t))
        .select(
            F.col("n").alias("n_total"),
            "n_groups",
            "h_micro",
            F.expr(_KW_HADJ).alias("h_adj_micro"),
            F.expr(f"{_KW_HADJ} > {_KW_CRIT_CASE}").alias(
                "homogeneity_rejected"
            ),
        )
    )


# =========================================================================
# wave 107: cluster (user-level) Poisson bootstrap CI
#
# ``cluster_bootstrap_ratio_ci``: a percentile CI for revenue-per-event
# that resamples USERS, not rows -- events of one user are correlated,
# so the row bootstrap (bootstrap_mean_value) understates variance;
# the cluster bootstrap is the standard correction (and the online
# A/B-testing workhorse, cf. the Poisson bootstrap of Chamandy et al.).
# Replicate weights are DETERMINISTIC: w(user, rep) ~ Poisson(1) via
# inverse-CDF on the SQL-replayable hash60 uniform (frozen cumulative
# constants embedded via repr, the bm25-literal convention), so all 32
# replicate estimates -- and the rank-based 2nd/31st percentile bounds
# -- hash exactly.  Per-replicate ratio is the ONE double division
# over exact integer weighted sums.
#
# 100 TB: one user-grain aggregate, a 32x explode of that (small)
# table, 32 weighted sums, a 32-row rank.  No row-level resampling.
# =========================================================================

import math as _math

#: cumulative Poisson(1) CDF at k = 0..5, frozen as Python doubles and
#: embedded via repr on BOTH engines (fixed summation order)
_PB_CDF = []
_acc = 0.0
for _k in range(6):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _PB_CDF.append(_acc)
_PB_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_PB_CDF)
    )
    + " ELSE 6 END"
)
_PB_DENOM = float(1 << 60)


@_register(
    "cluster_bootstrap_ratio_ci",
    f"""
WITH ue AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(cents) AS BIGINT) AS tc,
         CAST(sum(n) AS BIGINT) AS tn
  FROM ue
),
reps AS (SELECT unnest(generate_series(0, 31)) AS rep),
wts AS (
  SELECT rep, cents, n, {_PB_CASE} AS w
  FROM (
    SELECT r.rep, ue.cents, ue.n,
           CAST(('0x' || substr(md5(ue.user_id::VARCHAR || ':'
                                    || r.rep::VARCHAR), 1, 15))::BIGINT
                AS DOUBLE) / {_PB_DENOM!r} AS u
    FROM ue CROSS JOIN reps r
  )
),
ests AS (
  SELECT rep,
         CAST(floor(CAST(sum(w * cents) AS DOUBLE)
              / CAST(sum(w * n) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS est
  FROM wts GROUP BY rep HAVING sum(w * n) > 0
),
rk AS (SELECT est, row_number() OVER (ORDER BY est, rep) AS r FROM ests)
SELECT tot.n_users,
       CAST(32 AS BIGINT) AS n_reps,
       CAST(floor(CAST(tot.tc AS DOUBLE) / CAST(tot.tn AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS point_micro,
       (SELECT est FROM rk WHERE r = 2) AS ci_lo_micro,
       (SELECT est FROM rk WHERE r = 31) AS ci_hi_micro
FROM tot""",
    ref="extension: user-level (cluster) Poisson bootstrap percentile "
    "CI for revenue-per-event -- deterministic hash-inverse-CDF "
    "Poisson(1) weights, 32 replicates, rank-based 2nd/31st bounds; "
    "one IEEE division per replicate over exact integer weighted sums",
)
def q_cluster_bootstrap_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    ue = ev.groupBy("user_id").agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tot = ue.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("tc"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    u = (
        hash60(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            )
        ).cast("double")
        / F.lit(_PB_DENOM)
    )
    wts = (
        ue.select(
            "user_id",
            "cents",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
        )
        .withColumn("u", u)
        .select("rep", "cents", "n", F.expr(_PB_CASE).alias("w"))
    )
    ests = (
        wts.groupBy("rep")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wc"),
            F.sum(F.col("w") * F.col("n")).alias("wn"),
        )
        .filter(F.col("wn") > 0)
        .select(
            "rep",
            F.expr(
                "CAST(floor(CAST(wc AS DOUBLE) / CAST(wn AS DOUBLE)"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("est"),
        )
    )
    w = Window.orderBy("est", "rep")
    rk = ests.select("est", F.row_number().over(w).alias("r"))
    lo = rk.filter(F.col("r") == 2).select(F.col("est").alias("ci_lo_micro"))
    hi = rk.filter(F.col("r") == 31).select(F.col("est").alias("ci_hi_micro"))
    return (
        tot.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_users",
            F.lit(32).cast("bigint").alias("n_reps"),
            F.expr(
                "CAST(floor(CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("point_micro"),
            "ci_lo_micro",
            "ci_hi_micro",
        )
    )
