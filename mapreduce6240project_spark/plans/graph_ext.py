"""graph traversal, graph-ML primitives, personalized PageRank, association mining, mixing/reach metrics.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 12: Round-3 coverage wave 12: graph traversal with a SQL-replayable
* wave 28: Round-3 coverage wave 28: graph ML primitives over the co-purchase
* wave 38: Round-3 coverage wave 38: personalized PageRank and association
* wave 61: Round-3 coverage wave 61: graph mixing and supply-chain reach.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.plans.extensions import _NORM
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.plans.retrieval import _SIMGRAPH_PAIRS_CTE
from mapreduce6240project_spark.sources.tables import load_table
from pyspark.sql import DataFrame, SparkSession, Window
from mapreduce6240project_spark.functions.hashing import hash60
from mapreduce6240project_spark.operators.analytics import association_rules
from mapreduce6240project_spark.operators.graph import (
    personalized_pagerank_quantized,
)
from mapreduce6240project_spark.plans.curation_ext import SIMGRAPH_EDGES_CTE

# =========================================================================
# wave 12
# Round-3 coverage wave 12: graph traversal with a SQL-replayable
# oracle, and tokenizer-prep vocabulary coverage.
#
# - ``bfs_hops_simgraph``: bounded-depth breadth-first search over the
#   near-dup similarity graph (shortest hop count from a source doc).
#   Iterative frontier expansion on Spark; the oracle replays it with a
#   recursive CTE -- upgrading "iterative graph algorithm" from a
#   rows-only check to a full value-hash match.
# - ``vocab_oov_rate``: out-of-vocabulary rate per language against a
#   frequency-built top-k vocabulary -- the go/no-go metric computed
#   before freezing a tokenizer on a new corpus.  Two-stage plan: build
#   the vocab with a distributed top-k (per-partition heads, k-row driver
#   merge, no global sort), broadcast it, measure coverage in one pass.
#
# Reference parity note: the reference has no graph or tokenizer
# surface; this wave belongs to the LLM-data-pipeline extension mandated
# alongside SURVEY.md section 2.
# =========================================================================

BFS_SOURCE = 0
BFS_MAX_HOPS = 3

#: Vocabulary size for the coverage metric.  The synthetic corpus has a
#: small closed vocabulary, so a small k keeps the OOV rate non-trivial;
#: at real scale the same plan runs with k = 32000 unchanged.
VOCAB_K = 10

_BFS_ORACLE = (
    _SIMGRAPH_PAIRS_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f"""
, und AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk(node, hops) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT u.d AS node, w.hops + 1 AS hops
  FROM walk w JOIN und u ON u.s = w.node
  WHERE w.hops < {BFS_MAX_HOPS}
)
SELECT node AS doc_id, CAST(min(hops) AS INT) AS hops
FROM walk GROUP BY node"""
)


@_register(
    "bfs_hops_simgraph",
    _BFS_ORACLE,
    ref="extension: bounded-depth BFS (shortest hops from a source) on "
    "the near-dup similarity graph; frontier-expansion joins with "
    "localCheckpoint lineage truncation, oracle is a recursive CTE",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.graph import bfs_hops, simgraph_pairs

    return bfs_hops(
        simgraph_pairs(spark, sf_dir), source=BFS_SOURCE, max_hops=BFS_MAX_HOPS
    ).select(F.col("node").alias("doc_id"), "hops")


@_register(
    "vocab_oov_rate",
    f"""
WITH tok AS (
  SELECT lang, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS n FROM tok GROUP BY token
    ORDER BY n DESC, token LIMIT {VOCAB_K}
  )
)
SELECT lang,
       count(*) AS n_tokens,
       floor(10000.0 * count(CASE WHEN token NOT IN (SELECT token FROM vocab)
                                  THEN 1 END) / count(*) + 0.5) / 10000.0
         AS oov_rate
FROM tok GROUP BY lang""",
    ref="extension: tokenizer vocabulary coverage (per-language OOV rate "
    "vs a frequency top-k vocab); distributed top-k then broadcast "
    "membership join, one corpus pass",
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.textstats import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_topk(docs, k=VOCAB_K).select(
        F.col("token").alias("v_token"), F.lit(1).alias("in_vocab")
    )
    tok = docs.select("lang", F.explode(tokens("text")).alias("token"))
    return (
        tok.join(F.broadcast(vocab), tok.token == vocab.v_token, "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.floor(
                    10000.0
                    * F.count(F.when(F.col("in_vocab").isNull(), 1))
                    / F.count("*")
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("oov_rate"),
        )
    )


# =========================================================================
# wave 28
# Round-3 coverage wave 28: graph ML primitives over the co-purchase
# graph.
#
# The graph: parts are nodes, an edge connects two parts that appear in
# at least TWO common orders (the support-filtered market-basket
# projection -- a single co-occurrence is coincidence, and the raw
# projection is quadratically dense).  Unlike the
# similarity graph -- whose planted duplicate clusters are CLIQUES, so
# every common-neighbor pair is already adjacent and link prediction is
# vacuously empty -- the co-purchase projection has genuine open
# wedges.
#
# - ``adamic_adar_topk``: link prediction -- Adamic-Adar scores
#   ``sum_z 1/ln(deg z)`` over common neighbors ``z`` of non-adjacent
#   part pairs, top 20.  The two-hop candidate join is keyed on the
#   shared neighbor (bounded by sum-of-degree-squares, the same budget
#   as triangle counting), existing edges are removed with an anti-join,
#   and the per-neighbor contributions are micro-floored BEFORE summing
#   so the cross-engine aggregate is order-free (every z on a candidate
#   pair has degree >= 2, so ``ln(deg)`` never vanishes).
# - ``random_walks_k3``: deterministic 3-step random walks from every
#   node -- the node2vec-style corpus generator, made replayable by
#   drawing each step from the md5 hash of (current node, step) modulo
#   the node's degree over its id-sorted adjacency list.  Each step is
#   one join keyed on the current node; the walk table never exceeds one
#   row per start node.
# =========================================================================

_NEIGHBOR_CAP = 32

_COPURCHASE_EDGES_CTE = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cp AS (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b,
         CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
sym AS (
  SELECT id_a AS u, id_b AS v, sup FROM cp
  UNION ALL
  SELECT id_b AS u, id_a AS v, sup FROM cp
),
edges AS (
  SELECT u, v FROM (
    SELECT u, v,
           row_number() OVER (PARTITION BY u ORDER BY sup DESC, v) AS nrk
    FROM sym
  ) WHERE nrk <= {_NEIGHBOR_CAP}
)"""


def _copurchase_edges_with_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(capped symmetric edges, uncapped canonical a<b pairs)."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.alias("a")
    b = op.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("pb")
    ).alias("b")
    # support >= 2: a single co-occurrence is coincidence, and the raw
    # projection is quadratically dense (1.2M edges over 20k parts at
    # sf0.1 -> sum-of-deg^2 ~ 3e8 two-hop rows); the support filter is
    # the standard sparsifier and leaves the graph signal-bearing
    # (~3.5k edges).  At higher density scale the threshold with it.
    cp = (
        a.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("pb"))
        .groupBy(F.col("l_partkey").alias("id_a"), F.col("pb").alias("id_b"))
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
    )
    sym = cp.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v"), "sup"
    ).unionByName(
        cp.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"), "sup")
    )
    # deterministic top-K adjacency cap: support filtering alone stops
    # sparsifying once density grows (every coincidence pair gains
    # copies), but a per-node neighbor cap bounds sum-of-deg^2 at
    # N*K^2 REGARDLESS of density -- the production answer for
    # two-hop operators on skewed graphs.  Ordered by (support desc,
    # id) so the kept edges are the strongest and the cut is stable.
    w_cap = Window.partitionBy("u").orderBy(F.col("sup").desc(), "v")
    capped = (
        sym.withColumn("nrk", F.row_number().over(w_cap))
        .filter(F.col("nrk") <= _NEIGHBOR_CAP)
        .select("u", "v")
    )
    return capped, cp.select("id_a", "id_b")


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _copurchase_edges_with_pairs(spark, sf_dir)[0]


@_register(
    "adamic_adar_topk",
    _COPURCHASE_EDGES_CTE
    + """,
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
hops AS (
  SELECT e1.u AS a, e2.v AS b, e1.v AS z
  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
  WHERE e1.u < e2.v
),
scored AS (
  SELECT a, b,
         CAST(sum(CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS aa_micro,
         CAST(count(*) AS BIGINT) AS n_common
  FROM hops JOIN deg ON hops.z = deg.u
  GROUP BY a, b
),
new_links AS (
  -- exclude edges of the UNCAPPED support-filtered graph: the top-K
  -- cap can cut a real edge from one side's list, and a directed
  -- check against capped edges would resurface it as a "prediction"
  SELECT s.a, s.b, s.aa_micro, s.n_common
  FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM cp p
                    WHERE p.id_a = s.a AND p.id_b = s.b)
)
SELECT a, b, aa_micro, n_common FROM new_links
ORDER BY aa_micro DESC, a, b LIMIT 20""",
    ref="extension: Adamic-Adar link prediction on the co-purchase "
    "graph -- two-hop common-neighbor join (degree-squared bounded), "
    "anti-join against existing edges, per-neighbor 1/ln(deg) "
    "micro-floored before the order-free sum, deterministic top-20",
)
def q_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the capped edge table feeds THREE consumers (deg, both hop sides)
    # and cp a fourth -- unpersisted, each re-derives the lineitem
    # self-join + support aggregate (r7 profile: 26 exchanges, 14
    # scans).  Both are pinned and tracked; the caller's query run is
    # the safe unpersist point the old no-persist note said was missing.
    from mapreduce6240project_spark.runtime import track

    edges, cp = _copurchase_edges_with_pairs(spark, sf_dir)
    edges, cp = track(edges.persist()), track(cp.persist())
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("z"))
    e2 = edges.select(F.col("u").alias("z2"), F.col("v").alias("b"))
    hops = e1.join(e2, e1.z == e2.z2).filter(F.col("a") < F.col("b"))
    contrib = F.floor(
        F.lit(1000000.0) / F.log(F.col("d").cast("double")) + F.lit(0.5)
    ).cast("bigint")
    scored = (
        hops.join(deg, hops.z == deg.u)
        .groupBy("a", "b")
        .agg(
            F.sum(contrib).alias("aa_micro"),
            F.count("*").alias("n_common"),
        )
    )
    # anti-join against the UNCAPPED pair set (see oracle comment)
    existing = cp.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    new_links = scored.join(existing, ["a", "b"], "left_anti")
    return new_links.orderBy(F.col("aa_micro").desc(), "a", "b").limit(20)


@_register(
    "random_walks_k3",
    _COPURCHASE_EDGES_CTE
    + """,
nb AS (
  SELECT u, v,
         row_number() OVER (PARTITION BY u ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY u) AS deg
  FROM edges
),
s1 AS (
  SELECT u AS start, v AS n1 FROM nb
  WHERE rk = ('0x' || substr(md5(u || ':1'), 1, 15))::BIGINT % deg + 1
),
s2 AS (
  SELECT s1.start, s1.n1, nb.v AS n2 FROM s1 JOIN nb ON nb.u = s1.n1
  WHERE nb.rk = ('0x' || substr(md5(s1.n1 || ':2'), 1, 15))::BIGINT
                % nb.deg + 1
),
s3 AS (
  SELECT s2.start, s2.n1, s2.n2, nb.v AS n3 FROM s2 JOIN nb ON nb.u = s2.n2
  WHERE nb.rk = ('0x' || substr(md5(s2.n2 || ':3'), 1, 15))::BIGINT
                % nb.deg + 1
)
SELECT start, n1, n2, n3 FROM s3""",
    ref="extension: deterministic random-walk corpus (node2vec-style) "
    "over the co-purchase graph -- each step drawn from md5(current "
    "node, step) mod degree over the id-sorted adjacency; one "
    "current-node-keyed join per step",
)
def q_random_walks_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nb is filtered once per walk step -- cached so the three steps
    # share one copurchase-graph build instead of re-deriving the
    # lineitem self-join each (r7 profile: 23 exchanges, 12 scans)
    from mapreduce6240project_spark.runtime import track

    edges = _copurchase_edges(spark, sf_dir)
    w = Window.partitionBy("u").orderBy("v")
    nb = track(
        edges.select(
            "u",
            "v",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("u")).alias("deg"),
        ).persist()
    )

    def pick(step: int) -> F.Column:
        h = hash60(F.concat(F.col("u").cast("string"), F.lit(f":{step}")))
        return h % F.col("deg") + 1

    walk = nb.filter(F.col("rk") == pick(1)).select(
        F.col("u").alias("start"), F.col("v").alias("n1")
    )
    step2 = nb.filter(F.col("rk") == pick(2)).select(
        F.col("u").alias("c2"), F.col("v").alias("n2")
    )
    walk = walk.join(step2, walk.n1 == step2.c2).select("start", "n1", "n2")
    step3 = nb.filter(F.col("rk") == pick(3)).select(
        F.col("u").alias("c3"), F.col("v").alias("n3")
    )
    walk = walk.join(step3, walk.n2 == step3.c3).select(
        "start", "n1", "n2", "n3"
    )
    return walk


# =========================================================================
# wave 38
# Round-3 coverage wave 38: personalized PageRank and association
# rules.
#
# - ``ppr_seeded``: topic-sensitive PageRank on the document-similarity
#   graph with restart mass confined to the seed set (doc_id % 10 == 0)
#   -- the seed-relative relevance ranking behind recommendation and
#   seed-expanded retrieval.  Exact bigint fixed-point arithmetic, same
#   discipline as ``pagerank_simgraph``; the oracle replays three
#   unrolled iterations on the identical edge CTE (imported from wave2,
#   so the two rank queries can never drift onto different graphs).
# - ``assoc_rules_top``: directed market-basket rules A -> B with exact
#   integer support / confidence / lift over order-level counts --
#   the step after ``copurchase_pairs`` frequent-pair mining.  Composed
#   lift (conf_micro * N // c(B)) keeps every intermediate bigint-safe
#   at any order count.
# =========================================================================

_PPR_ITER = """
it{k} AS (
  SELECT e.v AS node,
         CASE WHEN e.v % 10 = 0 THEN (SELECT tele FROM p2) ELSE 0 END
         + (sum(p.pr // d.outdeg) * 85) // 100 AS pr
  FROM edges e JOIN it{prev} p ON p.node = e.u JOIN deg d ON d.u = e.u
  GROUP BY e.v
)"""

_PPR_ORACLE = (
    SIMGRAPH_EDGES_CTE
    + """,
params AS (SELECT count(*) AS ns FROM deg WHERE u % 10 = 0),
p2 AS (SELECT 1000000000000 // ns AS init,
              (1000000000000 * 15 // 100) // ns AS tele FROM params),
it0 AS (
  SELECT u AS node,
         CASE WHEN u % 10 = 0 THEN (SELECT init FROM p2) ELSE 0 END AS pr
  FROM deg
)"""
    + "".join("," + _PPR_ITER.format(k=k, prev=k - 1) for k in (1, 2, 3))
    + """
SELECT node, CAST(pr AS BIGINT) AS pr FROM it3"""
)


@_register(
    "ppr_seeded",
    _PPR_ORACLE,
    ref="extension: personalized PageRank (integer-quantized, seed set "
    "doc_id%10==0) on the near-dup similarity graph -- per-iteration "
    "join+agg with a CASE teleport, node-sized state",
)
def q_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b")
    return personalized_pagerank_quantized(pairs, seed_mod=10, n_iter=3)


@_register(
    "assoc_rules_top",
    """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
item AS (SELECT l_partkey, count(*) AS c_item FROM op GROUP BY 1),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT part_a, part_b, support,
       CAST(support * 1000000 // ia.c_item AS BIGINT) AS conf_micro,
       CAST((support * 1000000 // ia.c_item) * n.n_orders // ib.c_item
            AS BIGINT) AS lift_micro
FROM pairs
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b, n
ORDER BY conf_micro DESC, part_a, part_b LIMIT 20""",
    ref="extension: association rules with exact integer "
    "support/confidence/lift over order-level counts; basket-bounded "
    "pair expansion, item counts broadcast",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return association_rules(
        load_table(spark, sf_dir, "lineitem"), min_support=3, k=20
    )


# =========================================================================
# wave 61
# Round-3 coverage wave 61: graph mixing and supply-chain reach.
#
# - ``degree_assortativity``: degree-degree Pearson correlation over the
#   similarity graph's symmetrized edges -- the mixing coefficient that
#   says whether hubs attach to hubs (assortative, r > 0) or to leaves
#   (disassortative, r < 0).  Both engines' ``corr`` aggregate is the
#   same closed-form over sums, rounded to 4 digits (the established
#   float-aggregate convention, cf. corr_by_returnflag).
# - ``supplier_order_reach``: two-hop reach -- for each supplier, the
#   number of distinct orders containing at least one part that supplier
#   ships.  The blast-radius query of supply-chain analytics (a supplier
#   failure touches these orders).  distinct (supplier, part) x distinct
#   (part, order) joined on the part key, then a distinct count per
#   supplier; every stage keyed and partial-aggregated.
# =========================================================================

@_register(
    "degree_assortativity",
    _SIMGRAPH_PAIRS_CTE
    + """
, und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       round(corr(du.d, dv.d), 4) AS assortativity
FROM und e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v""",
    ref="extension: degree assortativity (degree-degree Pearson over "
    "symmetrized edges) -- graph mixing coefficient; corr is the "
    "closed-form sum aggregate on both engines",
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.graph import simgraph_pairs
    from mapreduce6240project_spark.runtime import track

    pairs = simgraph_pairs(spark, sf_dir)
    # und feeds deg AND the edge join, deg feeds both endpoint lookups:
    # pin both so a cold plan builds the simgraph subtree once instead
    # of three times (r8 PLANPROFILE's worst row, 47 cold exchanges)
    und = track(
        pairs.select(
            F.col("id_a").alias("u"), F.col("id_b").alias("v")
        ).unionByName(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        ).persist()
    )
    deg = track(und.groupBy("u").agg(F.count(F.lit(1)).alias("d")).persist())
    du = deg.select(F.col("u").alias("eu"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("ev"), F.col("d").alias("dv"))
    e = und.join(du, und.u == du.eu).join(dv, und.v == dv.ev)
    return e.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(F.corr("du", "dv"), 4).alias("assortativity"),
    )


@_register(
    "supplier_order_reach",
    """
WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
po AS (SELECT DISTINCT l_partkey, l_orderkey FROM lineitem)
SELECT sp.l_suppkey,
       CAST(count(DISTINCT po.l_orderkey) AS BIGINT) AS n_orders_reached
FROM sp JOIN po ON sp.l_partkey = po.l_partkey
GROUP BY 1""",
    ref="extension: supply-chain two-hop blast radius -- distinct "
    "(supplier, part) x (part, order) on the part key, distinct order "
    "count per supplier; all stages keyed",
)
def q_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select("l_suppkey", "l_partkey").distinct()
    po = li.select("l_partkey", "l_orderkey").distinct()
    return (
        sp.join(po, "l_partkey")
        .groupBy("l_suppkey")
        .agg(F.count_distinct("l_orderkey").cast("bigint").alias("n_orders_reached"))
    )


# round-4: HITS hubs/authorities on the bipartite customer->part
# purchase graph -- two unrolled iterations in integer micro units with
# max-normalization after every step ((1e6 * score) div max, exact in
# both engines), so the scores are engine- and partitioning-exact.
# Authority = parts bought by broadly-buying customers; hub = customers
# buying authoritative parts.  Each iteration is one edge-keyed join +
# aggregate; the normalizing max is a 1-row broadcast.


@_register(
    "hits_authorities_top10",
    """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), a1r AS (
  SELECT p, 1000000 * count(*) AS s FROM edges GROUP BY 1
), a1 AS (
  SELECT p, (1000000 * s) // (SELECT max(s) FROM a1r) AS a FROM a1r
), h1r AS (
  SELECT e.c, sum(a1.a) AS s FROM edges e JOIN a1 USING (p) GROUP BY 1
), h1 AS (
  SELECT c, (1000000 * s) // (SELECT max(s) FROM h1r) AS h FROM h1r
), a2r AS (
  SELECT e.p, sum(h1.h) AS s FROM edges e JOIN h1 USING (c) GROUP BY 1
), a2 AS (
  SELECT p, (1000000 * s) // (SELECT max(s) FROM a2r) AS a FROM a2r
), deg AS (SELECT p, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY 1)
SELECT CAST(a2.p AS BIGINT) AS partkey,
       CAST(a2.a AS BIGINT) AS authority_micro,
       deg.degree
FROM a2 JOIN deg USING (p)
ORDER BY a2.a DESC, a2.p LIMIT 10""",
    ref="extension: HITS on the bipartite customer->part graph -- two "
    "unrolled integer-micro iterations, max-normalized per step, "
    "edge-keyed joins + 1-row broadcast maxima",
)
def q_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # edges feeds four aggregates (a1r, h1r, a2r, deg) -- without a
    # persist each one re-derives the orders><lineitem distinct join
    # (r7 PLANPROFILE: 43 exchanges, ~6 fact-table scans).  One cached
    # edge table is the iterative-state discipline the clustering and
    # co-purchase families already follow.
    from mapreduce6240project_spark.runtime import track

    edges = track(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )

    def _norm(df: DataFrame, col: str, out: str) -> DataFrame:
        # _norm references its input TWICE (directly + under the max
        # aggregate), so an unpinned chain of three normalizations
        # multiplies the edge lineage 2^3-fold -- the 3-round-worst
        # cold-profile row (28 exchanges, r9 verdict item 4).  Pinning
        # each pre-normalization score table (|parts|- or |customers|-
        # row aggregates, dimension-sized at any sf) makes both
        # references read one cached build, the same discipline as
        # rm3's term table and the clustering combo cache.
        df = track(df.persist())
        mx = df.agg(F.max(col).alias("_mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            *[x for x in df.columns if x != col],
            F.expr(f"(1000000 * {col}) div _mx").alias(out),
        )

    a1r = edges.groupBy("p").agg(
        (F.lit(1000000) * F.count(F.lit(1))).alias("s")
    )
    a1 = _norm(a1r, "s", "a")
    h1r = edges.join(a1, "p").groupBy("c").agg(F.sum("a").alias("s"))
    h1 = _norm(h1r, "s", "h")
    a2r = edges.join(h1, "c").groupBy("p").agg(F.sum("h").alias("s"))
    a2 = _norm(a2r, "s", "a")
    deg = edges.groupBy("p").agg(F.count(F.lit(1)).alias("degree"))
    return (
        a2.join(deg, "p")
        .orderBy(F.col("a").desc(), "p")
        .limit(10)
        .select(
            F.col("p").cast("bigint").alias("partkey"),
            F.col("a").cast("bigint").alias("authority_micro"),
            F.col("degree").cast("bigint").alias("degree"),
        )
    )


# =========================================================================
# wave 94: partition quality -- Newman modularity of the co-purchase
# graph under the part-brand partition
#
# ``modularity_brand_partition``: per-community modularity contribution
# ``L_c/m - (D_c/2m)^2`` (Newman & Girvan 2004) over the support-
# filtered co-purchase pair graph, communities = ``p_brand``.  The op
# every community-detection pipeline needs to SCORE a labeling; pairing
# it with an existing hard partition keeps the query deterministic
# (iterative Louvain is tie-break-unstable across engines by design).
#
# Exactness: m, every L_c, and every D_c are integer counts; the two
# divisions happen once per community row (25 brands) and are nano-
# quantized half-up.  100 TB: the pair graph build is the same two
# aggregates every other copurchase op pays; brand lookup is a
# broadcast dim join; the scoring table is |brands| rows.
# =========================================================================


@_register(
    "modularity_brand_partition",
    _COPURCHASE_EDGES_CTE
    + """,
m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM cp),
lab AS (SELECT p_partkey, p_brand FROM part),
deg AS (
  SELECT la.p_brand, CAST(count(*) AS BIGINT) AS d_sum
  FROM sym JOIN lab la ON la.p_partkey = sym.u
  GROUP BY 1
),
intra AS (
  SELECT la.p_brand, CAST(count(*) AS BIGINT) AS l_in
  FROM cp JOIN lab la ON la.p_partkey = cp.id_a
          JOIN lab lb ON lb.p_partkey = cp.id_b
  WHERE la.p_brand = lb.p_brand
  GROUP BY 1
)
SELECT deg.p_brand,
       COALESCE(intra.l_in, 0) AS l_in,
       deg.d_sum,
       CAST(floor((COALESCE(intra.l_in, 0) * 1.0 / m.n_edges
                   - (deg.d_sum * 1.0 / (2 * m.n_edges))
                     * (deg.d_sum * 1.0 / (2 * m.n_edges)))
                  * 1000000000 + 0.5) AS BIGINT) AS q_nano
FROM deg LEFT JOIN intra USING (p_brand) CROSS JOIN m""",
    ref="extension: Newman-Girvan modularity scoring of a fixed "
    "partition (brand) on the co-purchase graph -- integer edge/degree "
    "masses, one nano-quantized division per community row",
)
def q_modularity_brand_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cp = _copurchase_edges_with_pairs(spark, sf_dir)
    lab = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    m = cp.agg(F.count(F.lit(1)).alias("n_edges"))
    sym = cp.select(F.col("id_a").alias("u")).unionByName(
        cp.select(F.col("id_b").alias("u"))
    )
    deg = (
        sym.join(F.broadcast(lab), sym.u == lab.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("d_sum"))
    )
    la = lab.select(
        F.col("p_partkey").alias("id_a"), F.col("p_brand").alias("ba")
    )
    lb = lab.select(
        F.col("p_partkey").alias("id_b"), F.col("p_brand").alias("bb")
    )
    intra = (
        cp.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), "id_b")
        .filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("p_brand"))
        .agg(F.count(F.lit(1)).alias("l_in"))
    )
    l_in = F.coalesce(F.col("l_in"), F.lit(0))
    half = F.col("d_sum") * 1.0 / (2 * F.col("n_edges"))
    return (
        deg.join(intra, "p_brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "p_brand",
            l_in.cast("bigint").alias("l_in"),
            "d_sum",
            F.floor(
                (l_in * 1.0 / F.col("n_edges") - half * half)
                * 1000000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("q_nano"),
        )
    )


# =========================================================================
# wave 97: per-edge triangle support (the k-truss gate)
#
# ``edge_triangle_support``: for every co-purchase edge, how many
# triangles contain it -- the edge-level statistic k-truss
# decomposition thresholds on (an edge is in the 4-truss iff support
# >= 2).  Complements the global triangle count and node-level
# clustering coefficient with the edge-strength view community
# trimming uses.  The wedge join is keyed on the shared neighbor over
# the support-filtered pair graph, the same sum-of-degrees budget the
# other two-hop operators pay; edges in no triangle are kept with
# support 0 via a left join (absence is the signal k-truss prunes on).
# =========================================================================


@_register(
    "edge_triangle_support",
    _COPURCHASE_EDGES_CTE
    + """,
sup AS (
  SELECT e.id_a, e.id_b, CAST(count(*) AS BIGINT) AS tri
  FROM cp e
  JOIN sym s1 ON s1.u = e.id_a
  JOIN sym s2 ON s2.u = e.id_b AND s2.v = s1.v
  GROUP BY 1, 2
)
SELECT cp.id_a, cp.id_b,
       COALESCE(sup.tri, 0) AS tri_support,
       CAST(CASE WHEN COALESCE(sup.tri, 0) >= 2 THEN 1 ELSE 0 END
            AS BIGINT) AS in_truss4
FROM cp LEFT JOIN sup ON sup.id_a = cp.id_a AND sup.id_b = cp.id_b""",
    ref="extension: per-edge triangle support over the co-purchase "
    "graph -- the k-truss thresholding statistic; shared-neighbor "
    "wedge join, zero-support edges preserved",
)
def q_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cp = _copurchase_edges_with_pairs(spark, sf_dir)
    cp = cp.localCheckpoint()  # pair graph feeds three consumers
    sym = cp.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(
        cp.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    s1 = sym.select(F.col("u").alias("id_a"), F.col("v").alias("z"))
    s2 = sym.select(F.col("u").alias("id_b"), F.col("v").alias("z"))
    sup = (
        cp.join(s1, "id_a")
        .join(s2, ["id_b", "z"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    tri = F.coalesce(F.col("tri"), F.lit(0))
    return cp.join(sup, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        tri.cast("bigint").alias("tri_support"),
        F.when(tri >= 2, 1).otherwise(0).cast("bigint").alias("in_truss4"),
    )


# =========================================================================
# wave 103: Weisfeiler-Lehman color refinement signature
#
# ``wl_refinement_colors``: two rounds of 1-WL color refinement on the
# capped co-purchase out-adjacency -- the canonical graph fingerprint
# behind graph-isomorphism tests, graph kernels, and GNN expressivity
# analysis.  color_0(v) = out-degree; color_{t+1}(v) =
# hash60(color_t(v) || '|' || comma-joined NUMERICALLY-sorted multiset
# of out-neighbor colors).  The output is the per-round partition
# summary (n_color_classes, max_class_size, n_singletons): how fast
# the refinement shatters the graph.  Replayable: colors are integer
# hash60 values, the neighbor multiset is sorted numerically before
# joining (Spark sort_array == DuckDB ORDER BY c on BIGINTs, no
# collation exposure), and each round is one join + one aggregate.
# 100 TB: the iterative state is one (node, color) row per node,
# cached per round (checkpoint discipline, cf. bradley_terry); the
# neighbor aggregate is bounded by the _NEIGHBOR_CAP fanout.
# =========================================================================


def _wl_round_sql(prev: str, idx: int) -> str:
    return f"""
agg{idx} AS (
  SELECT e.u,
         string_agg(CAST(p.c AS VARCHAR), ',' ORDER BY p.c) AS sig
  FROM edges e JOIN {prev} p ON p.v = e.v
  GROUP BY e.u
),
c{idx} AS (
  SELECT a.u AS v,
         ('0x' || substr(md5(CAST(p.c AS VARCHAR) || '|' || a.sig), 1, 15))::BIGINT AS c
  FROM agg{idx} a JOIN {prev} p ON p.v = a.u
)"""


def _wl_summary_sql(rel: str, rnd: int) -> str:
    return f"""
SELECT CAST({rnd} AS BIGINT) AS round,
       CAST(count(DISTINCT c) AS BIGINT) AS n_color_classes,
       CAST(max(sz) AS BIGINT) AS max_class_size,
       CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons
FROM (SELECT c, count(*) AS sz FROM {rel} GROUP BY c)"""


@_register(
    "wl_refinement_colors",
    _COPURCHASE_EDGES_CTE
    + f""",
c0 AS (SELECT u AS v, CAST(count(*) AS BIGINT) AS c FROM edges GROUP BY u),
{_wl_round_sql('c0', 1)},
{_wl_round_sql('c1', 2)}
{_wl_summary_sql('c0', 0)}
UNION ALL {_wl_summary_sql('c1', 1)}
UNION ALL {_wl_summary_sql('c2', 2)}""",
    ref="extension: 1-WL color refinement (2 rounds) on the co-purchase "
    "graph -- hash60 colors over numerically-sorted neighbor multisets, "
    "per-round partition summary; iterative state cached per round",
)
def q_wl_refinement_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.runtime import track

    edges = track(_copurchase_edges(spark, sf_dir).persist())
    colors = track(
        edges.groupBy(F.col("u").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        ).persist()
    )
    rounds = [colors]
    for _ in range(2):
        prev = rounds[-1]
        nb = prev.select(F.col("v").alias("nv"), F.col("c").alias("nc"))
        agg = (
            edges.join(nb, edges.v == nb.nv)
            .groupBy("u")
            .agg(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("nc")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("sig")
            )
        )
        own = prev.select(F.col("v").alias("ov"), F.col("c").alias("oc"))
        nxt = track(
            agg.join(own, agg.u == own.ov).select(
                F.col("u").alias("v"),
                hash60(
                    F.concat(
                        F.col("oc").cast("string"), F.lit("|"), F.col("sig")
                    )
                ).alias("c"),
            ).persist()
        )
        rounds.append(nxt)

    def summary(df: DataFrame, rnd: int) -> DataFrame:
        sz = df.groupBy("c").agg(F.count(F.lit(1)).alias("sz"))
        return sz.agg(
            F.lit(rnd).cast("bigint").alias("round"),
            F.count_distinct("c").cast("bigint").alias("n_color_classes"),
            F.max("sz").cast("bigint").alias("max_class_size"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_singletons"),
        )

    out = summary(rounds[0], 0)
    for rnd in (1, 2):
        out = out.unionByName(summary(rounds[rnd], rnd))
    return out
