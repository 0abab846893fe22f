"""Sparse retrieval over the documents table: BM25 ranking and
reciprocal-rank fusion of ranked lists.

The reference's analytics surface stops at group-by aggregation
(Analysis.java); retrieval is part of the LLM-pipeline extension
surface: BM25 is the standard sparse ranker for training-data
curation (query-focused corpus slices, hard-negative mining), and RRF
is the standard way to merge a sparse and a dense (embedding) ranking
into one list.

Scale shape: BM25's model statistics (document frequencies) are
vocabulary-sized -- orders of magnitude smaller than the corpus at
100 TB -- so they broadcast; the per-document term frequencies come
from one explode + partial-aggregated shuffle, the same shape as
``textstats.tfidf_top_terms``.  Nothing here collects the corpus.

Float determinism: per-term BM25 contributions are rounded to integer
micros *before* the per-document sum, so partial aggregation order
cannot change the result (the same fixed-point convention as the
cluster-cost queries); ranking sorts on the integer score with a
doc-id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce6240project_spark.functions.actions import first_row
from mapreduce6240project_spark.operators.dedup import tokens
from mapreduce6240project_spark.operators.fanout import fan_out

#: BM25 free parameters (Robertson et al.; the values everybody uses).
K1 = 1.2
B = 0.75


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = K1,
    b: float = B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document containing at least one query term with
    BM25, returning ``(doc_id, score_micros)``.

    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`` (the Lucene
    variant: always positive), ``tf`` part uses document-length
    normalization against the corpus mean length.

    Plan: explode tokens -> filter to query terms *before* the
    aggregation (the shuffle carries only query-term hits, a tiny
    fraction of the corpus) -> per-(doc, term) counts with map-side
    partials -> broadcast-join the vocabulary-sized df table ->
    per-doc sum of micro-quantized term contributions.  N and the
    mean document length are exact integer aggregates (sum/count of
    token counts), so the derived doubles are partition-order
    independent.
    """
    term_lits = F.array(*[F.lit(t) for t in query_terms])
    toks = fan_out(docs).select(
        F.col(id_col), tokens(text_col).alias("toks")
    )
    # exact corpus stats: one small aggregate job, folded into literals
    stats = first_row(
        toks.agg(
            F.count("*").alias("n_docs"), F.sum(F.size("toks")).alias("n_toks")
        )
    )
    n_docs, n_toks = int(stats["n_docs"]), int(stats["n_toks"])
    avgdl = float(n_toks) / float(n_docs)  # ratio of exact ints

    ex = toks.select(
        F.col(id_col),
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    ).filter(F.array_contains(term_lits, F.col("term")))
    tf = ex.groupBy(id_col, "term", "dl").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    contrib = idf * tf_d * F.lit(k1 + 1.0) / denom
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "c_micros", F.floor(contrib * 1000000 + F.lit(0.5)).cast("bigint")
    )
    return scored.groupBy(id_col).agg(
        F.sum("c_micros").alias("score_micros")
    )


def bm25_topk(
    docs: DataFrame, query_terms: list[str], k: int = 10, **kw
) -> DataFrame:
    """Top-k BM25 hits: TakeOrderedAndProject over the scored docs
    (per-partition heads, k-row driver merge -- no global sort)."""
    s = bm25_scores(docs, query_terms, **kw)
    return s.orderBy(F.desc("score_micros"), "doc_id").limit(k)


def rrf_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (Cormack et al.):
    ``rrf(d) = sum_i 1 / (k + rank_i(d))``, documents missing from a
    list contribute nothing.

    Inputs are (id, rank) DataFrames with dense 1-based ranks.  The
    fusion is a full outer join on id -- both lists are top-k-sized
    (driver-bounded), so at scale both sides broadcast; the sum is an
    explicit two-term expression, not an aggregation, so double math
    has a fixed evaluation order.  The fused score is micro-quantized
    for engine-independent ordering.
    """
    a = rank_a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    b = rank_b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    fused = a.join(b, id_col, "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(float(k)) + F.col("rank_a")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(k)) + F.col("rank_b")), F.lit(0.0)
    )
    return fused.select(
        F.col(id_col),
        F.floor(score * 1000000 + F.lit(0.5)).cast("bigint").alias("rrf_micros"),
        "rank_a",
        "rank_b",
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 10,
    posting_cap: int = 20,
    top_terms: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Posting-list build -- the core physical structure of sparse
    retrieval: ``(term, df, postings)`` where ``df`` is the exact
    document frequency and ``postings`` is the comma-joined list of the
    ``posting_cap`` lowest doc ids containing the term.  Restricted to
    terms with ``df >= min_df`` and (for a bounded, deterministic
    result) the ``top_terms`` most frequent terms, ties broken by term.

    Scale shape: a naive ``collect_list(doc_id)`` per term is unbounded
    group state -- a stopword's posting list at 100 TB is billions of
    ids in one aggregation buffer.  Instead the cap is applied *before*
    any list materializes: a row_number window over (term) ordered by
    doc id keeps the first ``posting_cap`` ids per term (bounded state
    in the window operator -- rank <= K needs only a running counter
    per key), and only those survive into the tiny sorted-array
    aggregate.  Spark's WindowGroupLimit pushes the rank bound below
    the window sort (per-task K-row heads per term, no full posting
    sort -- verified in EXPLAIN.md), and the WindowGroupLimit branch
    carries only capped rows, so the stopword skew never reaches a
    sort or a buffer.  ``df`` comes from a separate partial-aggregated
    count whose vocabulary-sized result broadcasts back onto the
    postings.  The two branches each scan the corpus once (the plan
    trades a second column-pruned scan for never materializing the
    pair table); a production index build over 100 TB would write the
    deduped (term, doc) pairs term-sharded to parquet first and derive
    both branches from that -- the shard key IS the partition key here.
    """
    from pyspark.sql import Window

    pairs = (
        fan_out(docs)
        .select(F.explode(tokens(text_col)).alias("term"), F.col(id_col))
        .distinct()
    )
    w = Window.partitionBy("term").orderBy(id_col)
    capped = pairs.withColumn("prk", F.row_number().over(w)).filter(
        F.col("prk") <= posting_cap
    )
    stats = pairs.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    postings = capped.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.col(id_col))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings")
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .join(postings, "term")
        .orderBy(F.desc("df"), "term")
        .limit(top_terms)
        .select("term", "df", "postings")
    )


def phrase_match(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional-index phrase query: documents containing the exact
    token sequence ``phrase``, with per-document occurrence counts.

    The plan is the *index* shape, not the scan shape: the postings
    stream (doc, pos, term) is filtered to the phrase's terms FIRST --
    on a prebuilt term-sharded index this touches only len(phrase)
    posting lists, the entire point of an inverted index at corpus
    scale -- and the phrase is then reassembled by equi-joining term i's
    postings on ``(doc, pos - i)``.  Each join side is a tiny filtered
    stream, hash-partitioned on the same composite key, and the final
    per-document count is a partial-aggregated group-by.  A LIKE scan
    would read every byte of every document; this reads three posting
    lists.
    """
    from mapreduce6240project_spark.operators.dedup import normalize_text

    terms = phrase.split()
    postings = docs.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("pos", "term"),
    ).filter(F.col("term").isin(terms))
    out = None
    for i, t in enumerate(terms):
        side = postings.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("p0")
        )
        out = side if out is None else out.join(side, [id_col, "p0"])
    return out.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_occurrences"))


#: Dirichlet smoothing pseudo-count (Zhai & Lafferty 2001's default
#: ballpark; fixed so the oracle embeds the same literal).
DIRICHLET_MU = 2000.0


def query_likelihood_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mu: float = DIRICHLET_MU,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k by Dirichlet-smoothed query likelihood (Zhai & Lafferty
    2001) -- the language-modeling counterpart to BM25:

        score(d) = sum_t ln((tf_td + mu * ctf_t / NT) / (dl_d + mu))

    Unlike BM25, terms ABSENT from a document still contribute (the
    smoothed collection probability against the doc's length), so
    every document is scored: the scoring grid is docs x |terms| built
    by exploding the literal term array -- no corpus-wide explode on
    the scoring side.  Each term contribution is micro-floored before
    the per-doc sum (|terms| ints, order-free); collection stats (NT,
    per-term ctf) are exact integer aggregates folded into literals
    driver-side (1 + |terms| rows, same doctrine as BM25's N/avgdl
    fold).  NULL-text documents are excluded (undefined length).

    Plan at 100 TB: one token explode filtered to query terms BEFORE
    the shuffle for tf, one narrow dl projection, a |terms|-row
    broadcast -- the expensive explode carries only query-term hits."""
    docs = docs.filter(F.col(text_col).isNotNull())
    toks = docs.select(F.col(id_col), tokens(text_col).alias("toks"))
    nt = int(first_row(toks.agg(F.sum(F.size("toks")).alias("nt")))["nt"] or 0)
    term_lits = F.array(*[F.lit(t) for t in query_terms])
    ex = toks.select(
        F.col(id_col),
        F.explode("toks").alias("term"),
    ).filter(F.array_contains(term_lits, F.col("term")))
    ctf = {
        r["term"]: int(r["ctf"])
        for r in ex.groupBy("term").agg(F.count("*").alias("ctf")).collect()
    }
    tf = ex.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = toks.select(F.col(id_col), F.size("toks").alias("dl"))
    live_terms = [t for t in query_terms if ctf.get(t, 0) > 0]
    if not live_terms:  # no query term occurs anywhere: nothing to rank
        return dl.select(
            F.col(id_col), F.lit(0).cast("bigint").alias("score_micros")
        ).limit(0)
    grid = dl.select(
        F.col(id_col),
        "dl",
        F.explode(F.array(*[F.lit(t) for t in live_terms])).alias("term"),
    ).join(tf, [id_col, "term"], "left").fillna({"tf": 0})
    # mu * ctf / nt folded left-to-right in Python; repr() round-trips
    # the exact double, so both engines smooth with the identical value.
    # A term with ctf = 0 is dropped: its contribution is ln(0) = -inf
    # for EVERY document (tf <= ctf), i.e. a constant with no ranking
    # signal that would poison the micro-floor.
    prior = {t: mu * ctf[t] / nt for t in live_terms}
    prior_col = F.coalesce(
        *[
            F.when(F.col("term") == t, F.lit(p))
            for t, p in prior.items()
        ]
    )
    contrib = F.log(
        (F.col("tf").cast("double") + prior_col)
        / (F.col("dl").cast("double") + F.lit(mu))
    )
    scored = grid.withColumn(
        "c_micros", F.floor(contrib * 1000000 + F.lit(0.5)).cast("bigint")
    ).groupBy(id_col).agg(F.sum("c_micros").alias("score_micros"))
    return scored.orderBy(F.desc("score_micros"), id_col).limit(k)


def rm3_expansion_topk(
    docs: DataFrame,
    query_terms: list[str],
    fb_docs: int = 3,
    n_expansion: int = 5,
    k: int = 10,
    orig_weight: int = 2,
    k1: float = K1,
    b: float = B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance feedback (RM3-style query expansion): rank with
    BM25 on the original terms, take the top ``fb_docs`` feedback
    documents, mine their ``n_expansion`` most frequent non-query terms,
    then re-rank the corpus with the expanded weighted query
    (original terms weight ``orig_weight``, expansion terms weight 1)
    and return the top ``k`` as ``(doc_id, rm3_micros)``.

    Determinism: per-term BM25 contributions are micro-quantized BEFORE
    the integer weighting and the per-document sum (the module's
    fixed-point convention); the feedback-document and expansion-term
    cuts break ties on (score desc, id) / (tf desc, term), so the whole
    pipeline is partition-order independent and SQL-replayable.

    Scale shape: two BM25 passes (each one explode + partial-aggregated
    shuffle with a broadcast vocabulary-sized df table) plus one
    token-count aggregate over ``fb_docs`` documents -- the expansion
    term list is a <=``n_expansion + |query|``-row broadcast, never a
    literal rebuild of the plan.
    """
    # dedup while preserving order: a duplicated query term would fan
    # out BOTH pass-2 joins (tf inflation + double-counted weighted
    # contributions), silently corrupting scores (review finding)
    query_terms = list(dict.fromkeys(query_terms))
    term_lits = F.array(*[F.lit(t) for t in query_terms])
    toks = fan_out(docs).select(F.col(id_col), tokens(text_col).alias("toks"))
    # exact corpus stats: one bounded 2-int aggregate, folded into
    # literals (same contract as bm25_scores)
    stats = first_row(
        toks.agg(
            F.count("*").alias("n_docs"), F.sum(F.size("toks")).alias("n_toks")
        )
    )
    n_docs, n_toks = int(stats["n_docs"]), int(stats["n_toks"])
    avgdl = float(n_toks) / float(n_docs)

    ex = toks.select(
        F.col(id_col),
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    )

    def _scores(hits: DataFrame, weighted: bool) -> DataFrame:
        tf = hits.groupBy(id_col, "term", "dl").agg(F.count("*").alias("tf"))
        dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df_t") + F.lit(0.5))
            / (F.col("df_t") + F.lit(0.5))
        )
        tf_d = F.col("tf").cast("double")
        denom = tf_d + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
        )
        contrib = idf * tf_d * F.lit(k1 + 1.0) / denom
        scored = tf.join(F.broadcast(dfreq), "term").withColumn(
            "c_micros", F.floor(contrib * 1000000 + F.lit(0.5)).cast("bigint")
        )
        val = (
            F.col("wgt") * F.col("c_micros") if weighted else F.col("c_micros")
        )
        if weighted:
            scored = scored.join(F.broadcast(terms_df), "term")
        return scored.groupBy(id_col).agg(
            F.sum(val).cast("bigint").alias("score_micros")
        )

    # pass 1: original query, top feedback docs
    s1 = _scores(ex.filter(F.array_contains(term_lits, F.col("term"))), False)
    fb = s1.orderBy(F.desc("score_micros"), id_col).limit(fb_docs).select(id_col)
    # expansion terms: most frequent non-query terms of the feedback docs
    exp_t = (
        ex.join(F.broadcast(fb), id_col)
        .filter(~F.array_contains(term_lits, F.col("term")))
        .groupBy("term")
        .agg(F.count("*").alias("tf_sum"))
        .orderBy(F.desc("tf_sum"), "term")
        .limit(n_expansion)
        .select("term", F.lit(1).cast("bigint").alias("wgt"))
    )
    orig_df = docs.sparkSession.createDataFrame(
        [(t, orig_weight) for t in query_terms], "term STRING, wgt BIGINT"
    )
    # pin the <=|query|+n_expansion-row term table: it feeds BOTH
    # pass-2 joins (hit filter + weighting), and uncached each
    # reference would rebuild the whole pass-1 subtree in a cold plan
    from mapreduce6240project_spark.runtime import track

    terms_df = track(orig_df.unionByName(exp_t).persist())
    # pass 2: weighted expanded query over the corpus
    s2 = _scores(
        ex.join(F.broadcast(terms_df.select("term")), "term"), True
    )
    return (
        s2.orderBy(F.desc("score_micros"), id_col)
        .limit(k)
        .select(id_col, F.col("score_micros").alias("rm3_micros"))
    )
