"""Dedup extension tests: planted exact + near duplicates; LSH methods
validated against the exact relational Jaccard ground truth."""

from __future__ import annotations

import pytest

from mapreduce6240project_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mapreduce6240project_spark.runtime import query_run

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-word change -> high jaccard
FAR = (
    "completely different content about spark query engines and columnar "
    "storage formats with vectorized execution and adaptive planning"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, "  " + BASE.upper() + " "),  # normalized dup of 1
        (4, NEAR),                      # near dup of 1
        (5, FAR),
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_collapses_normalized(docs):
    out = exact_dedup(docs).collect()
    by_id = {r.doc_id: r.n_copies for r in out}
    assert by_id[1] == 3          # 1, 2, 3 share a fingerprint; min id kept
    assert by_id[4] == 1 and by_id[5] == 1 and by_id[6] == 1


def test_ngram_jaccard_finds_planted_pair(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.5 < pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_minhash_lsh_agrees_with_ground_truth(docs):
    truth = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b): r.est_jaccard
           for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # every high-jaccard true pair must be found by LSH at 16 bands
    assert truth <= set(lsh)
    # and the estimate for the planted near pair is in a sane band
    assert lsh[(1, 4)] > 0.5
    # no false positive between unrelated docs
    assert (1, 5) not in lsh and (5, 6) not in lsh


def test_minhash_dedup_survivors(docs):
    survivors = {r.doc_id for r in minhash_dedup(docs, threshold=0.5).collect()}
    assert 1 in survivors          # lowest id of the dup cluster survives
    assert 2 not in survivors and 3 not in survivors and 4 not in survivors
    assert {5, 6} <= survivors


def test_simhash_near_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0   # identical token sets
    assert (1, 4) in pairs and pairs[(1, 4)] <= 10     # near dup, small hamming
    assert (1, 5) not in pairs


def test_winnow_fingerprints_detect_shared_substring(spark, docs):
    from mapreduce6240project_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    fps = {r.doc_id: set(r.fingerprints) for r in winnow_fingerprints(docs).collect()}
    # identical normalized texts -> identical fingerprint sets
    assert fps[1] == fps[2] == fps[3]
    # near dup shares most fingerprints; unrelated shares none
    assert len(fps[1] & fps[4]) / len(fps[1] | fps[4]) > 0.5
    assert not (fps[1] & fps[5])
    # winnowing guarantee: every doc has at least one fingerprint
    assert all(len(v) >= 1 for v in fps.values())

    pairs = {(r.id_a, r.id_b): r.overlap
             for r in winnow_overlap_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0 and (1, 4) in pairs and (1, 5) not in pairs


def test_paragraph_dedup_removes_shared_span(spark):
    from mapreduce6240project_spark.operators.dedup import dedup_paragraphs

    span = " ".join(f"w{i}" for i in range(10))  # one exact 10-token chunk
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{span} {uniq_a}"), (2, f"{span} {uniq_b}")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    # doc 1 (first occurrence) keeps both chunks; doc 2 loses the span
    assert out[1].n_kept_chunks == 2 and out[1].dedup_text == f"{span} {uniq_a}"
    assert out[2].n_kept_chunks == 1 and out[2].dedup_text == uniq_b


def test_paragraph_dedup_short_doc_single_chunk(spark):
    from mapreduce6240project_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "only three words")], "doc_id bigint, text string"
    )
    r = dedup_paragraphs(docs).first()
    assert r.n_kept_chunks == 1 and r.dedup_text == "only three words"


# ---------------------------------------------------------------------------
# hot-band skew: identical-text masses (round-3 verdict item 2)
# ---------------------------------------------------------------------------


def test_candidate_pairs_collapse_equals_naive(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from mapreduce6240project_spark.operators.dedup import minhash_candidate_pairs

    naive = sorted(
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, collapse_identical=False).collect()
    )
    coll = sorted(
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, collapse_identical=True).collect()
    )
    assert coll == naive and len(coll) > 0


def test_lsh_pairs_collapse_est_jaccard_parity(docs):
    # est-Jaccard values (carried signatures) must survive the collapse
    # + expansion path unchanged, including the swap orientation
    naive = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.0, collapse_identical=False).collect()
    }
    coll = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.0, collapse_identical=True).collect()
    }
    assert coll == naive


def test_identical_mass_no_quadratic_bucket(spark):
    # 10k byte-identical docs + 3 distinct: the banded join must see ONE
    # row per band bucket for the identical mass (representatives), with
    # the m^2/2 pair set produced only by the salted expansion.  The
    # naive path would put all ~50M pairs in a single join task.
    from mapreduce6240project_spark.operators.dedup import minhash_candidate_pairs

    m = 10_000
    rows = [(i, BASE) for i in range(m)] + [
        (m + 1, NEAR),
        (m + 2, FAR),
        (m + 3, "tiny"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = minhash_candidate_pairs(docs)
    n_pairs = cand.count()
    # all within-mass pairs, plus NEAR pairing with every BASE copy
    # (identical signatures -> identical band collisions)
    assert n_pairs >= m * (m - 1) // 2
    within_expected = m * (m - 1) // 2
    near_cross = cand.filter("id_b = 10001").count()
    assert n_pairs == within_expected + near_cross
    assert near_cross in (0, m)  # NEAR collides with all copies or none


def test_identical_mass_survivors(spark):
    m = 500
    rows = [(i, BASE) for i in range(m)] + [(m + 1, FAR), (m + 2, "tiny")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with query_run() as run:
        survivors = sorted(
            r.doc_id for r in minhash_dedup(docs, threshold=0.5).collect()
        )
        assert run.frames
    assert survivors == [0, m + 1, m + 2]


def test_hot_probe_tiers(spark, docs):
    """The sampled hot-bucket probe: dup-light corpora stop at the
    1/probe_mod sample pass; templated masses escalate to the full
    count; small thresholds skip the probe entirely (probe_mod 1)."""
    from mapreduce6240project_spark.operators import dedup as D

    # dup-light: sample probe clears, no full count, no salting
    with query_run() as run:
        D.minhash_candidate_pairs(docs, collapse_identical=False).count()
    assert run.decisions == {"hot_probe": "sample-clear", "hot_buckets": 0}

    # templated mass at default threshold: probe escalates, salting on
    mass = spark.createDataFrame(
        [(i, BASE.replace("garden", f"garden{i}")) for i in range(600)],
        "doc_id long, text string",
    )
    with query_run() as run:
        D.minhash_candidate_pairs(mass).count()
    assert run.decisions["hot_probe"] == "full"
    assert run.decisions["hot_buckets"] >= 1

    # tiny threshold: probe_mod collapses to 1 -> full count directly
    with query_run() as run:
        D.minhash_candidate_pairs(docs, collapse_identical=False,
                                  hot_bucket_threshold=8).count()
    assert run.decisions["hot_probe"] == "full"


# ---------------------------------------------------------------------------
# near-identical (templated) masses: oversized band buckets are salted
# (round-4 verdict item 1) -- distinct fingerprints defeat the
# identical-text collapse, but the (band, band_hash) buckets still
# concentrate; the salted self-join must spread them without changing
# the pair set.
# ---------------------------------------------------------------------------


def _templated_docs(spark, m):
    # one-token-apart documents: every doc differs from the template in
    # exactly one position -> distinct normalized texts (no collapse),
    # near-total band agreement (hot buckets)
    rows = [(i, BASE.replace("garden", f"garden{i}")) for i in range(m)] + [
        (m + 1, FAR),
        (m + 2, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_templated_mass_hot_buckets_salted(spark):
    from mapreduce6240project_spark.operators import dedup as D

    m = 1_000
    docs = _templated_docs(spark, m)
    with query_run() as run:
        cand = D.minhash_candidate_pairs(docs)
        n_pairs = cand.count()
        # FAR/tiny never collide with the mass
        n_far = cand.filter("id_b >= 1001 or id_a >= 1001").count()
    # the salted path actually engaged: every band's bucket holds the
    # full mass (1000 >= default threshold 256)
    assert run.decisions["hot_buckets"] >= 1
    # templated docs differ only in shingles touching the one changed
    # token (pairwise jaccard ~0.77) -> nearly every pair collides in
    # >=1 of 16 bands (analytic miss rate ~1e-3)
    assert n_pairs >= 0.98 * (m * (m - 1) // 2)
    assert n_far == 0


def test_templated_mass_salted_pair_set_parity(spark):
    # pair set under the salted path == plain-join pair set (threshold
    # high enough that no bucket is "hot"); salting is plan-only
    from mapreduce6240project_spark.operators import dedup as D

    m = 300
    docs = _templated_docs(spark, m)
    with query_run() as run:
        salted = sorted(
            (r.id_a, r.id_b)
            for r in D.minhash_candidate_pairs(
                docs, hot_bucket_threshold=8
            ).collect()
        )
    assert run.decisions["hot_buckets"] >= 1
    with query_run() as run:
        plain = sorted(
            (r.id_a, r.id_b)
            for r in D.minhash_candidate_pairs(
                docs, hot_bucket_threshold=10**9
            ).collect()
        )
    assert run.decisions["hot_buckets"] == 0
    assert salted == plain and len(salted) >= 0.98 * (m * (m - 1) // 2)


def test_duplight_corpus_takes_plain_join(spark):
    # the real documents table has no oversized bucket: the fast path
    # (no tagging, no split) must run -- guards the bench regression
    from mapreduce6240project_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with query_run() as run:
        D.minhash_candidate_pairs(docs, collapse_identical=False).count()
    assert run.decisions["hot_buckets"] == 0


def test_salt_spread_bounds_bucket_fanout(spark):
    # mechanism check: within one hot bucket the a-side salt keys are
    # well spread, so no single (band, band_hash, salt) join key holds
    # more than a few times m/within_salt rows
    from pyspark.sql import functions as F

    m, salt = 1_000, 16
    ids = spark.range(m).select(F.col("id").alias("doc_id"))
    spread = (
        ids.withColumn("_bs", F.pmod(F.xxhash64("doc_id"), F.lit(salt)))
        .groupBy("_bs")
        .count()
        .collect()
    )
    assert len(spread) == salt  # every salt key used
    assert max(r["count"] for r in spread) <= 3 * m // salt


# ---------------------------------------------------------------------------
# star-edge survivors (round-4 verdict item 2): standalone minhash_dedup
# on a dup-heavy corpus must not materialize Theta(m^2) within-group
# pairs -- representative->member star edges suffice.
# ---------------------------------------------------------------------------


def test_within_star_emits_linear_edges(spark):
    from mapreduce6240project_spark.operators import dedup as D

    m = 10_000
    rows = [(i, BASE) for i in range(m)] + [(m + 1, FAR), (m + 2, "tiny")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with query_run():
        cand = D.minhash_candidate_pairs(docs, within_star=True)
        # O(m) star edges (rep=0 -> each member), not m*(m-1)/2
        assert cand.count() == m - 1
        assert cand.filter("id_a = 0").count() == m - 1


def test_minhash_dedup_star_survivors_match_allpairs(spark):
    from mapreduce6240project_spark.operators import dedup as D

    m = 500
    rows = [(i, BASE) for i in range(m)] + [
        (m + 1, NEAR),
        (m + 2, FAR),
        (m + 3, "tiny"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with query_run():
        star = sorted(
            r.doc_id for r in D.minhash_dedup(docs, threshold=0.5).collect()
        )  # default path: within_star=True
        full = sorted(
            r.doc_id
            for r in D.minhash_dedup(
                docs, threshold=0.5, within_star=False
            ).collect()
        )
        # transitive (connected-components) fold agrees too
        star_cc = sorted(
            r.doc_id
            for r in D.minhash_dedup(
                docs, threshold=0.5, transitive=True
            ).collect()
        )
    assert star == full == [0, m + 2, m + 3]
    assert star_cc == star


def test_jaccard_verify_shuffle_fallback_parity(docs):
    # forcing the non-broadcast path (threshold 0) must not change the
    # verified pair set
    from mapreduce6240project_spark.operators import dedup as D

    with query_run():
        cand = D.minhash_candidate_pairs(docs)
        bc = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_verified_pairs(docs, cand, threshold=0.5).collect()
        }
        shuf = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_verified_pairs(
                docs, cand, threshold=0.5, broadcast_max_docs=0
            ).collect()
        }
    assert bc == shuf and (1, 2) in bc
