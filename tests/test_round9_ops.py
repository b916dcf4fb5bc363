"""Round-9 debut operator: MinHash estimator calibration.

The audit a production dedup pipeline runs continuously at scale:
banded-candidate estimates (k agreeing signature slots / K) vs the
exact Jaccard of the same pairs, micro-averaged per k bin
(operators/dedup.minhash_calibration; catalog x_minhash_calibration
carries the full-SQL DuckDB oracle).
"""

import pytest
from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.operators.dedup import (
    minhash_calibration,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # planted structure: 0/1 identical, 2 a near-dup of them, 3/4
    # unrelated, 5 partially overlapping with 3
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
        (4, "red orange yellow green blue indigo violet pink"),
        (5, "one two three four nine ten eleven twelve"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_identical_docs_land_in_the_k_equals_K_bin_at_exact_one(spark, corpus):
    out = {
        r["k_agree"]: r
        for r in minhash_calibration(
            corpus, "doc_id", "text", num_hashes=32, bands=8, n=1
        ).collect()
    }
    top = out[32]
    # the identical pair: estimator 1.0 and exact Jaccard 1.0, exactly
    assert top["est_jaccard"] == 1.0
    assert top["micro_exact_jaccard"] == 1.0
    assert top["sum_inter"] == top["sum_union"]
    assert top["n_pairs"] >= 1


def test_bins_are_internally_consistent(spark, corpus):
    rows = minhash_calibration(
        corpus, "doc_id", "text", num_hashes=32, bands=8, n=1
    ).collect()
    assert rows, "no candidate pairs at all"
    ks = [r["k_agree"] for r in rows]
    assert ks == sorted(ks) and all(0 <= k <= 32 for k in ks)
    for r in rows:
        assert r["sum_inter"] <= r["sum_union"]
        assert 0.0 <= r["micro_exact_jaccard"] <= 1.0
        assert r["est_jaccard"] == r["k_agree"] / 32.0
        assert r["n_pairs"] >= 1
    # the planted near-dup pair (7/9 token overlap) must surface in a
    # high-k bin; the unrelated docs cannot reach k=32
    assert any(r["k_agree"] >= 20 and r["micro_exact_jaccard"] >= 0.5
               for r in rows)


def test_precision_recall_on_planted_corpus(spark, corpus):
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        minhash_precision_recall,
        minhash_near_duplicates,
        token_jaccard_pairs,
    )

    row = minhash_precision_recall(
        corpus, "doc_id", "text", num_hashes=32, bands=8, n=1,
        threshold=0.6,
    ).collect()[0]
    # cross-check against the two pair tiers it composes
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            corpus, "doc_id", "text", 32, 8, 1, threshold=0.6
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in token_jaccard_pairs(
            corpus, "doc_id", "text", threshold=0.6
        ).collect()
    }
    assert row["n_accepted"] == len(lsh)
    assert row["n_exact"] == len(exact)
    assert row["n_true_pos"] == len(lsh & exact)
    assert row["pair_precision"] == (
        len(lsh & exact) / len(lsh) if lsh else 0.0
    )
    assert row["pair_recall"] == (
        len(lsh & exact) / len(exact) if exact else 0.0
    )
    # the identical pair (0,1) is a guaranteed true positive
    assert (0, 1) in lsh and (0, 1) in exact


def test_precision_recall_empty_sides_guard(spark):
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        minhash_precision_recall,
    )

    # mutually disjoint docs: no exact pairs at tau, so recall's
    # denominator is 0 — the guard must emit 0.0, never a NULL/NaN
    rows = [(0, "aa bb cc"), (1, "dd ee ff"), (2, "gg hh ii")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = minhash_precision_recall(
        df, "doc_id", "text", num_hashes=32, bands=8, n=1,
        threshold=0.9,
    ).collect()[0]
    assert row["n_exact"] == 0 and row["pair_recall"] == 0.0
    assert row["pair_precision"] in (0.0, 1.0) or 0.0 <= row["pair_precision"] <= 1.0


def test_rewrites_agree_on_a_randomized_unicode_corpus(spark):
    """Fuzz insurance for the round-9 expression rewrites: on ~240
    deterministic pseudo-random texts (ASCII, punctuation, unicode
    letters, exotic whitespace, empties), the regexp_count token_count
    must equal the retired size(filter(split)) fold, the regexp_replace
    avg_token_len must equal the retired aggregate fold. (The MinHash
    twin's pin on the same corpus lives in tests/test_arrow_twin_edges.py.)"""
    import random

    from pyspark.sql import functions as F

    from sportstv_streaming_data_warehouse_spark.functions import text as T

    rng = random.Random(99)
    alphabets = [
        "abc def ghi",
        "päö üß éà çñ",
        "日本 語の テキスト",
        "a.b,c;d!e?f",
        "x\ty\nz\ru",
        "0 12 345",
        "     ",  # NBSP / em-space: \s matches some, not all
    ]

    def make_text():
        pieces = [rng.choice(alphabets) for _ in range(rng.randrange(0, 6))]
        return " ".join(pieces) if pieces else rng.choice(["", "   ", "\t\n"])

    rows = [(i, make_text()) for i in range(240)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    old_tc = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    t = F.filter(F.split(F.col("text"), r"\s+"), lambda s: s != "")
    old_total = F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, v: a + v)
    old_avg = F.when(F.size(t) > 0, old_total / F.size(t)).otherwise(F.lit(0.0))

    bad = df.select(
        old_tc.alias("otc"),
        T.token_count(F.col("text")).alias("ntc"),
        old_avg.alias("oavg"),
        T.avg_token_len(F.col("text")).alias("navg"),
    ).filter(
        ~F.col("otc").eqNullSafe(F.col("ntc"))
        | ~F.col("oavg").eqNullSafe(F.col("navg"))
    )
    assert bad.count() == 0, bad.limit(3).collect()


def test_ann_recall_cross_checks_its_composed_operators(spark):
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        lsh_bucketed_topk,
    )

    # clustered vectors so the LSH path has structure to find (random
    # vectors are the documented worst case)
    import random

    rng = random.Random(7)
    rows = []
    for i in range(120):
        center = [1.0 if (i % 3) == d % 3 else 0.0 for d in range(8)]
        rows.append(
            (i, [c + rng.gauss(0, 0.05) for c in center])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id < 6")

    kw = dict(k=3, dim=8, n_planes=4, n_tables=6, seed=5, portable=True)
    row = ann_recall_at_k(df, queries, **kw).collect()[0]
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=3).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(df, queries, **kw).collect()
    }
    assert row["n_exact_pairs"] == len(bf) == 18  # 6 queries x k=3
    assert row["n_ann_pairs"] == len(ann)
    assert row["n_hits"] == len(bf & ann)
    assert row["recall_at_k"] == len(bf & ann) / len(bf)
    # clustered data with 6 tables: the ANN tier must find most of it
    assert row["recall_at_k"] >= 0.5, row


def test_degenerate_docs_are_excluded_from_the_audits(spark, corpus):
    """Round-9 ADVICE pin: null/empty/whitespace-only docs get
    word_shingles' single "" fallback shingle in the dedup pipeline
    proper (they all band together — established, oracle-replayed
    semantics), but the AUDIT operators exclude them up front, because
    a SQL ground truth that tokenizes with empties dropped never sees
    them and Spark-only pairs would break the driver gate."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_precision_recall,
    )

    degenerate = spark.createDataFrame(
        [(100, ""), (101, "   "), (102, "\t\n"), (103, None)],
        "doc_id long, text string",
    )
    dirty = corpus.unionByName(degenerate)

    # pipeline semantics stand: the degenerate docs share one signature
    # and surface as candidate pairs at threshold 0
    cand = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            dirty, "doc_id", "text", 32, 8, 1, threshold=0.0
        ).collect()
    }
    assert (100, 101) in cand and (102, 103) in cand

    # audit semantics: planting the degenerate docs changes NOTHING
    kw = dict(num_hashes=32, bands=8, n=1)
    clean_cal = minhash_calibration(corpus, "doc_id", "text", **kw).collect()
    dirty_cal = minhash_calibration(dirty, "doc_id", "text", **kw).collect()
    assert clean_cal == dirty_cal
    clean_pr = minhash_precision_recall(
        corpus, "doc_id", "text", threshold=0.6, **kw
    ).collect()
    dirty_pr = minhash_precision_recall(
        dirty, "doc_id", "text", threshold=0.6, **kw
    ).collect()
    assert clean_pr == dirty_pr


def test_token_jaccard_cap_semantics_capped_vs_uncapped_sizes(spark):
    """Round-9 ADVICE pin: with max_token_docs active, the default
    similarity is the Jaccard of the POST-CAP (stopword-filtered) sets
    — the self-consistent definition the audits ship, stated honestly
    in the docstrings. uncapped_sizes=True keeps only the candidate
    join bounded and takes true set sizes: a strict LOWER BOUND, kept
    for callers who want the conservative semantics (round-10 measured
    it collapsing on zipf corpora, so it is NOT the audit default)."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    # "the" appears in all 4 docs -> capped away at max_token_docs=3;
    # docs 0/1 share {aa bb cc the}, docs 2/3 share only "the"
    rows = [
        (0, "the aa bb cc"),
        (1, "the aa bb cc dd"),
        (2, "the xx yy"),
        (3, "the zz ww"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in token_jaccard_pairs(
            df, "doc_id", "text", threshold=0.0, max_token_docs=3
        ).collect()
    }
    # post-cap sets: {aa,bb,cc} vs {aa,bb,cc,dd} -> 3/4
    assert capped[(0, 1)] == 3 / 4
    # docs 2/3 shared only the capped token -> no candidate pair at all
    assert (2, 3) not in capped

    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in token_jaccard_pairs(
            df, "doc_id", "text", threshold=0.0, max_token_docs=3,
            uncapped_sizes=True,
        ).collect()
    }
    # true sizes 4 and 5, capped intersection 3 -> 3/(4+5-3) = 1/2
    # (true Jaccard would be 4/5+... = 4/6; the intersection is a lower
    # bound under the cap, but the union term is the true set size)
    assert truth[(0, 1)] == 3 / (4 + 5 - 3)
    # and with no cap both modes are the plain exact Jaccard
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in token_jaccard_pairs(
            df, "doc_id", "text", threshold=0.0
        ).collect()
    }
    assert plain[(0, 1)] == 4 / 5


def test_pr_sample_fraction_is_deterministic_and_self_consistent(spark):
    """The sampled audit (round-9 verdict task 4): membership is exact
    affine-hash integer math, so the sampled scorecard must equal the
    scorecard of the hand-pre-filtered corpus, and fraction 1.0 must be
    a no-op."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _HASH_PRIME,
        _SAMPLE_INC,
        _SAMPLE_INC2,
        _SAMPLE_MULT,
        minhash_precision_recall,
    )

    rows = [
        (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} shared common")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=32, bands=8, n=1, threshold=0.5)

    frac = 0.5
    cut = int(frac * _HASH_PRIME)
    h1 = (
        F.col("doc_id").cast("bigint") * _SAMPLE_MULT + _SAMPLE_INC
    ) % _HASH_PRIME
    hand = df.filter(
        (h1 * F.col("doc_id").cast("bigint") + _SAMPLE_INC2) % _HASH_PRIME
        < cut
    )
    assert 0 < hand.count() < 40  # the sample is real and proper
    sampled = minhash_precision_recall(
        df, "doc_id", "text", sample_fraction=frac, **kw
    ).collect()
    replay = minhash_precision_recall(hand, "doc_id", "text", **kw).collect()
    assert sampled == replay

    full = minhash_precision_recall(df, "doc_id", "text", **kw).collect()
    noop = minhash_precision_recall(
        df, "doc_id", "text", sample_fraction=1.0, **kw
    ).collect()
    assert full == noop

    with pytest.raises(ValueError):
        minhash_precision_recall(
            df, "doc_id", "text", sample_fraction=0.0, **kw
        )
    with pytest.raises(ValueError):
        minhash_precision_recall(
            df, "doc_id", "text", sample_fraction=1.5, **kw
        )


def test_sample_hash_is_pairwise_well_mixed():
    """The sampled audits count PAIR survival, so the id-sample hash
    must be pairwise well-mixed, not merely uniform: a linear (Weyl)
    map never co-samples adjacent ids at fraction 0.25 and would
    annihilate id-adjacent dup families (measured in round 10). Pins
    joint membership ~= fraction^2 at small offsets for the shipped
    degree-2 polynomial (pure integer math, no Spark)."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _HASH_PRIME,
        _SAMPLE_INC,
        _SAMPLE_INC2,
        _SAMPLE_MULT,
    )

    def h(i):
        h1 = (i * _SAMPLE_MULT + _SAMPLE_INC) % _HASH_PRIME
        return (h1 * i + _SAMPLE_INC2) % _HASH_PRIME

    frac = 0.25
    cut = int(frac * _HASH_PRIME)
    n = 50_000
    mem = [h(i) < cut for i in range(n)]
    assert abs(sum(mem) / n - frac) < 0.01
    for d in (1, 2, 3, 5, 10):
        joint = sum(mem[i] and mem[i + d] for i in range(n - d)) / (n - d)
        assert abs(joint - frac * frac) < 0.01, (d, joint)


def test_sample_hash_is_ansi_safe_for_64bit_ids(spark):
    """Review pin: ids >= 2^32 (snowflake-style) must not overflow the
    sample hash in ANSI mode — the id is pre-reduced mod P so both
    multiplies stay under 2^62."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        deterministic_id_sample,
    )

    big = 5_000_000_000  # > 2^32
    df = spark.createDataFrame(
        [(big + i, "a b c") for i in range(64)], "doc_id long, text string"
    )
    n = deterministic_id_sample(df, "doc_id", 0.5).count()
    assert 0 < n < 64  # no ArithmeticException, and a real sample
