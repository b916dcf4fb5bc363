"""Semantic tests for the round-4 operators, beyond the DuckDB oracle
parity gate: grouped top-fraction selection must equal the plain
per-group window semantics on adversarial shapes, BM25 must behave at
the edges the sf fixtures don't exercise, and the global shuffle must be
a permutation."""

import random

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.functions.text import bm25_top_docs
from sportstv_streaming_data_warehouse_spark.operators.ranking import (
    grouped_top_fraction,
)

from .conftest import SF01


def _window_reference(df, group, order, idc, permille):
    """ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) <= ceil."""
    w = Window.partitionBy(group).orderBy(F.desc(order), F.asc(idc))
    wg = Window.partitionBy(group)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wg))
        .filter(F.col("__rn") <= (F.col("__n") * permille + 999) / 1000)
        .drop("__rn", "__n")
    )


def _assert_same_set(a_df, b_df, key_cols):
    a = sorted(tuple(r) for r in a_df.select(*key_cols).collect())
    b = sorted(tuple(r) for r in b_df.select(*key_cols).collect())
    assert a == b, f"kept-set mismatch: {len(a)} vs {len(b)} rows"


def test_grouped_top_fraction_matches_window_semantics(spark):
    rng = random.Random(7)
    rows = [
        (i, f"g{rng.randrange(4)}", float(rng.randrange(100)))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, ["id", "grp", "val"])
    for permille in (1, 200, 500, 997, 1000):
        got = grouped_top_fraction(
            df, "grp", "val", "id", keep_permille=permille, n_buckets=8
        )
        want = _window_reference(df, "grp", "val", "id", permille)
        _assert_same_set(got, want, ["id", "grp"])


def test_grouped_top_fraction_heavy_ties_and_constant_group(spark):
    # ties spanning the quota boundary + one group with a constant value
    # (degenerate single-bucket path) + a singleton group
    rows = (
        [(i, "ties", float(i % 3)) for i in range(100)]
        + [(1000 + i, "const", 5.0) for i in range(50)]
        + [(2000, "solo", 1.0)]
    )
    df = spark.createDataFrame(rows, ["id", "grp", "val"])
    got = grouped_top_fraction(df, "grp", "val", "id", keep_permille=300, n_buckets=8)
    want = _window_reference(df, "grp", "val", "id", 300)
    _assert_same_set(got, want, ["id", "grp"])


def test_grouped_top_fraction_empty_input(spark):
    df = spark.createDataFrame([], "id long, grp string, val double")
    assert grouped_top_fraction(df, "grp", "val", "id", keep_permille=200).count() == 0


def test_grouped_top_fraction_rejects_bad_permille(spark):
    df = spark.createDataFrame([(1, "g", 1.0)], ["id", "grp", "val"])
    for bad in (0, -5, 1001):
        try:
            grouped_top_fraction(df, "grp", "val", "id", keep_permille=bad)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_bm25_rejects_duplicated_query_terms(spark):
    df = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="duplicated query terms"):
        bm25_top_docs(df, "doc_id", "text", ["alpha", "beta", "alpha"])


def test_bm25_all_terms_absent_returns_empty(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], ["doc_id", "text"]
    )
    out = bm25_top_docs(df, "doc_id", "text", ["zzz", "qqq"], top_k=5)
    assert out.count() == 0


def test_bm25_rarity_beats_frequency_across_docs(spark):
    # 'rare' appears in 1 of 4 docs, 'common' in all 4 with equal tf and
    # equal doc lengths -> the rare-term doc must outrank common-only docs
    df = spark.createDataFrame(
        [
            (1, "rare common pad1 pad2"),
            (2, "common x pad1 pad2"),
            (3, "common y pad1 pad2"),
            (4, "common z pad1 pad2"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_top_docs(df, "doc_id", "text", ["rare", "common"], top_k=4)
    rows = out.orderBy(F.desc("bm25"), F.asc("doc_id")).collect()
    assert rows[0]["doc_id"] == 1 and rows[0]["n_matched"] == 2
    assert all(r["n_matched"] == 1 for r in rows[1:])


def test_bm25_matches_pure_python_reference_exactly(spark):
    """The operator's arithmetic is a FIXED tree of IEEE-754 ops, so a
    pure-Python recompute in the same order must match bit-for-bit — the
    same portability contract the DuckDB oracle checks, but on a random
    corpus rather than the fixtures."""
    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 40))))
        for i in range(200)
    ]
    terms = ["w0", "w7", "w19"]
    k1, b = 1.2, 0.75
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_matched"], r["bm25"])
        for r in bm25_top_docs(df, "doc_id", "text", terms, k1=k1, b=b, top_k=10).collect()
    }

    toks = {i: t.split() for i, t in docs}
    n_docs = len(docs)
    total_dl = sum(len(ts) for ts in toks.values())
    avgdl = float(total_dl) / float(n_docs)
    dfreq = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    scores = {}
    for i, ts in toks.items():
        s, matched = 0.0, 0
        for t in terms:
            tf = ts.count(t)
            if tf > 0:
                matched += 1
                idf = (float(n_docs - dfreq[t]) + 0.5) / (float(dfreq[t]) + 0.5)
                denom = float(tf) + k1 * (1.0 - b + b * (float(len(ts)) / avgdl))
                s = s + idf * (float(tf) * (k1 + 1.0)) / denom
            else:
                s = s + 0.0
        if matched:
            scores[i] = (matched, s)
    top = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    assert got == dict(top)


def test_incremental_dedup_catches_planted_dups_only(spark):
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        incremental_near_duplicates,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "red green blue yellow purple orange"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
            (101, "one two three four five six EIGHT"),    # near dup of 2
            (102, "totally novel content nothing shared"),  # clean
        ],
        ["doc_id", "text"],
    )
    pairs = incremental_near_duplicates(
        corpus, batch, "doc_id", "text", n=1, threshold=0.5
    ).collect()
    by_batch = {}
    for r in pairs:
        by_batch.setdefault(r["batch_id"], set()).add(r["corpus_id"])
    assert by_batch.get(100) == {1}
    assert by_batch.get(101) == {2}
    assert 102 not in by_batch
    # no within-side pairs ever appear: every pair is (batch, corpus)
    assert all(r["batch_id"] >= 100 and r["corpus_id"] < 100 for r in pairs)


def test_kmeans_recovers_separated_clusters(spark):
    # three well-separated blobs; one Lloyd round from arbitrary seeds
    # inside each blob must assign every point to its blob's centroid
    from sportstv_streaming_data_warehouse_spark.operators.clustering import (
        assign_clusters,
        lloyd_round,
        update_centroids,
    )

    rng = random.Random(3)
    rows = []
    for blob, center in enumerate([0.0, 100.0, 200.0]):
        for i in range(40):
            rows.append(
                (blob * 40 + i, [center + rng.uniform(-1, 1), center + rng.uniform(-1, 1)])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = df.filter(F.col("vec_id").isin([0, 40, 80])).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c")
    )
    assign, updated = lloyd_round(df, seeds)
    got = {r["vec_id"]: r["cluster_id"] for r in assign.collect()}
    assert all(got[i] == (i // 40) * 40 for i in range(120))
    # after the update, centroids sit at the blob means and a second
    # assignment is stable (Lloyd has converged on separated data)
    again = {r["vec_id"]: r["cluster_id"] for r in assign_clusters(df, updated).collect()}
    assert again == got
    # empty clusters vanish from the update
    lone = df.limit(0)
    assert update_centroids(lone, assign_clusters(lone, seeds)).count() == 0


def test_global_shuffle_is_a_permutation(spark):
    from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES

    out = QUERIES["x_global_shuffle"](spark, SF01).collect()
    positions = sorted(r["position"] for r in out)
    assert positions == list(range(1, len(out) + 1))
    assert len({r["doc_id"] for r in out}) == len(out)


def test_incremental_argmax_bigint_packing_roundtrip(spark):
    """The catalog's per-batch-doc argmax packs (est_jaccard desc,
    corpus_id asc) into one bigint so the aggregation hash-aggregates.
    Property-check the bit arithmetic over the full documented domain:
    ordering of packed values must equal the (est desc, id asc)
    tiebreak order, and unpacking must reproduce est_jaccard's exact
    double and the id — including the 2^44-1 id boundary."""
    import random

    from pyspark.sql import functions as F

    from sportstv_streaming_data_warehouse_spark.plans.catalog import _MH_K

    m44 = (1 << 44) - 1
    rng = random.Random(614)
    rows = [
        (rng.randint(0, _MH_K), rng.randint(0, m44))
        for _ in range(400)
    ] + [(0, 0), (0, m44), (_MH_K, 0), (_MH_K, m44)]
    df = spark.createDataFrame(
        [(k / float(_MH_K), cid) for k, cid in rows],
        "est_jaccard double, corpus_id long",
    )
    k = F.round(F.col("est_jaccard") * _MH_K).cast("long")
    packed = k * (1 << 44) + (F.lit(m44) - F.col("corpus_id"))
    got = df.select(
        "est_jaccard",
        "corpus_id",
        packed.alias("p"),
        (F.lit(m44) - packed.bitwiseAND(F.lit(m44))).alias("id_back"),
        (F.shiftright(packed, 44) / F.lit(float(_MH_K))).alias("est_back"),
    ).collect()
    for r in got:
        assert r["id_back"] == r["corpus_id"]
        assert r["est_back"] == r["est_jaccard"]  # exact double, no eps
    # packed order == (est desc, id asc) tiebreak order
    by_packed = sorted(got, key=lambda r: -r["p"])
    by_semantics = sorted(
        got, key=lambda r: (-r["est_jaccard"], r["corpus_id"])
    )
    assert [(r["est_jaccard"], r["corpus_id"]) for r in by_packed] == [
        (r["est_jaccard"], r["corpus_id"]) for r in by_semantics
    ]
