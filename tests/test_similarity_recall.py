"""ANN quality gates: LSH recall measured against exact brute force, and
MinHash-LSH candidate quality against exact token Jaccard."""

from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.operators.dedup import (
    minhash_near_duplicates,
    token_jaccard_pairs,
)
from sportstv_streaming_data_warehouse_spark.operators.similarity import (
    banded_cosine_pairs,
    brute_force_topk,
    cosine,
    ivf_topk,
    lsh_bucketed_topk,
)
from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

from .conftest import SF01


def test_lsh_ann_recall(spark):
    emb = load_table(spark, SF01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5)
    ann = lsh_bucketed_topk(emb, queries, k=5, dim=64, n_planes=5, n_tables=12)

    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    recall = len(e & a) / len(e)
    # random gaussian embeddings are the hardest case for LSH (no cluster
    # structure, top-5 cosines only ~0.4): 12 tables x 5 planes gives
    # P(hit) ~ 1-(1-p^5)^12 ~ 0.69 at those angles
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"
    # and every ANN similarity must be exact (scoring is not approximated)
    ann_sims = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in ann.collect()}
    exact_sims = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact.collect()}
    for k_, v in ann_sims.items():
        if k_ in exact_sims:
            assert abs(v - exact_sims[k_]) < 1e-9


def test_ivf_ann_recall(spark):
    emb = load_table(spark, SF01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5)
    ivf = ivf_topk(emb, queries, k=5, n_centroids=32, n_probe=8)

    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = ivf.collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(e & a) / len(e)
    # probing 8/32 cells scans ~25% of a structure-free corpus; the
    # query's own cell concentrates true neighbors above that floor
    assert recall >= 0.3, f"IVF recall too low: {recall:.2f}"
    # candidate scoring is exact: the raw IVF cosine rounds to brute
    # force's display-rounded value
    exact_sims = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact.collect()
    }
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert abs(round(r["cosine_sim"], 4) - exact_sims[key]) < 1e-9


def test_minhash_estimates_track_exact_jaccard(spark):
    """Like-for-like: unigram (n=1) minhash signatures vs exact TOKEN
    Jaccard, evaluated on strongly-similar pairs (>=0.8) where LSH
    banding (r=4, b=8) has ~0.99 candidate probability."""
    docs = load_table(spark, SF01, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in token_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert exact, "fixture should contain high-overlap docs"
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", num_hashes=32, bands=8, n=1, threshold=0.3
        ).collect()
    }
    hits = sum(1 for k in exact if k in est)
    assert hits / len(exact) >= 0.7, f"MinHash recall {hits/len(exact):.2f} on >=0.8 pairs"
    # estimates must track truth: mean absolute error bounded
    errs = [abs(est[k] - v) for k, v in exact.items() if k in est]
    assert sum(errs) / len(errs) < 0.15


def test_banded_cosine_pairs_vs_all_pairs(spark):
    """The banded catalog path is a subset of the exact all-pairs result
    (same refine predicate, candidates only pruned) and, with the pinned
    seed, catches every qualifying pair at this scale. The plan must be
    equi-join based — no CartesianProduct/BNLJ anywhere."""
    emb = load_table(spark, SF01, "embeddings")
    banded = banded_cosine_pairs(
        emb, threshold=0.5, dim=64, planes_per_band=8, n_bands=16, seed=40000
    )
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__eb"))
    exact = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine(F.col("__ea"), F.col("__eb")))
        .filter(F.col("cosine_sim") >= 0.5)
        .select("id_a", "id_b", "cosine_sim")
    )
    got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in banded.collect()}
    want = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in exact.collect()}
    assert set(got) <= set(want)
    assert got == want, "pinned seed must reach full recall at sf0.01"
    assert want, "fixture should contain at least one qualifying pair"


def test_pandas_signatures_match_jvm_fold(spark):
    """The Arrow-batched signature matmul must be bit-equal to the
    sequential-fold reference on the fixture corpus, and every projection
    must clear zero by orders of magnitude more than matmul-vs-fold
    rounding (~1e-13 relative) — the precondition that makes the fast
    path safe for the sign decision."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        banded_signatures_expr,
        banded_signatures_pandas,
        dot,
    )

    P, B, seed, dim = 8, 16, 40000, 64
    emb = load_table(spark, SF01, "embeddings")
    fast = emb.select(
        "vec_id", banded_signatures_pandas("embedding", dim, P, B, seed).alias("s")
    )
    ref = emb.select(
        "vec_id", banded_signatures_expr(F.col("embedding"), dim, P, B, seed).alias("s")
    )
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0

    from sportstv_streaming_data_warehouse_spark.operators.similarity import lcg_plane

    planes = [lcg_plane(dim, seed + j * dim) for j in range(P * B)]
    min_abs = emb.select(
        F.least(
            *[
                F.abs(dot(F.col("embedding"), F.array(*[F.lit(x) for x in p])))
                for p in planes
            ]
        ).alias("m")
    ).agg(F.min("m")).first()[0]
    assert min_abs > 1e-9, f"projection too close to zero: {min_abs}"


def test_catalog_simhash_fast_path_emits_exactness_audit(spark):
    """x_dedup_simhash (rows-only in the driver) pins its semantic
    contract in-band: the bounded-sample exact audit must report the
    pigeonhole-guaranteed recall of 1.0 on every row."""
    from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES

    rows = QUERIES["x_dedup_simhash"](spark, SF01).collect()
    assert rows, "expected near-dup pairs in the fixture corpus"
    assert all(r["audit_sample_recall"] == 1.0 for r in rows)
    assert all(r["recall_ok"] is True for r in rows)
    assert all(r["hamming"] <= 3 for r in rows)


def test_catalog_lsh_ann_emits_recall_bound(spark):
    """x_knn_lsh_ann (rows-only in the driver) emits its measured recall
    vs the exact brute-force twin; the 0.5 bound must hold and the
    constant column must equal an independently computed recall."""
    from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES

    rows = QUERIES["x_knn_lsh_ann"](spark, SF01).collect()
    assert rows
    recalls = {r["overall_recall"] for r in rows}
    assert len(recalls) == 1, "overall_recall must be constant"
    assert all(r["recall_ok"] is True for r in rows)

    emb = load_table(spark, SF01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    independent = len(exact & got) / len(exact)
    assert abs(recalls.pop() - independent) < 1e-12


def test_ivf_recall_scorecard_cross_checks_its_composed_operators(spark):
    """x_knn_ivf_recall (round-10 debut): the scorecard's counts must
    equal the set algebra of the two tiers it composes, and probing
    more cells must never lower recall (the n_probe tuning property
    the scorecard exists to expose)."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ivf_recall_at_k,
    )

    emb = load_table(spark, SF01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 12)
    kw = dict(k=5, n_centroids=32, n_probe=8)
    row = ivf_recall_at_k(emb, queries, **kw).collect()[0]
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, **kw).collect()
    }
    assert row["n_exact_pairs"] == len(bf) == 60  # 12 queries x k=5
    assert row["n_ann_pairs"] == len(ann)
    assert row["n_hits"] == len(bf & ann)
    assert row["recall_at_k"] == len(bf & ann) / len(bf)

    # monotonicity in n_probe: more probed cells => superset candidates
    lo = ivf_recall_at_k(emb, queries, k=5, n_centroids=32, n_probe=2).collect()[0]
    hi = ivf_recall_at_k(emb, queries, k=5, n_centroids=32, n_probe=16).collect()[0]
    assert lo["recall_at_k"] <= row["recall_at_k"] <= hi["recall_at_k"]


def test_recall_scorecards_sample_fraction_is_deterministic(spark):
    """sample_fraction on both recall scorecards must equal the
    scorecard of the hand-pre-filtered query set (the affine-hash
    membership is exact integer math), and 1.0 must be a no-op."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        deterministic_id_sample,
    )
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ann_recall_at_k,
        ivf_recall_at_k,
    )

    emb = load_table(spark, SF01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    hand = deterministic_id_sample(queries, "vec_id", 0.5)  # quad hash
    n_hand = hand.count()
    assert 0 < n_hand < 40

    ivf_kw = dict(k=5, n_centroids=32, n_probe=8)
    assert (
        ivf_recall_at_k(emb, queries, sample_fraction=0.5, **ivf_kw).collect()
        == ivf_recall_at_k(emb, hand, **ivf_kw).collect()
    )
    lsh_kw = dict(k=5, dim=64, n_planes=5, n_tables=6, seed=9, portable=True)
    assert (
        ann_recall_at_k(emb, queries, sample_fraction=0.5, **lsh_kw).collect()
        == ann_recall_at_k(emb, hand, **lsh_kw).collect()
    )
    assert (
        ivf_recall_at_k(emb, queries, sample_fraction=1.0, **ivf_kw).collect()
        == ivf_recall_at_k(emb, queries, **ivf_kw).collect()
    )


def test_pq_scorecard_cross_checks_its_composed_operators(spark):
    """x_knn_pq_recall (round-10 debut): scorecard counts equal the set
    algebra of brute force vs the PQ/ADC top-k; codes are valid
    codebook indices; the encode is deterministic under reshuffle."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        normalize_embeddings,
        pq_codebooks,
        pq_encode,
        pq_recall_at_k,
        pq_topk,
    )

    emb = load_table(spark, SF01, "embeddings")
    queries = emb.filter(F.col("vec_id") < 12)
    kw = dict(k=5, dim=64, m_subspaces=32, k_codes=32)
    row = pq_recall_at_k(emb, queries, **kw).collect()[0]
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, queries, **kw).collect()
    }
    assert row["n_exact_pairs"] == len(bf) == 60
    assert row["n_ann_pairs"] == len(ann) == 60
    assert row["n_hits"] == len(bf & ann)
    assert row["recall_at_k"] == len(bf & ann) / len(bf)
    # random vectors are the documented worst case; M=32/K=32 must
    # still beat chance by a wide margin (matches the LSH/IVF band)
    assert row["recall_at_k"] >= 0.3, row

    books = pq_codebooks(emb, dim=64, m_subspaces=32, k_codes=32)
    assert len(books) == 32 and all(len(b) == 32 for b in books)
    assert all(len(c) == 2 for b in books for c in b)
    enc = pq_encode(
        normalize_embeddings(emb.select("vec_id", "embedding")), books
    )
    codes = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert all(
        len(cs) == 32 and all(0 <= c < 32 for c in cs)
        for cs in codes.values()
    )
    again = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(
            normalize_embeddings(
                emb.select("vec_id", "embedding").repartition(7)
            ),
            books,
        ).collect()
    }
    assert codes == again


def test_ivfpq_composition_law_and_recall_bounds(spark):
    """The composed IVF×PQ top-k must equal the PQ/ADC ranking
    RESTRICTED to the IVF candidate set — pair for pair, rank for
    rank, double for double (the property that lets the SQL oracle
    compose the two existing pipeline prologues unchanged). Recall is
    bounded by both tiers' own scorecards and must still beat chance
    on the random worst-case fixtures."""
    import collections

    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ivf_topk,
        ivfpq_recall_at_k,
        ivfpq_topk,
        pq_topk,
    )

    emb = load_table(spark, SF01, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["approx_sq_l2"])
        for r in ivfpq_topk(emb, q, k=5).collect()
    }
    # the IVF candidate set (k unbounded) x the PQ approximate distance
    ivf_cand = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, k=10**9, n_centroids=32, n_probe=8).collect()
    }
    pq_ad = {
        (r["query_id"], r["neighbor_id"]): r["approx_sq_l2"]
        for r in pq_topk(emb, q, k=10**9).collect()
    }
    per_q = collections.defaultdict(list)
    for qq, nn in ivf_cand:
        per_q[qq].append((pq_ad[(qq, nn)], nn))
    expect = {
        (qq, nn, rank, ad)
        for qq, lst in per_q.items()
        for rank, (ad, nn) in enumerate(sorted(lst)[:5], 1)
    }
    assert got == expect and len(got) == 50

    row = ivfpq_recall_at_k(emb, q, k=5).collect()[0]
    assert row["n_exact_pairs"] == row["n_ann_pairs"] == 50
    assert row["recall_at_k"] == row["n_hits"] / 50
    # bounded above by each tier alone; chance on 1000 vectors is
    # ~0.005 — the composed path must still clearly beat it (measured
    # 0.36 vs IVF 0.58 x PQ 0.60 on these fixtures)
    assert 0.2 <= row["recall_at_k"] <= 0.75, row


def test_ivf_cell_stats_occupancy_audit(spark):
    """q_ivf_cell_skew's operator: exact occupancy accounting on the
    fixtures, and a PLANTED two-hot-cell corpus (two orthogonal
    directions; ties send each direction to its first centroid) where
    the expected histogram is computable by hand — the audit must read
    exactly (2 cells x 32 vectors, ratio 16.0)."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ivf_cell_stats,
    )

    emb = load_table(spark, SF01, "embeddings")
    rows = ivf_cell_stats(emb, n_centroids=32).collect()
    total = emb.count()
    assert sum(r["n_vectors"] for r in rows) == total
    for r in rows:
        assert r["occupancy_ratio"] == r["n_vectors"] * 32.0 / total

    planted = spark.createDataFrame(
        [
            (i, [1.0, 0.0, 0.0, 0.0] if i < 32 else [0.0, 1.0, 0.0, 0.0])
            for i in range(64)
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["centroid_id"], r["n_vectors"], r["occupancy_ratio"])
        for r in ivf_cell_stats(planted, n_centroids=32).collect()
    }
    # stride 2 samples even ids: 16 centroids per direction; every
    # vector ties across its direction's centroids and the tie-break
    # lands on the first (ids 0 and 32) — 2 hot cells, 30 empty
    assert got == {(0, 32, 16.0), (32, 32, 16.0)}


def test_ivfpq_prebuilt_index_serve_matches_inline(spark, tmp_path):
    """Build-once / serve-many parity: ivfpq_serve_topk over the
    materialized index (centroid_id-partitioned codes + model.json)
    must equal the inline ivfpq_topk BIT-FOR-BIT — both through the
    in-memory model and through the JSON reload (floats round-trip
    exactly) — and the serve scan must carry the probed-cell partition
    filter so the parquet read prunes to n_probe/n_centroids of the
    files (the measured 2.9-3.0x serve win, SCALE.md round 11)."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_serve_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, SF01, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivfpq_index")
    model = ivfpq_index_build(emb, idx)
    assert len(model["centroids"]) == 32
    assert len(model["codebooks"]) == 32

    inline = sorted(map(tuple, ivfpq_topk(emb, q, k=5).collect()))
    served = ivfpq_serve_topk(spark, idx, q, k=5, n_probe=8, model=model)
    assert sorted(map(tuple, served.collect())) == inline
    # the model.json reload path must be identical too
    reloaded = ivfpq_serve_topk(spark, idx, q, k=5, n_probe=8)
    assert sorted(map(tuple, reloaded.collect())) == inline

    # partition pruning: the codes scan carries the probed-cell IN list
    # as a PartitionFilter (not a post-scan Filter over all files)
    plan = served._jdf.queryExecution().executedPlan().toString()
    seg = plan[plan.index("PartitionFilters"):]
    assert "centroid_id" in seg[: seg.index("]") + 1]


def test_ivfpq_index_audit_detects_planted_drift(spark, tmp_path):
    """round-12 (verdict task 7): the freshness audit. Fresh index ->
    fresh=True; an inserted corpus row -> row-count drift; a same-count
    id swap -> id-fingerprint drift; an in-place vector mutation (same
    ids, same counts) -> content-fingerprint drift (only the stored
    per-row vec_hash can see it)."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        ivfpq_index_audit,
        ivfpq_index_build,
    )

    emb = load_table(spark, SF01, "embeddings").filter(F.col("vec_id") < 200)
    idx = str(tmp_path / "audit_index")
    ivfpq_index_build(emb, idx)

    a = ivfpq_index_audit(spark, idx, emb)
    assert a["fresh"] and a["row_count_match"]
    assert a["id_fingerprint_match"] and a["content_check"] == "ok"

    grown = emb.unionByName(
        emb.filter(F.col("vec_id") == 0).withColumn(
            "vec_id", F.lit(999_999).cast("long")
        )
    )
    g = ivfpq_index_audit(spark, idx, grown)
    assert not g["fresh"] and not g["row_count_match"]

    swapped = emb.withColumn(
        "vec_id",
        F.when(F.col("vec_id") == 0, F.lit(999_999).cast("long")).otherwise(
            F.col("vec_id")
        ),
    )
    s = ivfpq_index_audit(spark, idx, swapped)
    assert not s["fresh"] and s["row_count_match"]
    assert not s["id_fingerprint_match"]

    mutated = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 0,
            F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    m = ivfpq_index_audit(spark, idx, mutated)
    assert not m["fresh"] and m["row_count_match"]
    assert m["id_fingerprint_match"] and m["content_check"] == "mismatch"

    # a pre-vec_hash index degrades to 'unavailable', never a false verdict
    legacy = spark.read.parquet(f"{idx}/codes").drop("vec_hash")
    legacy_dir = str(tmp_path / "legacy_index")
    legacy.write.partitionBy("centroid_id").parquet(f"{legacy_dir}/codes")
    la = ivfpq_index_audit(spark, legacy_dir, emb)
    assert la["content_check"] == "unavailable" and la["fresh"]
