"""Similarity search over embedding columns (array<float>).

Not in the reference (its only lookups are equi-joins); this is the
LLM-pipeline extension from BASELINE.json's north star. The operators:

- brute_force_topk: exact cosine top-k. The query side is broadcast, so
  the corpus is scanned once with no shuffle of the big side. Correct at
  any corpus size, cost O(|corpus|·|queries|·dim) — the ground truth the
  ANN tiers' recall scorecards measure against.
- banded_cosine_pairs: semantic near-duplicate pairs via sign-LSH
  banding plus an exact cosine refine.
- lsh_bucketed_topk: random-hyperplane LSH. Sign-bit signatures bucket
  the corpus; candidates come from one equi-join on (table, bucket), so
  work scales with bucket occupancy, not corpus². Recall < 1 by design.
- ivf_topk / pq_topk / ivfpq_topk (+ the prebuilt-index
  ivfpq_serve_topk): centroid-cell probing, product-quantized ADC
  scoring, and their composition.

Every top-k ranks within a query by score, ties to the smaller
neighbor_id (``_per_query_topk``).

Vector math is JVM-side higher-order functions (zip_with/aggregate in
double precision) except at five sites where an Arrow-batched
pandas_udf was measured faster and is pinned bit-identical (finite
inputs) to an interpreted expression kept beside it:
``banded_signatures_pandas`` / ``banded_signatures_expr`` and
``dot_pandas`` / ``dot`` (banded_cosine_pairs), ``table_signatures_pandas``
/ ``lsh_signature`` (lsh_bucketed_topk), ``ivf_assign_ids_pandas`` /
``_ivf_assign_expr`` (IVF cell assignment) and ``pq_dists_pandas`` /
``_pq_subspace_dists`` (PQ codes and query tables). Each runs on one
path only; the expression twins exist for tests/test_arrow_twin_edges.py.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (sequential fold — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def arrow_pair_fold(kernel):
    """Shared scaffolding for the Arrow-batched bit-identical fold twins
    (dot_pandas / clustering's squared-L2): stacks the two array columns
    to (n, dim) float64 matrices — float32→float64 widening is exact —
    runs ``kernel(np, A, B) -> (n,) float64``, and owns the edge policy
    in ONE audited spot (round-8 review finding: the policy previously
    lived in three copies):

    - NULL ARRAYS (either side) yield NULL, via the per-row fallback;
    - RAGGED lengths in a batch fall back to an exact per-row fold;
    - a-vs-b WIDTH MISMATCH yields NULL per row, matching zip_with's
      null-padding (the shorter side pads with NULL, the product and
      fold propagate it): the batch path re-checks A/B widths after
      stacking — each side can be internally uniform yet differ from
      the other, which vstack alone cannot catch — and mismatched rows
      route through the same per-row fallback;
    - NULL ELEMENTS yield NULL, matching the JVM fold: Arrow presents a
      null element as NaN, the fold propagates it, and the pandas→Arrow
      return serializer maps NaN back to SQL NULL (verified: a NaN cell
      collects as None, isnan()=0/isNull()=1). The one deliberate
      divergence: true NaN DATA also lands NULL where the JVM fold
      keeps NaN — the safe direction, since Spark sorts NaN ABOVE every
      number and passes ``NaN >= threshold``, which would rank a
      corrupt vector as the #1 neighbor.

    The kernel must fold dimensions in ASCENDING order with one
    correctly-rounded op per step (never matmul) to stay bit-identical
    to the interpreted JVM fold for all finite inputs.

    The returned UDF is deterministic; a call site whose plan duplicates
    the evaluation marks it itself (``dot_pandas``).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _fold(sa, sb):
        import numpy as _np
        import pandas as _pd

        try:
            if sa.isna().any() or sb.isna().any():
                # vstack on a batch whose nulls happen to be UNIFORM
                # (e.g. all-None) does NOT raise — it builds a (n, 1)
                # object matrix — so nulls are detected explicitly
                raise ValueError("null arrays in batch")
            A = _np.vstack(sa.values).astype(_np.float64)
            B = _np.vstack(sb.values).astype(_np.float64)
            if A.shape[1] != B.shape[1]:
                # uniform-but-unequal widths: vstack succeeds on both
                # sides, so without this the kernel would IndexError
                # (A wider) or silently dot over only A's dims (A
                # narrower) — zip_with returns NULL for both
                raise ValueError("a/b width mismatch")
            return _pd.Series(kernel(_np, A, B))
        except (ValueError, IndexError):  # ragged/null/width-mismatched
            def one(v, w):
                if v is None or w is None or len(v) != len(w):
                    return None
                a1 = _np.asarray(v, dtype=_np.float64).reshape(1, -1)
                b1 = _np.asarray(w, dtype=_np.float64).reshape(1, -1)
                return float(kernel(_np, a1, b1)[0])

            return _pd.Series([one(v, w) for v, w in zip(sa, sb)])

    return _fold


def dot_pandas(a: Column, b: Column) -> Column:
    """``dot`` as an Arrow-batched pandas_udf, BIT-IDENTICAL to the JVM
    fold for finite inputs: one correctly-rounded product per dimension
    in ascending order — exactly ``acc + (xᵢ·yᵢ)`` — verified over the
    full 182K-pair refine table with zero bit mismatches.

    Deployment is PER-SITE, decided by measurement (round-9 A/B): the
    twin pays 2 x dim doubles of Arrow serialization per pair for ~dim
    flops, so it only beats the interpreted JVM fold where the pair
    volume is large for the bytes shipped — the banded_cosine_pairs
    refine (1.42x faster inside x_hard_negatives) keeps it; the
    broadcast-unfold shapes (brute-force kNN 1.9x, IVF assign 1.35x,
    LSH refine 1.18x FASTER on the JVM fold) were reverted. Closure
    self-contained; edge policy (null/ragged/NaN/width-mismatch) in
    ``arrow_pair_fold``.

    Marked non-deterministic: in the refine the threshold
    filter otherwise planned ArrowEvalPython → Filter → ArrowEvalPython,
    charging every surviving pair the dot twice (r14 plan audit). The
    marking costs semantic plan equality (AQE exchange reuse, cache
    matching), which is why ``arrow_pair_fold`` leaves it to this site
    and clustering's squared-L2 stays deterministic."""

    def _kernel(_np, A, B):
        acc = _np.zeros(len(A))
        for d in range(A.shape[1]):
            acc = acc + A[:, d] * B[:, d]
        return acc

    return arrow_pair_fold(_kernel).asNondeterministic()(a, b)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _per_query_topk(
    scored: DataFrame, query_id_col: str, score: Column, k: int
) -> DataFrame:
    """Number each query's candidates by ``score`` (ties to the smaller
    neighbor_id) into ``rank`` and keep ranks <= k — the one top-k
    every search operator here ends with."""
    w = Window.partitionBy(query_id_col).orderBy(score, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan + windowed top-k.

    Returns (query_id, neighbor_id, rank, cosine_sim) excluding self-pairs.
    Ties broken by neighbor_id for determinism.
    """
    # norms are precomputed per side BEFORE the cross join — each pair
    # then costs one dot-fold instead of three (dot + two norms)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
    ).withColumn("__qnorm", norm(F.col("__qvec")))
    c = _ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ).withColumn("__cnorm", norm(F.col("__cvec")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn(
            "cosine_sim",
            # JVM fold, NOT the Arrow twin: on the broadcast-unfold shape
            # every pair ships BOTH 64-double vectors across the Arrow
            # boundary for one dot each — measured 1.9x SLOWER than the
            # interpreted fold at sf0.1 (round-9 per-site A/B; the twin
            # stays on shapes where Python work per serialized byte is
            # high — see banded_cosine_pairs)
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    return _per_query_topk(scored, query_id_col, F.desc("cosine_sim"), k).select(
        query_id_col,
        "neighbor_id",
        "rank",
        F.round("cosine_sim", 4).alias("cosine_sim"),
    )


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-normalize vectors JVM-side (whole-stage codegen path)."""
    n = norm(F.col(vec_col))
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double") / n)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


# LCG-derived hyperplanes: every component is an EXACT dyadic rational
# ((a*k + c) mod 2^31) / 2^31 - 0.5, so any engine that can do 64-bit
# integer arithmetic reproduces the identical doubles — which makes
# sign-LSH banding auditable by plain SQL (the DuckDB oracle recomputes
# the same planes from the same recurrence; plans/catalog.py).
LCG_A, LCG_C, LCG_M = 1103515245, 12345, 2**31


def lcg_plane(dim: int, k0: int) -> list[float]:
    """One deterministic pseudo-random hyperplane starting at LCG index k0."""
    return [
        ((LCG_A * (k0 + d) + LCG_C) % LCG_M) / LCG_M - 0.5 for d in range(dim)
    ]


def banded_signatures_expr(
    vec: Column, dim: int, planes_per_band: int, n_bands: int, seed: int
) -> Column:
    """Reference band-signature computation: per-plane sequential
    ``aggregate`` folds (bit-exact with the SQL oracle, but interpreted —
    higher-order functions don't enter whole-stage codegen, so this is
    ~100x slower than the Arrow path below). Kept as the semantics
    reference the pandas twin is pinned against in tests."""
    return F.array(
        *[
            lsh_signature(
                vec,
                [
                    lcg_plane(dim, seed + (b * planes_per_band + i) * dim)
                    for i in range(planes_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


def banded_signatures_pandas(
    vec_col: str,
    dim: int,
    planes_per_band: int,
    n_bands: int,
    seed: int,
) -> Column:
    """Band signatures via one Arrow-batched numpy matmul — the
    vectorized-Python escape hatch (SURVEY §2.11) for math Spark's
    interpreted HOFs make 100x slower than necessary.

    float64 matmul may round a projection differently from the sequential
    fold by ~1e-13 relative, which could only flip a SIGN (and thus a
    signature bit) for a projection within that distance of zero.
    tests/test_similarity_recall.py pins this path bit-equal to
    ``banded_signatures_expr`` on the fixtures and asserts every
    |projection| clears the margin by orders of magnitude.

    Like ``table_signatures_pandas``, bit-identity is scoped to FINITE
    inputs: a NaN projection gives bit 0 here (numpy ``>= 0`` is False)
    but bit 1 in the JVM expression (Spark sorts NaN above numbers) —
    the documented safe-direction divergence, pinned by
    tests/test_arrow_twin_edges.py."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(s):
        # self-contained closure: executors import nothing from the repo
        import numpy as _np

        A, C, M = 1103515245, 12345, 2**31
        n_planes = planes_per_band * n_bands
        k = seed + _np.arange(n_planes * dim, dtype=_np.int64)
        H = ((A * k + C) % M) / M - 0.5  # (n_planes*dim,) exact dyadics
        H = H.reshape(n_planes, dim).T  # (dim, n_planes)
        weights = (1 << _np.arange(planes_per_band, dtype=_np.int64))

        def one(v):
            if v is None:
                return None
            proj = _np.asarray(v, dtype=_np.float64) @ H  # (n_planes,)
            bits = (proj >= 0).reshape(n_bands, planes_per_band)
            return (bits * weights).sum(axis=1)

        return s.map(one)

    # Non-deterministic marking (guide §4.4): the optimizer infers a
    # `size(sigs) > 0 AND isnotnull(sigs)` filter from the posexplode
    # Generate and pushes it BELOW _ensure_parallelism's exchange,
    # duplicating the whole signature matmul for every row (r14 plan
    # audit: ArrowEvalPython at nodes 2 AND 6 of
    # plans/r14/x_hard_negatives_before.txt). The UDF never returns
    # null/empty for a non-null vector and posexplode skips null/empty
    # anyway, so one evaluation yields identical rows. Callers keep the
    # call in a Project and explode the column reference: a
    # non-deterministic expression directly inside Generate fails
    # analysis.
    return _sigs.asNondeterministic()(vec_col)


def banded_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    dim: int = 64,
    planes_per_band: int = 8,
    n_bands: int = 16,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs via sign-LSH banding + exact refine.

    ``payload_cols`` rides extra per-vector columns through the refine
    joins the pipeline ALREADY makes (the vector re-attach), surfacing
    them as ``<col>_a`` / ``<col>_b`` on each pair — so a consumer that
    needs per-side attributes (hard-negative mining needs labels) pays
    zero additional shuffles of the pair table instead of two
    full-width joins after the fact.

    ``max_bucket_size`` skips (band, signature) buckets larger than the
    cap — the quadratic-blowup guard for dup-heavy corpora, analogous to
    token-Jaccard's ``max_token_docs``: an oversized bucket is a
    low-information hash collision whose pair explosion costs n² while
    its members almost always still co-occur in another, smaller bucket.
    None (the default, used by the oracle-matched catalog query) keeps
    every bucket.

    Candidate pairs are rows agreeing on at least one band signature
    (equi-join on (band, signature) — work scales with bucket occupancy,
    never corpus²); each candidate is then scored with the exact cosine
    and kept when >= threshold. Returns (id_a, id_b, cosine_sim) with
    id_a < id_b. Fully deterministic: the planes come from ``lcg_plane``,
    so the result is a pure function of (data, params) and a SQL oracle
    can replicate it bit-for-bit.

    Recall is the standard banding curve 1-(1-p^P)^B with
    p = 1 - theta/pi; with the defaults, pairs at cosine 0.9 are caught
    with probability ~0.996. tests/test_similarity_recall.py pins the
    banded result against the all-pairs expression at test scale.
    """
    df = _ensure_parallelism(df)  # signature math is per-row heavy
    # Candidate generation: group ids per (band, signature) bucket and
    # emit in-bucket pairs by exploding the sorted id list. One pass over
    # the signatures (a self-JOIN would evaluate the signature subtree —
    # and its pandas UDF — once per side), one shuffle of bare
    # (band, sig, id) rows, and candidates carry IDS ONLY — the vectors
    # re-join below, shrinking the wide shuffle ~50×. In-bucket pair
    # blowup is quadratic in bucket occupancy by construction (same as
    # any LSH join); oversized buckets mean the banding parameters are
    # too coarse for the corpus — raise planes_per_band (SCALE.md).
    s = df.select(
        F.col(id_col).alias("vec_id"),
        banded_signatures_pandas(
            vec_col, dim, planes_per_band, n_bands, seed
        ).alias("__sigs"),
    ).select("vec_id", F.posexplode("__sigs").alias("band", "sig"))
    buckets = (
        s.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # refine: re-attach vectors (+ precomputed norms — one per vector
    # instead of one per pair) and keep exact-cosine >= threshold
    payload = list(payload_cols or [])
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__ea"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    ).withColumn("__na", norm(F.col("__ea")))
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__eb"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    ).withColumn("__nb", norm(F.col("__eb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine_sim",
            # dot_pandas, not dot: this is the one per-PAIR dot in the
            # module (every other call site is per-vector or against
            # literal planes) — the Arrow batch beats the interpreted
            # HOF fold ~25% here, bit-identically; non-deterministic so
            # the threshold filter evaluates it once (see dot_pandas)
            dot_pandas(F.col("__ea"), F.col("__eb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            "id_a",
            "id_b",
            "cosine_sim",
            *[f"{c}_a" for c in payload],
            *[f"{c}_b" for c in payload],
        )
    )


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id from sign bits of hyperplane projections (JVM-side)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(x) for x in p]))
        bit = F.when(proj >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def table_signatures_pandas(
    vec_col: str | Column,
    planes_by_table: list[list[list[float]]],
) -> Column:
    """All hash-table bucket ids in one Arrow batch, BIT-IDENTICAL to
    ``lsh_signature`` per table: projections accumulate one correctly-
    rounded product per dimension in ascending order (the same
    ``acc + vᵢ·pᵢ`` fold — deliberately NOT a matmul, whose reordered
    summation could flip a sign at the zero boundary), so every bucket
    id matches the JVM expression and the x_knn_lsh_poly SQL oracle
    exactly. Exists because Catalyst evaluates the fold interpreted:
    n_tables x n_planes folds PER ROW dominated lsh_bucketed_topk's
    wall. The closure captures only the plane floats — executors import
    nothing from the repo; nulls fall back to an exact per-row fold.

    Bit-identity is scoped to FINITE inputs — the same deliberate NaN
    divergence ``arrow_pair_fold`` declares: for a NaN-valued vector
    numpy's ``acc >= 0`` is False (bit 0) while Spark orders NaN above
    every number so ``proj >= 0`` is true (bit 1). A corrupt vector thus
    lands in a DIFFERENT bucket than the JVM expression would pick —
    the safe direction (it stops colliding with real ones), pinned by
    tests/test_arrow_twin_edges.py."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(s):
        import numpy as _np
        import pandas as _pd

        def batch(V):
            n = len(V)
            out = _np.zeros((n, len(planes_by_table)), dtype=_np.int64)
            for t, planes in enumerate(planes_by_table):
                sig = _np.zeros(n, dtype=_np.int64)
                for i, p in enumerate(planes):
                    acc = _np.zeros(n)
                    for d, pd_ in enumerate(p):
                        acc = acc + V[:, d] * pd_
                    sig = sig | ((acc >= 0).astype(_np.int64) << i)
                out[:, t] = sig
            return out

        try:
            if s.isna().any():
                # explicit: vstack on an ALL-null batch silently builds
                # a (n, 1) object matrix instead of raising, and the
                # plane loop then IndexErrors past column 0
                raise ValueError("null arrays in batch")
            V = _np.vstack(s.values).astype(_np.float64)
            return _pd.Series(list(batch(V)))
        except ValueError:  # ragged lengths / nulls in this batch
            def one(v):
                if v is None:
                    return None
                return batch(
                    _np.asarray(v, dtype=_np.float64).reshape(1, -1)
                )[0]

            return _pd.Series([one(v) for v in s])

    # Non-deterministic for the same §4.4 reason as
    # banded_signatures_pandas: a filter inferred from the downstream
    # posexplode otherwise duplicates the whole signature evaluation
    # below the nearest exchange. Callers must keep the UDF inside a
    # Project (materialize the array column first, then explode the
    # column reference) — a non-deterministic expression directly
    # inside Generate fails analysis.
    return _sigs.asNondeterministic()(vec_col)


def _ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    total: int | None = None,
) -> DataFrame:
    """The IVF cell centroids: a deterministic stride sample of corpus
    vectors (every n-th by id — kmeans would tighten cells but sampling
    keeps the operator dependency-free and reproducible). Shared by
    ivf_topk, ivfpq_topk and ivf_cell_stats so the tiers cannot
    silently diverge on what "the IVF cells" are (the same discipline
    as the oracles' shared _IVF_PIPELINE_CTES prologue). ``total``
    skips the row count when the caller already holds it."""
    if total is None:
        total = corpus.count()
    step = max(total // n_centroids, 1)
    return (
        corpus.filter(F.pmod(F.col(id_col), F.lit(step)) == 0)
        .orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("__centroid"),
        )
    )


def ivf_assign_ids_pandas(
    vec_col, cents: list[tuple[int, list[float]]], keep: int
) -> Column:
    """Top-``keep`` centroid ids per vector in ONE Arrow batch —
    value-identical to the expression path's
    crossJoin(broadcast(centroids)) → interpreted dot fold →
    row_number window (dot DESC, centroid_id ASC) ≤ keep, whose window
    shuffled |df| × k WIDE rows (each carrying the full vector) and
    sorted k rows per id. Here the vector column crosses the Python
    boundary ONCE and all k dots + the argsort happen in the batch —
    no expansion, no exchange, no sort (guide §4.2/§2.4; the round-9
    "Arrow dot loses" measurement was about per-PAIR dots where BOTH
    vectors cross per pair — with the centroids as closure literals
    only one side crosses, once per row).

    Bit-identity contract (pinned in tests/test_arrow_twin_edges.py):

    - dots accumulate one correctly-rounded product per dimension in
      ascending order (``acc + vᵢ·cᵢ`` — NOT a matmul, whose reordered
      summation could differ in the last ulp and flip a tie);
    - ties: equal dots order by centroid_id ASC (stable argsort over
      centroid columns pre-sorted by id);
    - NULL vector / width mismatch → the expression dot is NULL, which
      desc-orders LAST; the per-row fallback reproduces that exactly;
    - NaN dots (corrupt vectors) order FIRST (Spark sorts NaN above
      every number; the fallback replays that). A null ELEMENT reaches
      the kernel as NaN (Arrow's list-of-float conversion), where the
      expression path yields a NULL dot — the same documented
      safe-direction divergence every float twin in this module
      declares; clean corpora are bit-identical.

    The closure captures only centroid (id, floats) pairs — executors
    import nothing from the repo.
    """
    from pyspark.sql.functions import pandas_udf

    cids = [int(c) for c, _ in cents]
    cvecs = [[float(x) for x in v] for _, v in cents]

    @pandas_udf("array<long>")
    def _assign(s):
        import math

        import numpy as _np
        import pandas as _pd

        k = len(cids)
        widths = {len(v) for v in cvecs}
        C = (
            _np.asarray(cvecs, dtype=_np.float64)
            if len(widths) == 1
            else None
        )
        cid_arr = _np.asarray(cids, dtype=_np.int64)

        def dot1(v, c):
            if v is None or len(v) != len(c):
                return None
            acc = 0.0
            for x, y in zip(v, c):
                if x is None or y is None:
                    return None
                acc = acc + float(x) * float(y)
            return acc

        def fallback(v):
            ds = [dot1(v, c) for c in cvecs]

            def key(j):
                d = ds[j]
                if d is None:
                    return (2, 0.0, cids[j])  # NULL dot: desc orders last
                if math.isnan(d):
                    return (0, 0.0, cids[j])  # NaN: Spark sorts it first
                return (1, -d, cids[j])

            return [cids[j] for j in sorted(range(k), key=key)[:keep]]

        vals = s.values
        vectorizable = C is not None
        if vectorizable:
            width = C.shape[1]
            for v in vals:
                if v is None or len(v) != width:
                    vectorizable = False
                    break
        if not vectorizable:
            return _pd.Series([fallback(v) for v in vals])
        V = _np.vstack(vals).astype(_np.float64)
        acc = _np.zeros((len(vals), k))
        for d in range(V.shape[1]):
            acc = acc + V[:, d : d + 1] * C[:, d]
        order = _np.argsort(-acc, axis=1, kind="stable")[:, :keep]
        res = [row.tolist() for row in cid_arr[order]]
        # any non-finite dot (NaN from corrupt input, ±inf overflow)
        # reruns that row through the exact comparator
        for i in _np.nonzero(~_np.isfinite(acc).all(axis=1))[0]:
            res[int(i)] = fallback(vals[int(i)])
        return _pd.Series(res)

    return _assign(vec_col)


def _ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec: str,
    keep: int,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Cell assignment: argmax-dot against the centroid set, tie-broken
    by centroid_id; ``keep`` = 1 assigns (corpus side), ``keep`` =
    n_probe probes (query side).

    The centroids become closure literals of one Arrow batch kernel
    (ivf_assign_ids_pandas) — the bounded ≤ n_centroids-row collect is
    the same build-side driver hop pq_codebooks already makes, and it
    replaces a |df|×k wide-row window shuffle with a per-row map
    (round 15). ``cents`` lets a caller that assigns
    twice (ivf_topk, ivfpq_topk) collect once."""
    if cents is None:
        cents = collect_centroids(centroids)
    out = df.withColumn(
        "__cids", ivf_assign_ids_pandas(F.col(vec), cents, keep)
    )
    # the UDF array is materialized in a Project and the explode
    # references the column, so the Generate's inferred size()>0 filter
    # lands on the column, not on a second UDF evaluation (§4.4 shape
    # verified in plans/r15)
    return out.select(
        *df.columns, F.explode("__cids").alias("centroid_id")
    ).drop("__cids")


def _ivf_assign_expr(
    df: DataFrame, centroids: DataFrame, idc: str, vec: str, keep: int
) -> DataFrame:
    """``_ivf_assign`` as the interpreted expression it replaced:
    crossJoin(broadcast(centroids)) → dot fold → row_number window
    (dot DESC, centroid_id ASC) ≤ keep. The reference
    ivf_assign_ids_pandas is pinned against."""
    scored = df.crossJoin(F.broadcast(centroids)).withColumn(
        "__cd", dot(F.col(vec), F.col("__centroid"))
    )
    w = Window.partitionBy(idc).orderBy(F.desc("__cd"), F.asc("centroid_id"))
    return (
        scored.withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= keep)
        .drop("__centroid", "__cd", "__cr")
    )


def collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """The bounded (≤ n_centroids rows) driver collect feeding
    ivf_assign_ids_pandas' closure, ordered by centroid_id so stable
    argsort ties resolve to the smallest id."""
    return [
        (r["centroid_id"], list(r["__centroid"]))
        for r in centroids.orderBy("centroid_id").collect()
    ]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells, probe
    only the n_probe nearest cells per query.

    Deterministic end-to-end (stride-sampled centroids, tie-broken
    argmax); emits the RAW cosine so the DuckDB oracle can hash-match.

    Centroids are a deterministic sample of corpus vectors (every n-th by
    id — kmeans would tighten cells but sampling keeps the operator
    dependency-free and reproducible). Cell assignment is an argmax-dot
    against the broadcast centroid set; the probe join is an equi-join on
    centroid_id, so per-query work is |corpus| * n_probe / n_centroids —
    the scale path when even LSH tables are too coarse.
    """
    corpus = _ensure_parallelism(corpus)
    centroids = _ivf_centroids(corpus, id_col, vec_col, n_centroids)
    cents = collect_centroids(centroids)  # one bounded collect, two assigns
    c_assigned = _ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        centroids, "__cvec", 1, cents=cents,
    )
    q_probes = _ivf_assign(
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")),
        centroids, "__qvec", n_probe, cents=cents,
    )

    cand = c_assigned.join(q_probes, "centroid_id").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    scored = cand.withColumn("cosine_sim", cosine(F.col("__qvec"), F.col("__cvec")))
    return _per_query_topk(scored, query_id_col, F.desc("cosine_sim"), k).select(
        query_id_col, "neighbor_id", "rank", "cosine_sim"
    )


def _recall_accounting(bf: DataFrame, ann: DataFrame) -> DataFrame:
    """Shared pair-set accounting for the ANN recall scorecards: exact
    top-k pairs vs an ANN tier's top-k pairs, one row of exact COUNTS
    plus recall as a single float division (engine-portable — a SQL
    oracle replays it bit-for-bit). Membership comes from ranks only."""
    bf = bf.select("query_id", "neighbor_id", F.lit(1).alias("__b"))
    ann = ann.select("query_id", "neighbor_id", F.lit(1).alias("__a"))
    agg = bf.join(ann, ["query_id", "neighbor_id"], "full_outer").agg(
        F.count("__b").alias("n_exact_pairs"),
        F.count("__a").alias("n_ann_pairs"),
        F.count(F.when(F.col("__b").isNotNull() & F.col("__a").isNotNull(), 1))
        .alias("n_hits"),
    )
    return agg.select(
        "n_exact_pairs",
        "n_ann_pairs",
        "n_hits",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.col("n_hits") / F.col("n_exact_pairs"),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
    )


def _maybe_sample_queries(
    queries: DataFrame, id_col: str, sample_fraction: float | None
) -> DataFrame:
    """The scorecards' 100 TB posture, executed: recall is a ratio, so
    a uniform QUERY sample estimates it without brute-forcing every
    query. Deterministic affine-hash membership (dedup.
    deterministic_id_sample) — a SQL oracle replays the sample."""
    if sample_fraction is None:
        return queries
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        deterministic_id_sample,
    )

    return deterministic_id_sample(queries, id_col, sample_fraction)


def ann_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Recall@k scorecard for the LSH ANN path against exact brute force.

    The dedup family's P/R audit, for the similarity-search tier: the
    LSH top-k's (query, neighbor) set against the exact cosine top-k's.
    Run continuously at scale, a recall drop is the signal to raise
    n_tables / lower n_planes before the ANN index silently degrades.

    One row: (n_exact_pairs, n_ann_pairs, n_hits, recall_at_k) — the
    recall is a single float division of exact pair COUNTS, so a SQL
    oracle replays it bit-for-bit. Membership comes from ranks only
    (never the rounded display sims). Cost = one brute-force pass over
    the query set — the ground truth; at production scale pass
    ``sample_fraction`` to run it on a deterministic QUERY sample
    (recall is a ratio, a uniform sample estimates it; membership is
    exact affine-hash integer math the oracle replays).
    """
    queries = _maybe_sample_queries(queries, id_col, sample_fraction)
    bf = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    ann = lsh_bucketed_topk(
        corpus, queries, k=k, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed, id_col=id_col, vec_col=vec_col,
        portable=portable,
    )
    return _recall_accounting(bf, ann)


def ivf_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Recall@k scorecard for the IVF cell-probe ANN path (ivf_topk)
    against exact brute force — completes the retrieval-quality tier:
    both scale paths (LSH tables, IVF cells) now publish a continuously
    measurable recall number instead of a fixed pytest bound.

    For the IVF family the recall curve is the n_probe tuning signal:
    probing more cells monotonically raises recall at linear cost, so
    an index owner reads this scorecard to pick the smallest n_probe
    that clears their recall target. Same accounting, portability and
    sampling posture as ann_recall_at_k; the whole IVF pipeline is
    deterministic (stride-sampled centroids, tie-broken argmax), so a
    SQL oracle replays the entire scorecard.
    """
    queries = _maybe_sample_queries(queries, id_col, sample_fraction)
    bf = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    ann = ivf_topk(
        corpus, queries, k=k, n_centroids=n_centroids, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )
    return _recall_accounting(bf, ann)


def pq_dists_pandas(
    vec_col: Column, codebooks: list[list[list[float]]]
) -> Column:
    """The M×K subspace-distance table as an Arrow-batched pandas_udf,
    BIT-IDENTICAL to the interpreted `_pq_subspace_dists` fold for
    finite inputs: per subspace the squared-L2 accumulates one
    correctly-rounded (x-y)² per dimension in ASCENDING order (a loop
    over d, never a vectorized sum whose reduction order differs).

    This is the signature-twin shape where Arrow WINS by construction
    (round-8/round-9 per-site economics): each vector ships dim doubles
    ONCE and receives M·K·d vectorized flops of Python-side work —
    measured 27× faster than the interpreted nested-HOF fold at sf0.1
    (43.8 s → 1.6 s for the full x_knn_pq_recall, bit-identical
    output; SCALE.md round 10).
    Edge policy: a NULL or wrong-width vector yields a NULL table (the
    ADC fold then drops the row), matching the JVM path's null
    propagation; embeddings are finite by contract. Closure is
    self-contained — executors need no repo import.
    """
    from pyspark.sql.functions import pandas_udf

    M = len(codebooks)
    d = len(codebooks[0][0])
    flat = [[list(c) for c in book] for book in codebooks]

    @pandas_udf("array<array<double>>")
    def _tables(s):
        import numpy as _np

        books_np = _np.asarray(flat, dtype=_np.float64)  # (M, K, d)

        def one(v):
            if v is None or len(v) != M * d:
                return None
            x = _np.asarray(v, dtype=_np.float64)
            out = []
            for m in range(M):
                sub = x[m * d : (m + 1) * d]
                acc = _np.zeros(len(books_np[m]))
                for i in range(d):  # ascending-order fold, like the JVM
                    diff = sub[i] - books_np[m][:, i]
                    acc = acc + diff * diff
                out.append(acc.tolist())
            return out

        return s.map(one)

    return _tables(vec_col)


def _pq_subspace_dists(
    vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """M×K squared-L2 distances of ``vec``'s subvectors to every
    codebook centroid, as ONE nested-HOF expression: transform over
    subspaces (index m slices the vector) × transform over centroids ×
    an ordered (x-y)² fold. The expression SIZE is constant in (M, K)
    — the data lives in one nested-array codebook literal, not the
    plan. The reference ``pq_dists_pandas`` is pinned against. The first
    formulation built M·K separate aggregate subtrees per projection
    and OOM'd the executor heap at M=32, K=32 (round-10 measurement);
    this one is the same math in a fixed-shape tree. The fold is in
    element order, so a SQL oracle folding the same way reproduces
    every double bit-for-bit (never a dot-product identity, whose
    rounding path differs).

    Edge policy matches ``pq_dists_pandas`` exactly: a NULL or
    wrong-width vector yields a NULL table. Without the guard a short
    vector would silently encode to valid-looking leading codes (the
    slice of a 7-dim vector against 64-dim codebooks still folds its
    first subspaces) — the round-10 ADVICE finding."""
    d = len(codebooks[0][0])
    books = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
            for book in codebooks
        ]
    )
    return F.when(
        vec.isNotNull() & (F.size(vec) == F.size(books) * d),
        F.transform(
            books,
            lambda book, m: F.transform(
                book,
                lambda cent: F.aggregate(
                    F.zip_with(
                        F.slice(vec, m * d + 1, d),
                        cent,
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            ),
        ),
    ).otherwise(F.lit(None).cast("array<array<double>>"))


def _adc_approx_expr() -> Column:
    """The ADC score: ordered M-term fold of per-subspace table lookups
    — expects `codes` (int array) and `__qt` (M×K double table) columns
    in scope. One definition for the inline and the prebuilt-index
    serve paths, so the fold order (and therefore every double) cannot
    diverge between them."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__qt"),
            lambda c, t: F.element_at(t, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _query_adc_tables(
    queries: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, __qt): each query's M×K ADC table, computed from its
    UNIT-NORMALIZED vector — the PQ contract the codes were encoded
    under. Shared by pq_topk, ivfpq_topk and ivfpq_serve_topk."""
    qn = normalize_embeddings(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__v")
        ),
        "__v",
    )
    return qn.select(
        F.col(query_id_col), pq_dists_pandas(F.col("__v"), books).alias("__qt")
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m_subspaces: int = 32,
    k_codes: int = 32,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: M per-subspace centroid sets of
    K d-dim subvectors (d = dim/M), taken from stride-sampled UNIT-
    NORMALIZED corpus vectors — the same deterministic
    sample-instead-of-kmeans choice as ivf_topk's centroids (kmeans
    would tighten cells; sampling keeps the pipeline dependency-free
    and SQL-replayable). The collect is bounded at K vectors — codebook
    training is driver-side by design at any corpus scale (a PQ
    codebook IS a small model; production trains it on a sample too).

    Returns books[m][c] = the c-th centroid of subspace m, where c
    orders by the sampled vec_id (the oracle regenerates the identical
    list with a windowed rank over the same stride filter).
    """
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by M {m_subspaces}")
    d = dim // m_subspaces
    total = corpus.count()
    step = max(total // k_codes, 1)
    rows = (
        normalize_embeddings(
            corpus.select(F.col(id_col), F.col(vec_col)), vec_col
        )
        .filter(F.pmod(F.col(id_col), F.lit(step)) == 0)
        .orderBy(id_col)
        .limit(k_codes)
        .collect()
    )
    return [
        [list(r[vec_col])[m * d : (m + 1) * d] for r in rows]
        for m in range(m_subspaces)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Attach the M-byte PQ code array: per subspace, the index of the
    nearest codebook centroid (squared L2, FIRST minimum on ties —
    array_position finds the first equal element, matching the
    oracle's ORDER BY d, c window). Vectors must already be normalized
    with the same normalization the codebooks were built from.

    This is the compression step a 100 TB embedding store runs once at
    ingest: dim doubles (512 B at dim=64) become M small ints, and the
    ADC scan (pq_topk) reads ~16× fewer bytes per candidate.
    """
    return (
        df.withColumn("__pq_dists", pq_dists_pandas(F.col(vec_col), codebooks))
        .withColumn(
            out_col,
            F.transform(
                "__pq_dists",
                lambda row: (
                    F.array_position(row, F.array_min(row)) - 1
                ).cast("int"),
            ),
        )
        .drop("__pq_dists")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m_subspaces: int = 32,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ANN top-k via asymmetric distance
    computation (ADC): corpus vectors are PQ-encoded to M-code arrays;
    each query precomputes an M×K table of exact subspace distances to
    every centroid, and a candidate's approximate distance is the
    ordered M-term fold of table lookups — no per-pair vector math at
    all. Inputs are unit-normalized first, so ascending approximate
    squared L2 ranks like descending cosine and the recall scorecard
    can use the cosine brute force as ground truth.

    Scale shape: the encode is a map-side projection (codebooks are
    plan literals), the scan is linear in the corpus but reads M ints
    per row instead of dim doubles — PQ's actual win is that
    bandwidth/memory compression; compose with IVF cells when even a
    compressed linear scan is too much. The query side is tiny by
    contract (same deliberate broadcast shape as brute_force_topk).

    Returns (query_id, neighbor_id, rank, approx_sq_l2), self-pairs
    excluded, ties broken by neighbor_id. Deterministic end-to-end —
    a SQL oracle replays codebooks, codes, tables, and the fold.
    """
    books = pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        m_subspaces=m_subspaces, k_codes=k_codes,
    )
    enc = pq_encode(
        normalize_embeddings(
            _ensure_parallelism(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__v"),
                )
            ),
            "__v",
        ),
        books,
        "__v",
    ).select("neighbor_id", "codes")
    q = _query_adc_tables(queries, books, id_col, vec_col, query_id_col)
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("approx_sq_l2", _adc_approx_expr())
    )
    return _per_query_topk(scored, query_id_col, F.asc("approx_sq_l2"), k).select(
        query_id_col, "neighbor_id", "rank", "approx_sq_l2"
    )


def pq_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m_subspaces: int = 32,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Recall@k scorecard for the PQ/ADC path against exact brute
    force — the third leg of the retrieval-quality tier (LSH tables,
    IVF cells, PQ compression). For PQ the recall number is the
    compression-loss dial: more subspaces / more codes raise recall at
    linear table cost, and an index owner reads this scorecard to pick
    the smallest code budget that clears their target. Same accounting,
    portability and query-sampling posture as the other scorecards.
    """
    queries = _maybe_sample_queries(queries, id_col, sample_fraction)
    bf = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    ann = pq_topk(
        corpus, queries, k=k, dim=dim, m_subspaces=m_subspaces,
        k_codes=k_codes, id_col=id_col, vec_col=vec_col,
    )
    return _recall_accounting(bf, ann)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 8,
    dim: int = 64,
    m_subspaces: int = 32,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF × PQ composed ANN top-k — the actual 100 TB architecture
    (pq_topk's own docstring prescribes it: "compose with IVF cells
    when even a compressed linear scan is too much"). The two tiers
    multiply: IVF cell-probing cuts the CANDIDATE COUNT to
    |corpus| * n_probe / n_centroids per query, and PQ/ADC cuts the
    BYTES PER CANDIDATE to M small ints — per-query work drops from
    |corpus| * dim doubles (brute force) to
    (|corpus| * n_probe / n_centroids) * M table lookups.

    Composition contract: cells come from the IVF tier verbatim
    (_ivf_centroids stride sample + raw-vector argmax-dot assignment,
    tie-broken — identical cells to ivf_topk's), codes and ADC tables
    from the PQ tier verbatim (unit-normalized vectors, stride-sampled
    codebooks, first-min assignment, ordered M-term fold — identical
    codes to pq_topk's). A candidate pair is scored iff the neighbor's
    single cell is among the query's n_probe probed cells, so the
    candidate set is exactly ivf_topk's and each surviving pair's
    approximate distance is exactly pq_topk's — which is what lets the
    SQL oracle compose the two existing pipeline prologues unchanged.

    Scale shape: the only non-equi joins are the two broadcast-centroid
    assigns (k-row build side, the audited ivf_topk shape); the probe
    join is an equi-join on centroid_id and the M×K ADC table
    re-attaches by query_id AFTER it, ids-only until then (the
    lsh_bucketed_topk discipline). At 100 TB the encoded corpus is
    bucketed by centroid_id on disk and a probe touches only those
    buckets' files.

    Returns (query_id, neighbor_id, rank, approx_sq_l2), self-pairs
    excluded, ties broken by neighbor_id. Deterministic end-to-end.
    """
    corpus = _ensure_parallelism(corpus)
    centroids = _ivf_centroids(corpus, id_col, vec_col, n_centroids)
    books = pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        m_subspaces=m_subspaces, k_codes=k_codes,
    )
    # corpus: ONE cell per vector (raw-vector argmax dot — the IVF
    # contract) + M PQ codes from the normalized vector (the PQ
    # contract). Both are ingest-time map-side work at scale.
    cents = collect_centroids(centroids)  # one bounded collect, two assigns
    c_assigned = _ivf_assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        ),
        centroids, "__v", 1, cents=cents,
    )
    enc = pq_encode(
        normalize_embeddings(c_assigned, "__v"), books, "__v"
    ).select("neighbor_id", "centroid_id", "codes")
    probes = _ivf_assign(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__v")
        ),
        centroids, "__v", n_probe, cents=cents,
    ).select(query_id_col, "centroid_id")
    # the M×K table is computed ONCE per query (not once per probe row)
    # and re-attached by query_id after the cell equi-join
    qt = _query_adc_tables(queries, books, id_col, vec_col, query_id_col)
    scored = (
        enc.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .join(F.broadcast(qt), query_id_col)
        .withColumn("approx_sq_l2", _adc_approx_expr())
    )
    return _per_query_topk(scored, query_id_col, F.asc("approx_sq_l2"), k).select(
        query_id_col, "neighbor_id", "rank", "approx_sq_l2"
    )


def ivf_cell_stats(
    corpus: DataFrame,
    n_centroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell-occupancy audit for the IVF tier — q_key_skew_report's
    analog for the ANN index. IVF's cost model assumes cells are
    roughly uniform: a probe costs |corpus| * n_probe / n_centroids
    only if no cell is hot, and a cell holding 10x its uniform share
    makes every query that probes it pay 10x (the ANN equivalent of a
    skewed join key). Run continuously at scale, a rising max
    occupancy_ratio is the signal to re-train/re-stride centroids or
    split hot cells BEFORE p99 serve latency degrades.

    One row per occupied cell: (centroid_id, n_vectors,
    occupancy_ratio) where occupancy_ratio = n_vectors * n_centroids /
    total (1.0 = exactly uniform). Shares _ivf_centroids/_ivf_assign
    with ivf_topk and ivfpq_topk, so the audit measures exactly the
    cells the serve paths probe. The denominator is the corpus row
    count the centroid stride already computed driver-side (assignment
    is row-preserving, so assigned rows == corpus rows) — a plan
    literal, not a grand-total join re-deriving the assignment
    subtree."""
    corpus = _ensure_parallelism(corpus)
    total = corpus.count()
    centroids = _ivf_centroids(
        corpus, id_col, vec_col, n_centroids, total=total
    )
    assigned = _ivf_assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        ),
        centroids, "__v", 1,
    )
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count("*").alias("n_vectors"))
        .select(
            "centroid_id",
            "n_vectors",
            (
                (
                    F.col("n_vectors").cast("double")
                    * F.lit(float(n_centroids))
                )
                / F.lit(float(total))
            ).alias("occupancy_ratio"),
        )
    )


def ivfpq_index_build(
    corpus: DataFrame,
    index_dir: str,
    n_centroids: int = 32,
    dim: int = 64,
    m_subspaces: int = 32,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build and materialize the IVF×PQ index — the ingest half of the
    build-once / serve-many posture ivfpq_topk's inline form audits:

    - ``<index_dir>/codes``: one row per corpus vector
      (neighbor_id, codes[M]) written PARTITIONED BY centroid_id, so a
      serve-time probe set prunes the parquet scan to
      n_probe/n_centroids of the files (measured 2.9-3.0x vs the flat
      ADC scan at 100 queries — SCALE.md round 11);
    - ``<index_dir>/model.json``: the centroids (raw vectors, as
      sampled) and PQ codebooks — a few KB; an ANN model IS a small
      model, the serving layer broadcasts it as plan literals.

    At 100 TB this is the once-per-ingest map job: one argmax-dot cell
    assignment + one PQ encode per vector, no shuffle except the
    partitioned write. Returns the model dict (also usable directly by
    ivfpq_serve_topk to skip the JSON re-read). JSON round-trips the
    float values exactly (Python doubles; the fixture float32s widen
    exactly), and every distance is computed in double either way.
    """
    import json
    import os

    corpus = _ensure_parallelism(corpus)
    centroids = _ivf_centroids(corpus, id_col, vec_col, n_centroids)
    books = pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        m_subspaces=m_subspaces, k_codes=k_codes,
    )
    enc = pq_encode(
        normalize_embeddings(
            _ivf_assign(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__v"),
                ).withColumn(
                    # per-row content hash of the RAW (id, vector) — the
                    # freshness anchor ivfpq_index_audit compares against
                    # the live corpus (hashed before normalization so the
                    # corpus side needs no pipeline replay)
                    "vec_hash",
                    F.xxhash64(F.col("neighbor_id"), F.col("__v")),
                ),
                centroids, "__v", 1,
            ),
            "__v",
        ),
        books, "__v",
    ).select("neighbor_id", "centroid_id", "codes", "vec_hash")
    enc.write.partitionBy("centroid_id").mode("overwrite").parquet(
        os.path.join(index_dir, "codes")
    )
    model = {
        "dim": dim,
        "m_subspaces": m_subspaces,
        "k_codes": k_codes,
        "n_centroids": n_centroids,
        "centroids": [
            [int(r["centroid_id"]), [float(x) for x in r["__centroid"]]]
            for r in centroids.collect()  # bounded: n_centroids rows
        ],
        "codebooks": books,
    }
    with open(os.path.join(index_dir, "model.json"), "w") as f:
        json.dump(model, f)
    return model


def ivfpq_serve_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    model: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve top-k from a prebuilt ivfpq_index_build index — the query
    half of build-once / serve-many, bit-identical to the inline
    ivfpq_topk over the same corpus (pinned in tests):

    1. probe: argmax-dot of each query against the model's centroid
       literal (broadcast; k rows);
    2. prune: the probed cell ids (a bounded <= n_centroids driver
       collect) become a PARTITION FILTER on the centroid_id-partitioned
       codes table — the parquet scan reads only the probed cells'
       files (PartitionFilters in the scan node, asserted in tests);
    3. score: the M×K ADC table per query (computed ONCE per query),
       re-attached by query_id after the cell equi-join, then the
       shared ordered fold and per-query rank.

    Per-query serve cost is (|corpus| * n_probe / n_centroids) * M
    table lookups and the scan reads only compressed codes — the shape
    that holds at 100 TB where neither a flat vector scan nor a flat
    code scan does.
    """
    import json
    import os

    if model is None:
        with open(os.path.join(index_dir, "model.json")) as f:
            model = json.load(f)
    books = model["codebooks"]
    cent_df = spark.createDataFrame(
        [(int(cid), list(map(float, vec))) for cid, vec in model["centroids"]],
        schema="centroid_id long, __centroid array<double>",
    )
    probes = _ivf_assign(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__v")
        ),
        cent_df, "__v", n_probe,
        # the model already holds the centroids driver-side — no collect
        cents=sorted(
            (int(cid), [float(x) for x in vec])
            for cid, vec in model["centroids"]
        ),
    ).select(query_id_col, "centroid_id")
    # bounded driver collect (<= n_centroids ints): the partition
    # filter a serving layer derives from the probe set
    probed = sorted(
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    )
    codes = spark.read.parquet(os.path.join(index_dir, "codes")).filter(
        F.col("centroid_id").isin(probed)
    )
    qt = _query_adc_tables(queries, books, id_col, vec_col, query_id_col)
    scored = (
        codes.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .join(F.broadcast(qt), query_id_col)
        .withColumn("approx_sq_l2", _adc_approx_expr())
    )
    return _per_query_topk(scored, query_id_col, F.asc("approx_sq_l2"), k).select(
        query_id_col, "neighbor_id", "rank", "approx_sq_l2"
    )


def ivfpq_index_audit(
    spark,
    index_dir: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Freshness audit of a materialized ivfpq_index_build index against
    the LIVE corpus — the cheap check a serving layer runs before
    trusting the index (round-11 verdict task 7: serve==inline parity is
    pinned, but nothing detected a STALE index after corpus drift).

    Three order-independent aggregates per side (one column-pruned scan
    of the codes table's (neighbor_id, vec_hash), one of the corpus's
    (id, vector) — no join, no shuffle beyond the two single-row aggs,
    so the audit stays cheap at any corpus size):

    - row counts (insert/delete drift);
    - ``bit_xor(xxhash64(id))`` — the id-SET fingerprint (same counts
      but different membership);
    - ``bit_xor(xxhash64(id, vector))`` vs the index's stored per-row
      ``vec_hash`` (written at build time from the RAW vector) — the
      CONTENT fingerprint, catching in-place vector mutations that
      counts and id sets cannot see. Indexes built before the vec_hash
      column report ``content_check='unavailable'`` instead of a false
      verdict.

    Returns a dict with both sides' facts and ``fresh`` — False is the
    rebuild trigger (re-run ivfpq_index_build; the serving layer keeps
    reading the old index until the overwrite lands, same as any
    build-once/serve-many artifact)."""
    import os

    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    c = corpus.select(
        F.count("*").alias("rows"),
        F.bit_xor(F.xxhash64(F.col(id_col))).alias("id_fp"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.col(vec_col))).alias(
            "content_fp"
        ),
    ).collect()[0]
    aggs = [
        F.count("*").alias("rows"),
        F.bit_xor(F.xxhash64(F.col("neighbor_id"))).alias("id_fp"),
    ]
    has_hash = "vec_hash" in codes.columns
    if has_hash:
        aggs.append(F.bit_xor(F.col("vec_hash")).alias("content_fp"))
    i = codes.select(*aggs).collect()[0]
    rows_match = c["rows"] == i["rows"]
    ids_match = c["id_fp"] == i["id_fp"]
    if has_hash:
        content_match = c["content_fp"] == i["content_fp"]
        content_check = "ok" if content_match else "mismatch"
    else:
        content_match = None
        content_check = "unavailable"
    return {
        "corpus_rows": c["rows"],
        "index_rows": i["rows"],
        "row_count_match": rows_match,
        "id_fingerprint_match": ids_match,
        "content_check": content_check,
        "fresh": bool(
            rows_match and ids_match and content_match is not False
        ),
    }


def ivfpq_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 8,
    dim: int = 64,
    m_subspaces: int = 32,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Recall@k scorecard for the composed IVF×PQ path against exact
    brute force — the quality dial for the full production ANN stack.
    The composed recall is bounded above by BOTH tiers' own recalls
    (a neighbor is found iff its cell is probed AND its compressed
    distance ranks it), so an index owner reads the three scorecards
    (IVF, PQ, IVF×PQ) together: which tier to spend budget on is
    whichever bound is binding. Same accounting, portability and
    query-sampling posture as the other scorecards.
    """
    queries = _maybe_sample_queries(queries, id_col, sample_fraction)
    bf = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    ann = ivfpq_topk(
        corpus, queries, k=k, n_centroids=n_centroids, n_probe=n_probe,
        dim=dim, m_subspaces=m_subspaces, k_codes=k_codes,
        id_col=id_col, vec_col=vec_col,
    )
    return _recall_accounting(bf, ann)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    portable: bool = False,
) -> DataFrame:
    """ANN top-k: L hash tables of random-hyperplane buckets.

    Candidates = union over tables of equi-join on (table, bucket);
    each candidate scored exactly, then per-query top-k. At 100 TB the
    corpus side is hash-partitioned by bucket — no crossJoin anywhere.

    ``portable=True`` draws the hyperplanes from the LCG family
    (``lcg_plane``) and emits the RAW cosine (no display rounding), so a
    SQL oracle regenerates the identical result (plans/catalog.py
    x_knn_lsh_poly); the gaussian-plane variant stays the default.
    """
    corpus = _ensure_parallelism(corpus)
    # One scan per side computes ALL table signatures and posexplodes to
    # (tbl, bucket, id) key rows — ids only, vectors re-attach AFTER the
    # candidate dedup. The former shape ran one corpus⋈queries join PER
    # TABLE carrying both 64-float vectors through every join and the
    # dedup (an array-buffer dropDuplicates that planned as a
    # SortAggregate over vector-wide rows): L scans of each side, a
    # 301-line plan, ~50x wider shuffles (round-7 plan audit). The
    # candidate SET is identical — pairs sharing ≥1 (table, bucket) —
    # so the scored output and the SQL oracle hash are unchanged.
    planes_by_table = [
        [
            lcg_plane(dim, seed + (t * n_planes + i) * dim)
            for i in range(n_planes)
        ]
        if portable
        else _hyperplanes(dim, n_planes, seed + t)
        for t in range(n_tables)
    ]

    # Arrow-batched signatures, bit-identical to the lsh_signature
    # expression per table (see table_signatures_pandas): the former
    # n_tables x n_planes interpreted folds per row dominated the wall
    # two-step select: the signature UDF lives in its own Project and
    # the Generate explodes a plain column reference — required now the
    # UDF is non-deterministic (and the shape Catalyst plans anyway)
    c_keys = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        table_signatures_pandas(F.col(vec_col), planes_by_table).alias("__tsigs"),
    ).select(
        "neighbor_id", F.posexplode("__tsigs").alias("tbl", "bucket")
    )
    q_keys = queries.select(
        F.col(id_col).alias(query_id_col),
        table_signatures_pandas(F.col(vec_col), planes_by_table).alias("__tsigs"),
    ).select(
        query_id_col, F.posexplode("__tsigs").alias("tbl", "bucket")
    )
    cand = (
        c_keys.join(q_keys, on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    # norms precomputed once per VECTOR at the re-attach (the same
    # one-per-vector-not-per-pair discipline as banded_cosine_pairs) —
    # identical doubles to a per-pair norm, one interpreted fold saved
    # per candidate
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).withColumn("__cn", norm(F.col("__cvec")))
    qv = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    ).withColumn("__qn", norm(F.col("__qvec")))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(qv, query_id_col)
        .withColumn(
            "cosine_sim",
            # per-candidate-PAIR dot: the JVM fold — the Arrow twin
            # measured 1.18x slower on this refine (round-9 per-site
            # A/B); the big LSH win stays in table_signatures_pandas
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn")),
        )
    )
    # raw doubles in portable mode — display rounding would break the
    # oracle hash (Spark and DuckDB round .xx5 boundaries differently)
    sim_out = (
        F.col("cosine_sim") if portable else F.round("cosine_sim", 4)
    ).alias("cosine_sim")
    return _per_query_topk(scored, query_id_col, F.desc("cosine_sim"), k).select(
        query_id_col, "neighbor_id", "rank", sim_out
    )
