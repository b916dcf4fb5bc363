"""Deduplication operators for large-scale corpus processing.

Not present in the reference (its only dedup is INSERT IGNORE on dim_date
PKs, loadAnalyticsDB.PractII.VarmaA.R:234 → exact_dedup here); the fuzzy
family is the standard LLM-training-pipeline toolkit, built Spark-first:

- exact:     one hash-aggregate shuffle on the dedup key.
- MinHash+LSH: shingle → minhash signature → band → bucket join, on ONE
  hash family (polynomial shingle hash mod 2^31-1, affine slots, a
  polynomial band key) that plain SQL replays bit-for-bit. Signatures
  run in a batch-vectorised integer Arrow kernel
  (poly_minhash_slots_pandas) pinned equal to the pure-expression
  path. The candidate join is an equi-join on (band, band_hash) so
  Spark hash-partitions buckets — no O(n²) crossJoin at any scale.
- SimHash:   64-bit signature from token hashes; near-dup candidates via
  16-bit chunk equality (pigeonhole: hamming ≤ 3 ⇒ one of 4 chunks equal),
  verified with bit_count(xor).
- token Jaccard: exact pairwise similarity via an inverted-index join
  (explode distinct tokens, equi-join on token) — the exact counterpart
  LSH approximates; frequent-token cap keeps the join from exploding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Affine minhash family over a 31-bit domain: with a,b,h < 2^31 the
# product a*h stays under 2^62, so the math never overflows a signed
# 64-bit long (Spark 4 runs ANSI mode — overflow is an error, not a wrap).
_HASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
# deterministic-sample hash family — degree-2 polynomial mod P (see
# deterministic_id_sample for why LINEAR is not enough)
_SAMPLE_MULT = 1103515245
_SAMPLE_INC = 12345
_SAMPLE_INC2 = 456789


def _tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped (JVM-side lambda, no UDF)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small inputs often arrive as ONE parquet file = one partition,
    serializing all per-row signature work onto a single core. Fan out to
    the session's parallelism when under-partitioned; at real scale the
    source already has many files and this is a no-op.

    Fast path: ``inputFiles()`` (catalog metadata, no plan execution) —
    enough files means enough splits. Only when that is inconclusive
    (non-file-backed input, e.g. an in-memory frame or a mid-pipeline
    shuffle, or fewer files than cores — large files may still split)
    does it consult ``df.rdd.getNumPartitions()``, so a DataFrame that is
    already well-partitioned is never hit with a redundant extra
    Exchange (round-2 ADVICE finding)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    # inconclusive: ask the physical plan (small inputs only, so the
    # DataFrame→RDD conversion cost is bounded)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def deterministic_id_sample(
    df: DataFrame, id_col: str, fraction: float
) -> DataFrame:
    """Deterministic, engine-portable uniform sample by integer id.

    Membership = degree-2 polynomial hash of the id into [0, P) under
    the cut: h = (((m*A + B) mod P) * m + C) mod P < fraction * P,
    where m = id mod P and P = 2^31-1. Exact integer math a SQL oracle
    replays bit-for-bit — never rand(), whose draw order is
    partitioning-dependent. 64-bit-safe in ANSI mode for any
    NON-NEGATIVE 64-bit id (both factors stay below 2^31).

    The hash must be at least PAIRWISE well-mixed, not merely
    uniform: the audits these samples feed (minhash P/R) count PAIR
    survival, and a pair survives only when BOTH ids are sampled. A
    LINEAR map (id*A + B) mod P is a Weyl sequence — marginally
    uniform, but joint membership at small id offsets is structured:
    measured at fraction 0.25, ids (i, i+1) were NEVER both sampled
    and (i, i+2) co-survived at 22% instead of 6.25%, so id-adjacent
    near-dup families (exactly how corpus dup families are laid out)
    were annihilated and the "unbiased ratio" claim was false. The
    degree-2 polynomial measured joint membership within 1% of
    fraction² at every offset tested (1,2,3,5,10,100; N=200K).

    The audit scorecards (minhash_precision_recall, ann_recall_at_k,
    ivf_recall_at_k) use this as their documented 100 TB posture:
    their metrics are ratios, so a uniform pairwise-well-mixed sample
    estimates them without paying the full exact-side join.
    """
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"sample_fraction must be in (0, 1], got {fraction}")
    cut = int(fraction * _HASH_PRIME)
    # pre-reduce the id mod P so BOTH multiplies stay under 2^62 for
    # any non-negative 64-bit id (review finding: h1 * id overflowed
    # signed 64-bit — an ANSI ArithmeticException — from id >= 2^32,
    # exactly the snowflake-style id space the sampling posture
    # targets). Ids P apart share membership, which is harmless for a
    # sampling hash; ids are assumed non-negative (% keeps the
    # dividend's sign in both engines).
    idm = F.col(id_col).cast("bigint") % F.lit(_HASH_PRIME)
    h1 = (idm * F.lit(_SAMPLE_MULT) + F.lit(_SAMPLE_INC)) % F.lit(_HASH_PRIME)
    return df.filter(
        (h1 * idm + F.lit(_SAMPLE_INC2)) % F.lit(_HASH_PRIME) < F.lit(cut)
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact key — one shuffle."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def word_shingles(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles as an array column (JVM-side).

    ``distinct=True`` for set-semantics (minhash/Jaccard): docs shorter
    than n tokens contribute their whole text as one shingle so they
    still participate in dedup. ``distinct=False`` keeps multiplicity for
    frequency analyses (n-gram counting) and yields NO grams for
    too-short docs — a 1-token doc has no bigrams.
    """
    toks = _tokens(text)
    # n aligned slices zipped pairwise: slice j holds tokens j..j+m-1, so
    # position i of the fold is toks[i..i+n-1] joined by spaces. Each
    # slice/zip_with is one linear array pass — measured ~7x faster than
    # transform(idx, i -> concat_ws(slice(toks, i, n))), whose per-index
    # slice materializes an n-element array per position. The slices all
    # have length m, so zip_with never null-pads.
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(
        F.size(toks) >= n,
        acc,
    ).otherwise(
        F.array(F.concat_ws(" ", toks))
        if distinct
        else F.array().cast("array<string>")
    )
    return F.array_distinct(grams) if distinct else grams


def _slot_agreement(sig_a, sig_b, num_hashes: int) -> Column:
    """Number of agreeing signature slots:
    ``size(filter(zip_with(a, b, x == y), v -> v))`` — measured 1.4-1.9x
    faster than the former ``aggregate(zip_with(.., (x==y)::int), 0, +)``
    fold at the near-dup gate's 19.7M band collisions (round-15 variant
    bench, /tmp discipline recorded in OPTIMIZATION_r15.md): the
    aggregate's per-element two-variable lambda fold is the expensive
    part of the interpreted HOF stack; a boolean zip_with + filter + size
    walks the same arrays with far less per-element machinery.

    The fully UNROLLED codegen form (32 ``try_element_at`` compares) was
    measured and REJECTED: the generated join-stage method blows past the
    JVM JIT's huge-method limit and runs bytecode-INTERPRETED — 104 s vs
    4.6 s on the gate's self-join (and 10x on x_dedup_incremental).

    Null/length semantics vs the fold, for the record: both yield the
    same verdict for every signature this engine produces (signatures
    are fixed k-length and all-or-nothing null — an all-null signature
    scores NULL under the fold and 0 here, both failing every catalog
    threshold; partial nulls and length mismatches are unreachable).
    Pinned in tests/test_arrow_twin_edges.py."""
    return F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v
        )
    )


def minhash_coefficients(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The affine minhash family (a, b) pairs — shared with the DuckDB
    oracle generator in plans/catalog.py so both engines use the exact
    same hash family."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _HASH_PRIME), rng.randrange(0, _HASH_PRIME))
        for _ in range(num_hashes)
    ]


def _poly_hash(s: Column) -> Column:
    """Character-level polynomial rolling hash mod 2^31-1 — the PORTABLE
    shingle hash: the same integer recurrence runs in plain SQL
    (list_reduce in the DuckDB oracle), unlike xxhash64."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.coalesce(F.ascii(ch), F.lit(0)))
        % _HASH_PRIME,
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, minhash array) via k affine hash functions over shingle hashes.

    ZERO-shuffle formulation: the shingle hashes live in a per-row array
    and each of the k signature slots is an ``array_min`` over a
    transformed copy — a pure map-side expression pipeline (9x faster
    than the explode + groupBy(id) + k min() aggregates alternative,
    which shuffles |shingles| rows). Signature length k bounds output at
    k*8 bytes/doc regardless of document size — 100 TB-safe.

    One hash family: the shingle hash is the polynomial rolling hash
    (``_poly_hash``), so plain SQL replays every signature (the DuckDB
    oracles in plans/catalog.py). The poly hash + k affine mins run in
    one vectorised Arrow pass (``poly_minhash_slots_pandas``), pinned
    bit-identical to ``_minhash_signature_expr``.
    """
    coefs = minhash_coefficients(num_hashes, seed)
    shingles = word_shingles(F.col(text_col), n)
    return _ensure_parallelism(df).select(
        F.col(id_col),
        poly_minhash_slots_pandas(shingles, coefs).alias("signature"),
    )


def _minhash_signature_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """``minhash_signature`` as the interpreted expression stack — the
    reference the Arrow kernel is pinned against
    (tests/test_arrow_twin_edges.py). Its char-level polynomial fold
    walks every character of every token through Catalyst's
    interpreter."""
    coefs = minhash_coefficients(num_hashes, seed)
    shingles = word_shingles(F.col(text_col), n)
    with_hashes = _ensure_parallelism(df).select(
        F.col(id_col), F.transform(shingles, _poly_hash).alias("__hs")
    )
    mins = [
        F.array_min(
            F.transform(
                F.col("__hs"), lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_HASH_PRIME)
            )
        )
        for a, b in coefs
    ]
    return with_hashes.select(id_col, F.array(*mins).alias("signature"))


def poly_minhash_slots_pandas(sh_col, coefs: list[tuple[int, int]]):
    """Polynomial shingle hash + all k affine minhash slots over one
    whole Arrow batch, BIT-IDENTICAL to the expression stack
    ``array_min(transform(transform(shingles, _poly_hash), h -> (h*a+b) % P))``
    — pure 64-bit integer math end to end (h, a < 2^31, so h*a+b < 2^63
    and ``%`` is the same nonnegative remainder in numpy and the JVM).

    Batch-vectorised, never a per-row or per-character Python loop:

    1. the batch's non-NULL shingles are flattened (``explode``) into
       one list with each token's row index, and joined into ONE
       4-byte codepoint buffer (``"".join(toks).encode("utf-32-le")``)
       addressed by per-token offsets — no padded (tokens x width)
       matrix, so one long token costs its own length, not the batch's;
    2. tokens are sorted longest first, so the tokens still live at
       character position j are a PREFIX of that order: one Horner step
       ``H = (H*31 + cp) % P`` per position over that prefix;
    3. each document's k minima come from ``np.minimum.reduceat`` over
       its contiguous run of tokens (explode keeps row order).

    Semantics pinned against the expression path (tests/
    test_arrow_twin_edges.py, including one batch holding every edge
    below) and transitively by the poly-family DuckDB oracles:

    - ``F.split(s, '')`` yields CODEPOINTS (probed on Spark 4.1.2: a
      non-BMP char is ONE element with ``ascii`` = its codepoint); a
      Python ``str`` is a codepoint sequence too, and UTF-32 gives each
      codepoint exactly 4 bytes, so ``len`` and the buffer agree.
    - the empty-string shingle ``''`` hashes to 0 on both paths (either
      ``split('','') = []`` or ``['']`` with ``ascii('') = 0`` — both
      give ``(0*31+0) % P = 0``), matching a zero-length token.
    - NULL shingle array → k NULL slots; NULL ELEMENTS are dropped the
      way ``array_min`` skips the null the poly fold propagates; an
      empty array (or one with only NULL elements) → k NULLs
      (``array_min`` of empty).
    - an interior NUL character is codepoint 0 (``h = h*31 % P``),
      exactly as ``ascii('\\x00') = 0``; true lengths bound every
      token, so no padding exists to be confused with it.

    The closure captures only the (a, b) ints — executors import
    nothing from the repo. Deliberately DETERMINISTIC: its consumers
    show no duplicated evaluation (one banding per side in the
    incremental join, InMemoryRelation on the cached paths) and
    determinism keeps AQE exchange reuse and cache matching alive."""
    from pyspark.sql.functions import pandas_udf

    P = _HASH_PRIME

    @pandas_udf("array<long>")
    def _slots(s):
        import numpy as _np
        import pandas as _pd

        k = len(coefs)
        ex = s.reset_index(drop=True).explode()
        ex = ex[ex.notna()]
        toks = ex.tolist()
        slots = _np.zeros((len(s), k), dtype=_np.int64)
        has = _np.zeros(len(s), dtype=bool)
        if toks:
            doc = ex.index.to_numpy(dtype=_np.int64)
            lens = _np.fromiter(map(len, toks), dtype=_np.int64, count=len(toks))
            # explicitly little-endian on both sides: a native-endian
            # view would byteswap codepoints on a big-endian host
            cps = _np.frombuffer(
                "".join(toks).encode("utf-32-le"), dtype="<u4"
            ).astype(_np.int64)
            order = _np.argsort(-lens, kind="stable")
            live_len, start = lens[order], (_np.cumsum(lens) - lens)[order]
            H = _np.zeros(len(toks), dtype=_np.int64)
            for j in range(int(live_len[0])):
                # tokens longer than j: a prefix of the longest-first order
                m = int(_np.searchsorted(-live_len, -j, side="left"))
                H[:m] = (H[:m] * 31 + cps[start[:m] + j]) % P
            h = _np.empty_like(H)
            h[order] = H
            first = _np.flatnonzero(_np.r_[True, doc[1:] != doc[:-1]])
            rows = doc[first]
            for i, (a, b) in enumerate(coefs):
                slots[rows, i] = _np.minimum.reduceat((h * a + b) % P, first)
            has[rows] = True
        empty = [None] * k
        return _pd.Series(
            [v if ok else empty for v, ok in zip(slots.tolist(), has)]
        )

    return _slots(sh_col)


def _banded_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    n: int,
    seed: int,
    cache: bool = True,
) -> DataFrame:
    """(id, signature, band_id, band_hash) — one row per (doc, band).
    Shared by the in-corpus self-join and the incremental corpus↔batch
    join; the signature is cached (it feeds the banding explode and the
    candidate-refine columns). ``cache=False`` skips the internal cache
    for callers that manage persistence themselves (the streaming gate
    persists per micro-batch and must be able to unpersist — the
    internal entry has no handle to release)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, id_col, text_col, num_hashes, n, seed)
    if cache:
        sig = sig.cache()

    # NOTE (round-15): an unrolled static band fold (element_at chains in
    # an explode(array(...)) of per-band structs) was measured against
    # this shape and REVERTED — no steady-state win (1.5-1.6 s both, 3
    # alternating fresh-plan pairs at sf0.1) and a 4x first-execution
    # JIT-warmup penalty on the huge generated method. The interpreted
    # per-(doc, band) fold is 8 four-element folds per document — not a
    # per-collision cost — and stays the oracle-replayable shape.
    def band_key(b):
        return F.aggregate(
            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * 1000003 + v) % _HASH_PRIME,
        )

    return sig.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    band_key(b).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "signature", "band.band_id", "band.band_hash")


def incremental_near_duplicates(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus — the daily-
    ingest dedup: which incoming documents duplicate something already
    kept? Returns (batch_id, corpus_id, est_jaccard) pairs.

    Same signatures and banding as minhash_near_duplicates, but the
    candidate join is batch-buckets ⋈ corpus-buckets ONLY — no
    within-corpus or within-batch pairs are ever generated, so the work
    is proportional to the BATCH's bucket occupancy, not the corpus's
    (the corpus side contributes signatures once; at steady state those
    are precomputed and stored, making each ingest incremental in the
    batch size). est_jaccard is the fraction of matching signature slots
    (an exact rational k/num_hashes — engine-portable).
    """
    bb = _banded_minhash(batch, id_col, text_col, num_hashes, bands, n, seed)
    bc = _banded_minhash(corpus, id_col, text_col, num_hashes, bands, n, seed)
    return banded_pairs_cross(bb, bc, id_col, num_hashes, threshold)


def banded_pairs_cross(
    batch_bands: DataFrame,
    corpus_bands: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """The cross-side candidate join over PREBUILT banded signatures
    ((id, signature, band_id, band_hash) rows from _banded_minhash —
    possibly read back from a stored signature index rather than
    recomputed from text, the steady-state ingest posture). Returns
    (batch_id, corpus_id, est_jaccard) pairs at or above ``threshold``;
    only batch×corpus pairs are ever generated."""
    bb = batch_bands.alias("b")
    bc = corpus_bands.alias("c")
    # same hash-aggregable shape as minhash_near_duplicates: score in
    # the join projection, dedup narrow primitive rows (see the comment
    # there for the SortAggregate/array-shuffle rationale); the
    # agreement count is size(filter(zip_with(...))) (_slot_agreement) —
    # the unrolled codegen form was rejected at 104 s vs 4.6 s (JIT
    # huge-method limit)
    est = _slot_agreement(
        F.col("b.signature"), F.col("c.signature"), num_hashes
    ) / F.lit(float(num_hashes))
    return (
        bb.join(
            bc,
            on=[
                F.col("b.band_id") == F.col("c.band_id"),
                F.col("b.band_hash") == F.col("c.band_hash"),
            ],
        )
        .select(
            F.col(f"b.{id_col}").alias("batch_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["batch_id", "corpus_id"])
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, scored by signature overlap.

    bands b × rows r = num_hashes; a pair colliding in ≥1 band becomes a
    candidate (P ≈ 1-(1-s^r)^b). Candidates are found by an equi-join on
    (band_id, band_hash) — hash-partitioned, never all-pairs. Estimated
    Jaccard = fraction of matching minhashes, filtered at ``threshold``.

    Shingles and band keys use the SQL-reproducible polynomial hashes
    (the DuckDB oracles replay the whole pipeline); band-key false
    collisions only add candidates, which the signature-overlap filter
    then rejects identically in both engines.
    """
    banded = _banded_minhash(df, id_col, text_col, num_hashes, bands, n, seed)

    left = banded.alias("a")
    right = banded.alias("b")
    # est is computed IN the join projection (identical for every band
    # a pair collides in — the signatures don't depend on the band), so
    # the pair dedup below is a distinct over three primitive columns.
    # The former shape deduped (id_a, id_b) rows CARRYING the signature
    # arrays: array-typed aggregation buffers disqualify HashAggregate,
    # so Spark planned the dedup as a SortAggregate over the pair table
    # AND shuffled two 32-slot arrays per candidate (round-7 plan
    # audit); this shape hash-aggregates and shuffles ~8x fewer bytes
    # at the cost of re-evaluating one 32-slot compare per extra band
    # collision (cheap now that the compare is codegen, not a fold).
    est = _slot_agreement(
        F.col("a.signature"), F.col("b.signature"), num_hashes
    ) / F.lit(float(num_hashes))
    return (
        left.join(
            right,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Estimator-quality audit: banded MinHash estimates vs EXACT Jaccard.

    At 100 TB nobody can eyeball whether the banding parameters still
    fit the corpus — this is the continuous calibration check a
    production dedup pipeline runs instead: for every banded candidate
    pair (threshold 0 — the full estimate spectrum, not just accepted
    dups), group by the signature-agreement count k and compare the
    estimator k/K against the micro-averaged exact Jaccard of the bin.
    A well-calibrated family tracks the diagonal; drift at high k means
    hash-family or shingle-grain trouble, mass at low k means the bands
    are too coarse (candidate blowup).

    One extra equi-join pair beyond the candidate generation itself
    (token sets re-attach by id), exact set math via array_intersect/
    array_union on distinct-shingle arrays, and a ≤(K+1)-row result.
    Determinism/portability: the micro average is ONE double division
    of exact integer sums per bin (never an AVG over doubles, whose
    accumulation order differs between engines), and est k/K is an
    exact dyadic — so a SQL oracle reproduces every bit.

    Returns (k_agree, n_pairs, sum_inter, sum_union,
    micro_exact_jaccard, est_jaccard) ordered by k_agree.

    Degenerate documents (zero whitespace tokens: null/empty/
    whitespace-only text) are EXCLUDED from the audit up front. In the
    dedup pipeline proper they all share word_shingles' single ""
    fallback shingle — one signature, one band bucket — which is the
    established (oracle-replayed) pipeline semantics; but as AUDIT
    inputs they are noise (exact Jaccard over empty token sets is
    0/0), and a SQL ground truth that tokenizes with empties dropped
    never sees them, so keeping them would produce Spark-only pairs
    at threshold 0 (round-9 ADVICE finding, pinned by
    test_round9_ops.py's planted degenerate-doc cases).
    """
    df = df.filter(F.size(_tokens(F.col(text_col))) > 0)
    pairs = minhash_near_duplicates(
        df, id_col, text_col, num_hashes, bands, n,
        threshold=0.0, seed=seed,
    )
    toksets = df.select(
        F.col(id_col).alias("__id"),
        word_shingles(F.col(text_col), n, distinct=True).alias("__toks"),
    )
    scored = (
        pairs.join(
            toksets.select(
                F.col("__id").alias("id_a"), F.col("__toks").alias("__ta")
            ),
            "id_a",
        )
        .join(
            toksets.select(
                F.col("__id").alias("id_b"), F.col("__toks").alias("__tb")
            ),
            "id_b",
        )
        .select(
            F.round(F.col("est_jaccard") * num_hashes)
            .cast("int")
            .alias("k_agree"),
            F.size(F.array_intersect("__ta", "__tb")).alias("__inter"),
            F.size(F.array_union("__ta", "__tb")).alias("__union"),
        )
    )
    agg = scored.groupBy("k_agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("__inter").alias("sum_inter"),
        F.sum("__union").alias("sum_union"),
    )
    return agg.select(
        "k_agree",
        "n_pairs",
        "sum_inter",
        "sum_union",
        F.when(
            F.col("sum_union") > 0, F.col("sum_inter") / F.col("sum_union")
        )
        .otherwise(F.lit(0.0))
        .alias("micro_exact_jaccard"),
        (F.col("k_agree").cast("double") / float(num_hashes)).alias(
            "est_jaccard"
        ),
    ).orderBy("k_agree")


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """n_bits-wide SimHash per document, fully JVM-side.

    Token hash bits vote ±1 per position; the signature packs the sign
    bits. One explode + one groupBy(id) with n_bits conditional sums.
    ``portable=True`` votes with the polynomial rolling hash (31 usable
    bits — pair with n_bits<=31) so plain SQL reproduces the signature.
    """
    toks = _ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("tok"),
    ).withColumn(
        "h", _poly_hash(F.col("tok")) if portable else F.xxhash64("tok")
    )

    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(n_bits)
        ]
    )
    sig = None
    for i in range(n_bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split the signature into 4 chunks; hamming ≤ 3
    guarantees ≥1 identical chunk, so candidates come from 4 equi-joins
    (unioned), never a crossJoin.
    """
    sig = simhash_signatures(df, id_col, text_col, n_bits, portable)
    return hamming_pairs(sig, id_col, "simhash", max_hamming, n_bits)


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """Pairs with hamming(hash) ≤ max_hamming over ANY 64-bit-style
    signature column — the pigeonhole chunk equi-join shared by text
    SimHash and the multimodal perceptual-hash dedup. Splitting the
    signature into 4 chunks guarantees hamming ≤ 3 pairs agree on at
    least one chunk, so candidates come from 4 equi-joins (unioned via
    one explode), never a crossJoin.
    """
    # pigeonhole soundness: 4 chunks guarantee recall only for
    # hamming <= 3 (a hamming-4 pair can differ in every chunk and
    # never become a join candidate) — reject silently-lossy budgets
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "hamming_pairs: max_hamming must be in [0, 3] for the "
            "4-chunk pigeonhole join (hamming k needs k+1 chunks)"
        )
    width = n_bits // 4
    mask = (1 << width) - 1
    chunks = sig.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright(F.col(hash_col), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, hash_col, "c.chunk_id", "c.chunk")

    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.chunk_id") == F.col("b.chunk_id"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(f"bit_count(a.{hash_col} ^ b.{hash_col})").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into duplicate CLUSTERS: iterative
    min-label propagation (the distributed union-find) — each node
    repeatedly adopts the smallest label among itself and its neighbors
    until fixpoint.

    Returns (node, cluster_id) where cluster_id is the smallest node id
    in the component. Each round combines neighbor-min propagation with
    POINTER JUMPING (label := label(label)), giving O(log diameter)
    convergence; ``localCheckpoint`` truncates the plan lineage every
    round — without it, iterative DataFrame algorithms compound their
    plans until analysis/codegen exhausts the driver heap.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: adopt the label of one's label (halves chains)
        lab_map = stepped.select(
            F.col("node").alias("__m_node"), F.col("label").alias("__m_label")
        )
        new_labels = (
            stepped.join(lab_map, stepped.label == F.col("__m_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("__m_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def dedup_by_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep one representative (min id) per near-dup cluster; singleton
    docs (no pairs) survive untouched."""
    comp = connected_components(pairs)
    tagged = df.join(comp, df[id_col] == comp.node, "left")
    keep_ids = (
        tagged.withColumn(
            "__cluster", F.coalesce(F.col("cluster_id"), F.col(id_col))
        )
        .groupBy("__cluster")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep_ids, id_col, "left_semi")


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_token_docs: int | None = None,
    ngram: int = 1,
    uncapped_sizes: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard via inverted-index self-join.

    ``max_token_docs`` drops tokens appearing in more than that many docs
    (stopword explosion guard — at 100 TB an unfiltered self-join on 'the'
    is quadratic; the cap bounds each token's join output). ``ngram > 1``
    switches the unit from single tokens to word n-gram shingles
    (word_shingles) — sharper near-dup signal on stop-word-heavy text,
    since shared phrases are rarer than shared words.

    With the cap active the similarity itself is CAP-REDEFINED by
    default: both the intersection counts and the doc sizes come from
    the capped token sets, so ``jaccard`` is the Jaccard of the
    post-cap (stopword-filtered) sets — the self-consistent semantics
    every downstream consumer of this operator is verified against.
    ``uncapped_sizes=True`` keeps only the candidate JOIN bounded and
    takes the denominators from the UNCAPPED sets; the result is a
    strict LOWER BOUND on true Jaccard (intersections still lose the
    capped tokens). Round-10 measured that lower bound collapsing on
    stopword-heavy corpora (50K-doc zipf: pair counts at tau=0.5 fell
    from hundreds to ~1 because shared mid-frequency tokens were
    capped out of the numerator but kept in the denominator), so the
    audits ship the capped definition and this flag stays for callers
    who explicitly want the conservative bound.
    """
    unit = (
        F.array_distinct(_tokens(F.col(text_col)))
        if ngram == 1
        else word_shingles(F.col(text_col), n=ngram, distinct=True)
    )
    toks = _ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(unit).alias("tok"),
    )
    toks_all = toks
    if max_token_docs is not None:
        w = Window.partitionBy("tok")
        toks = toks.withColumn("__df", F.count("*").over(w)).filter(
            F.col("__df") <= max_token_docs
        ).drop("__df")

    sizes = (toks_all if uncapped_sizes else toks).groupBy("doc").agg(
        F.count("*").alias("n_tok")
    )

    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, on=[F.col("a.tok") == F.col("b.tok"), F.col("a.doc") < F.col("b.doc")])
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_precision_recall(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 1,
    threshold: float = 0.5,
    seed: int = 42,
    max_token_docs: int | None = None,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Retrieval-quality scorecard for the banded MinHash path: the
    accepted pair set (estimate >= threshold) against the EXACT
    token-Jaccard ground truth at the same threshold.

    ``minhash_calibration`` answers "is the estimator calibrated?";
    this answers the operational question "what fraction of true
    near-dups does the pipeline keep (recall), and how much of what it
    keeps is real (precision)?" — run continuously at scale, a recall
    drop is the first sign the banding curve no longer fits the corpus.

    One row: (n_exact, n_accepted, n_true_pos, pair_precision,
    pair_recall — the prefix keeps clear of SQL's PRECISION keyword).
    Both ratios are single float divisions of exact pair COUNTS —
    engine-portable, so a SQL oracle replays them bit-for-bit. Both
    pair tiers are the existing bounded joins (banded candidates;
    inverted-index with the frequent-token cap) — never all-pairs.

    Ground-truth definition under the cap (round-9 ADVICE, resolved by
    measurement in round 10): with ``max_token_docs`` active the ground
    truth is CAPPED-Jaccard — the Jaccard of the post-cap token sets,
    i.e. similarity over the stopword-filtered vocabulary (the same
    self-consistent definition every other consumer of
    token_jaccard_pairs is verified against). It is NOT exact
    full-vocabulary Jaccard, and this docstring says so instead of
    overstating it. The measured alternative
    (token_jaccard_pairs(uncapped_sizes=True): capped intersections
    over TRUE set sizes) is strictly a lower bound and COLLAPSES on
    stopword-heavy corpora — on the 50K-doc zipf corpus the cap drops
    enough shared mid-frequency tokens that n_exact fell from hundreds
    to 1 and the audit went blind (SCALE.md round-10 table) — so the
    self-consistent capped definition ships. With the cap inactive
    (the correctness-scale catalog entry) both definitions coincide
    with exact Jaccard.

    Scale posture: the exact ground-truth side is the expensive tier —
    on a stopword-heavy corpus an UNCAPPED inverted index is quadratic
    (measured: the 50K-doc zipf corpus never finished uncapped, seconds
    with ``max_token_docs``), so always pass a cap beyond toy scale; at
    production scale run the audit on a document SAMPLE — P/R are
    ratios, so a uniform sample estimates them without the full
    ground-truth join. ``sample_fraction`` executes exactly that
    prescription: a DETERMINISTIC content-hash sample over ``id_col``
    (affine hash mod the Mersenne prime — the same integer family the
    signatures use, so a SQL oracle replays the sample membership
    bit-for-bit; never rand(), whose draw order is partitioning-
    dependent). Both the LSH side and the ground-truth side see the
    same sampled corpus, so the ratios are the sampled-corpus P/R.
    With both a cap and a sample, the cap SCALES by the fraction
    (cap·fraction): a token at corpus doc-frequency df appears at
    ~df·fraction in the sample, so an absolute cap would apply a
    weaker stopword filter than the full audit being estimated — and
    the scaled cap bounds the sampled inverted index proportionally
    (measured 3× faster at bit-identical ratios; SCALE.md round 10).

    Degenerate documents (zero whitespace tokens) are excluded up
    front, same rationale as minhash_calibration.
    """
    df = df.filter(F.size(_tokens(F.col(text_col))) > 0)
    if sample_fraction is not None:
        df = deterministic_id_sample(df, id_col, sample_fraction)
        if max_token_docs is not None:
            # scale the cap with the sample so the sampled ground
            # truth applies the SAME effective stopword filter as the
            # full audit it estimates: a token at doc-frequency df in
            # the corpus appears at ~df*fraction in the sample, so an
            # absolute cap would admit tokens the full audit excludes
            # (review finding — the ratios would then shift
            # systematically, not by sampling noise)
            max_token_docs = max(1, int(max_token_docs * sample_fraction))
    lsh = minhash_near_duplicates(
        df, id_col, text_col, num_hashes, bands, n,
        threshold=threshold, seed=seed,
    ).select("id_a", "id_b", F.lit(1).alias("__l"))
    exact = token_jaccard_pairs(
        df, id_col, text_col, threshold=threshold,
        max_token_docs=max_token_docs, ngram=n,
    ).select("id_a", "id_b", F.lit(1).alias("__e"))
    joined = lsh.join(exact, ["id_a", "id_b"], "full_outer")
    agg = joined.agg(
        F.count("__e").alias("n_exact"),
        F.count("__l").alias("n_accepted"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1))
        .alias("n_true_pos"),
    )
    return agg.select(
        "n_exact",
        "n_accepted",
        "n_true_pos",
        F.when(
            F.col("n_accepted") > 0, F.col("n_true_pos") / F.col("n_accepted")
        )
        .otherwise(F.lit(0.0))
        .alias("pair_precision"),
        F.when(F.col("n_exact") > 0, F.col("n_true_pos") / F.col("n_exact"))
        .otherwise(F.lit(0.0))
        .alias("pair_recall"),
    )


def survivor_manifest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size_col: str,
    threshold: float = 0.9,
    max_token_docs: int | None = None,
) -> DataFrame:
    """The deletion step of the dedup pipeline: token-Jaccard pairs →
    connected components → ONE representative per cluster (largest
    ``size_col``, ``id_col`` tiebreak); singleton documents survive as
    their own cluster.

    Returns (cluster_id, survivor_id, survivor_chars, cluster_size) —
    the manifest a downstream job semi-joins against to drop duplicates.
    The per-cluster window partitions by cluster_id; clusters are
    near-dup-family-sized, so no partition approaches executor memory at
    any corpus scale, and the pair-join cap (``max_token_docs``) bounds
    the quadratic stage upstream.
    """
    from pyspark.sql import Window

    pairs = token_jaccard_pairs(
        df, id_col, text_col, threshold=threshold, max_token_docs=max_token_docs
    )
    comp = connected_components(pairs)
    labeled = (
        df.select(F.col(id_col), F.col(size_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.col(size_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
    part = Window.partitionBy("cluster_id")
    ranked = labeled.withColumn(
        "rn",
        F.row_number().over(
            part.orderBy(F.desc(size_col), F.asc(id_col))
        ),
    ).withColumn("cluster_size", F.count("*").over(part))
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col(id_col).alias("survivor_id"),
        F.col(size_col).alias("survivor_chars"),
        "cluster_size",
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_tokens: int = 5,
    max_df: int = 20,
) -> DataFrame:
    """Asymmetric shingle-containment pairs (doc-inside-doc detection):
    |S(a)∩S(b)|/|S(a)| and /|S(b)| over ``shingle_tokens``-token shingle
    sets, candidates from the shingle inverted index with a document-
    frequency guard (``max_df`` — the max_token_docs pattern: boilerplate
    shingles never pair-explode). The one definition behind the
    x_containment_dedup catalog query and its planted tests."""
    sh = (
        df.select(
            id_col,
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "").alias(
                "tk"
            ),
        )
        .filter(F.size("tk") >= shingle_tokens)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (shingle_tokens - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("tk"), i, shingle_tokens), " "
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ok = sh.join(dfreq, "shingle").filter(F.col("df") <= max_df).select(
        id_col, "shingle"
    )
    a, b = ok.alias("a"), ok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            (F.col("shared").cast("double") / F.col("n_a")).alias(
                "containment_a"
            ),
            (F.col("shared").cast("double") / F.col("n_b")).alias(
                "containment_b"
            ),
        )
    )
