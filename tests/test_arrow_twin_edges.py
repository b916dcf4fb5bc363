"""Bit-identity and edge-policy pins for the Arrow-batched twins.

Every pandas_udf that runs in production (similarity.dot_pandas,
table_signatures_pandas, banded_signatures_pandas, ivf_assign_ids_pandas,
pq_dists_pandas, clustering._sq_l2_pandas and dedup's MinHash kernel) runs
on ONE path and advertises bit-identity to an interpreted expression kept
beside it, FOR FINITE INPUTS. This module pins each twin against that
expression on real fixtures, and feeds literal NaN / Inf / NULL /
width-mismatched vectors through BOTH sides to pin the documented edge
policy, so a future Arrow-serializer or numpy change cannot silently flip
ranking or bucketing behavior:

- finite inputs: twin == JVM bit-for-bit (incl. Inf, which both propagate);
- NaN DATA: JVM keeps NaN, twin yields NULL — the deliberate safe-direction
  divergence (Spark sorts NaN above every number, so a NaN similarity would
  rank a corrupt vector as the #1 neighbor; NULL sorts last);
- NULL arrays: NULL both sides for the pair folds; for signatures the JVM
  expression degrades to bucket 0 (null projection fails `>= 0`, the
  when/otherwise emits bit 0) while the twin yields NULL — divergence in the
  safe direction (a NULL bucket joins nothing; bucket 0 would collide);
- a-vs-b width mismatch: NULL both sides, matching zip_with's null-padding —
  including the UNIFORM-batch case where each side vstacks cleanly but the
  widths differ (the round-9 fix: previously an uncaught IndexError when a
  was wider, a silent dot over only a's dims when narrower);
- NaN signatures: JVM sets the sign bit (NaN >= 0 is true under NaN-max
  ordering), numpy clears it — corrupt vectors land in different, non-real
  buckets.
"""

import math

import pytest
from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.operators.clustering import (
    _sq_l2_expr,
    _sq_l2_pandas,
)
from sportstv_streaming_data_warehouse_spark.operators.similarity import (
    banded_signatures_expr,
    banded_signatures_pandas,
    dot,
    dot_pandas,
    lcg_plane,
    lsh_signature,
    table_signatures_pandas,
)
from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

from .conftest import SF001, SF01

NAN, INF = float("nan"), float("inf")


PAIR_TWINS = [
    pytest.param(dot, dot_pandas, id="dot"),
    # the production expression, imported (not re-implemented) so the
    # bit-identity pin cannot silently drift from the shipped fold
    pytest.param(_sq_l2_expr, _sq_l2_pandas, id="sq_l2"),
]


@pytest.mark.parametrize("jvm_fold,twin", PAIR_TWINS)
def test_pair_twin_edge_policy(spark, jvm_fold, twin):
    rows = [
        (1, [1.0, 2.0], [3.0, 4.0]),  # finite: bit-identical
        (2, [NAN, 1.0], [1.0, 1.0]),  # NaN data: JVM NaN, twin NULL
        (3, [INF, 1.0], [1.0, 1.0]),  # Inf: both propagate Inf
        (4, [1.0, 2.0, 3.0], [1.0, 1.0]),  # a wider: NULL both
        (5, [1.0, 2.0], [1.0, 1.0, 1.0]),  # a narrower: NULL both
        (6, None, [1.0, 1.0]),  # null array: NULL both
        (7, [1.0, 1.0], None),
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            jvm_fold(F.col("a"), F.col("b")).alias("jvm"),
            twin(F.col("a"), F.col("b")).alias("tw"),
        ).collect()
    }
    assert out[1]["jvm"] == out[1]["tw"] and out[1]["tw"] is not None
    assert math.isnan(out[2]["jvm"]) and out[2]["tw"] is None
    assert math.isinf(out[3]["jvm"]) and math.isinf(out[3]["tw"])
    for i in (4, 5, 6, 7):
        assert out[i]["jvm"] is None and out[i]["tw"] is None, (i, out[i])


@pytest.mark.parametrize("jvm_fold,twin", PAIR_TWINS)
def test_pair_twin_uniform_width_mismatch_batches(spark, jvm_fold, twin):
    """Whole-batch uniform mismatch: vstack succeeds on BOTH sides, so only
    the explicit width re-check routes these rows to the NULL fallback —
    the round-9 ADVICE fix (wider a used to IndexError and kill the task;
    narrower a silently dotted over only a's dims)."""
    for a, b in ([1.0, 2.0, 3.0], [1.0, 1.0]), ([1.0, 2.0], [1.0, 1.0, 1.0]):
        df = spark.createDataFrame(
            [(i, a, b) for i in range(8)], "id long, a array<double>, b array<double>"
        )
        got = df.select(
            jvm_fold(F.col("a"), F.col("b")).alias("jvm"),
            twin(F.col("a"), F.col("b")).alias("tw"),
        ).collect()
        assert all(r["jvm"] is None and r["tw"] is None for r in got), (a, b, got[:2])


def test_signature_twins_edge_policy(spark):
    planes = [lcg_plane(4, 0), lcg_plane(4, 4)]
    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 3.0]),  # finite: bit-identical everywhere
            (2, [NAN, 1.0, 1.0, 1.0]),  # NaN: JVM sign bits SET, numpy CLEAR
            (3, None),  # null: JVM bucket 0, twin NULL
        ],
        "id long, v array<double>",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            lsh_signature(F.col("v"), planes).alias("jvm_sig"),
            table_signatures_pandas(F.col("v"), [planes]).alias("tw_sig"),
            banded_signatures_expr(F.col("v"), 4, 2, 1, 0).alias("jvm_band"),
            banded_signatures_pandas("v", 4, 2, 1, 0).alias("tw_band"),
        ).collect()
    }
    # finite: all four agree bit-for-bit
    r = out[1]
    assert r["tw_sig"] == [r["jvm_sig"]] and r["tw_band"] == r["jvm_band"]
    # NaN data: every projection is NaN; NaN >= 0 is TRUE JVM-side (sign
    # bits all set -> 0b11 = 3) but FALSE in numpy (bucket 0) — the
    # documented divergence: the corrupt vector lands in a bucket real
    # vectors with those planes cannot produce deterministically
    r = out[2]
    assert r["jvm_sig"] == 3 and r["jvm_band"] == [3]
    assert r["tw_sig"] == [0] and r["tw_band"] == [0]
    # null vector: the JVM when/otherwise degrades to bucket 0 (would
    # collide with genuine bucket-0 vectors); the twins return NULL, which
    # equi-joins nothing — the safe direction
    r = out[3]
    assert r["jvm_sig"] == 0 and r["jvm_band"] == [0]
    assert r["tw_sig"] is None and r["tw_band"] is None


def test_minhash_slots_twin_matches_expression_slots(spark):
    """The batch-vectorised Arrow signature kernel must be
    bit-identical to the array_min(transform(...)) expression stack on
    real text AND edge rows — pure 64-bit integer math, so unlike the
    float twins equality is exact by construction. Note the edge rows
    are NOT null signatures: word_shingles(distinct=True)'s short-doc
    fallback gives null/empty/whitespace text the single "" shingle
    (concat_ws of no tokens), so all degenerate docs share one
    deterministic signature — established expression semantics the
    oracle replays, which the twin must reproduce exactly."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _minhash_signature_expr,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with other tokens here"),
            (4, None),
            (5, ""),
            (6, "   \t\n "),
            (7, "two words"),  # fewer tokens than the 3-shingle width
        ],
        "doc_id long, text string",
    )
    expr = {
        r["doc_id"]: r["signature"]
        for r in _minhash_signature_expr(docs, "doc_id", "text").collect()
    }
    twin = {
        r["doc_id"]: r["signature"]
        for r in minhash_signature(docs, "doc_id", "text").collect()
    }
    assert expr == twin
    # near-dup docs share most slots
    shared = sum(a == b for a, b in zip(twin[1], twin[2]))
    assert shared >= 16, shared
    # degenerate docs (null/empty/whitespace) share the ""-shingle
    # signature; a real short doc gets its whole-text shingle instead
    assert twin[4] == twin[5] == twin[6]
    assert all(v is not None for v in twin[4])
    assert twin[7] != twin[4]


def test_minhash_slots_twin_null_elements_match_array_min_skip(spark):
    """Direct pin of poly_minhash_slots_pandas' edge policy with every
    edge in ONE Arrow batch: the batch kernel's own failure modes are
    cross-row — the per-token offsets into the flattened codepoint
    buffer and the longest-first sort — so the edges must share a
    batch to be exercised. A NULL array, an empty array and an
    all-NULL-element array give k NULL slots; NULL elements are skipped
    the way array_min skips them (an earlier twin crashed on one);
    '' hashes to 0; a non-BMP character and an interior NUL are single
    codepoints; one token far longer than the rest leaves its
    neighbours' hashes alone."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _HASH_PRIME,
        _poly_hash,
        minhash_coefficients,
        poly_minhash_slots_pandas,
    )

    coefs = minhash_coefficients(4, 42)
    df = spark.createDataFrame(
        [
            (1, ["ab", None, "cd"]),        # null element: skipped per slot
            (2, ["ab", "cd"]),              # the equivalent dense array
            (3, None),                      # NULL array: k NULL slots
            (4, [None, None]),              # all-NULL elements: k NULL slots
            (5, []),                        # empty: k NULL slots
            (6, [""]),                      # '' hashes to 0
            (7, ["emoji \U0001F600", "\U0001D11E"]),  # non-BMP codepoints
            (8, ["nul\x00char", "x\x00"]),  # interior NUL is codepoint 0
            (9, ["a", "z" * 5000 + "\U0001F600", "bc"]),  # one long token
            (10, ["z" * 5000 + "\U0001F600"]),  # ... and its slots alone
        ],
        "id long, sh array<string>",
    ).coalesce(1)  # one partition: every row in the same Arrow batch
    expr = df.select(
        "id",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        F.transform("sh", _poly_hash),
                        lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_HASH_PRIME),
                    )
                )
                for a, b in coefs
            ]
        ).alias("sig"),
    )
    twin = df.select("id", poly_minhash_slots_pandas(F.col("sh"), coefs).alias("sig"))
    e = {r["id"]: r["sig"] for r in expr.collect()}
    t = {r["id"]: r["sig"] for r in twin.collect()}
    assert e == t
    assert t[1] == t[2]  # the null element contributed nothing
    assert t[3] == t[4] == t[5] == [None] * 4
    assert t[6] == [b for _, b in coefs]  # h('') = 0, so each slot is b


def test_poly_minhash_twin_matches_expression_portable_path(spark):
    """The one-pass Arrow kernel (poly_minhash_slots_pandas —
    char-level polynomial hash + k affine mins) must be bit-identical
    to the interpreted expression stack, over real text AND the
    adversarial edges: null / empty / whitespace-only docs, unicode
    incl. a non-BMP char (split('') yields codepoints, probed on Spark
    4.1.2 — a UTF-16-unit implementation would diverge here), interior
    NUL characters (codepoint 0 folds as h*31, so a token's true length
    must bound it), and both shingle widths the catalog uses (n=1
    gate/incremental, n=3 default)."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _minhash_signature_expr,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, None),
            (4, ""),
            (5, "   \t\n "),
            (6, "héllo wörld 日本語のテキスト mixed"),
            (7, "emoji 😀 in the middle"),
            (8, "nul\x00char inside token"),
            (9, "two words"),
            (10, "x"),
        ],
        "doc_id long, text string",
    )
    for n in (1, 3):
        expr = {
            r["doc_id"]: r["signature"]
            for r in _minhash_signature_expr(
                docs, "doc_id", "text", n=n
            ).collect()
        }
        twin = {
            r["doc_id"]: r["signature"]
            for r in minhash_signature(docs, "doc_id", "text", n=n).collect()
        }
        assert expr == twin, f"n={n}"


def test_ivf_assign_twin_matches_expression_path(spark):
    """Round-15: the Arrow argmax-assign (ivf_assign_ids_pandas, closure
    centroids) must reproduce the expression path's crossJoin → dot fold
    → row_number(dot DESC, centroid_id ASC) ≤ keep EXACTLY — cell
    MEMBERSHIP per row — over finite vectors (incl. exact ties, which
    must break to the smaller centroid id), NULL vectors and ragged
    widths (NULL dots, desc-ordered last), for keep=1 and keep=n_probe.
    NaN-element vectors are the documented safe-direction divergence
    (module policy above) and are pinned separately below."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        _ivf_assign,
        _ivf_assign_expr,
        collect_centroids,
    )

    cents = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (7, [0.0, 1.0, 0.0]),   # duplicate of 3: forces dot ties
            (9, [0.5, 0.5, 0.5]),
        ],
        "centroid_id long, __centroid array<double>",
    )
    rows = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),
            (2, [0.0, 1.0, 0.0]),      # ties centroids 3 and 7 exactly
            (3, None),                 # NULL vector: all dots NULL
            (4, [1.0, 1.0]),           # ragged: width mismatch, dots NULL
            (5, [0.25, -0.5, 0.125]),  # exact dyadics
            (6, [0.0, 0.0, 0.0]),      # all-zero: every dot == +0.0 (tie)
        ],
        "vec_id long, embedding array<double>",
    )
    lit = collect_centroids(cents)
    for keep in (1, 3):
        expr = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in _ivf_assign_expr(
                rows, cents, "vec_id", "embedding", keep
            ).collect()
        )
        for cached in (lit, None):
            arrow = sorted(
                (r["vec_id"], r["centroid_id"])
                for r in _ivf_assign(
                    rows, cents, "embedding", keep, cents=cached
                ).collect()
            )
            assert arrow == expr, f"keep={keep} cents={'lit' if cached else 'collected'}"


def test_ivf_assign_twin_nan_vector_is_safe_direction(spark):
    """A NaN element reaches the kernel as NaN (Arrow list-of-float) and
    NaN dots rank FIRST — matching how Spark itself would order a NaN
    dot (NaN sorts above every number) rather than the expression
    path's NULL-dot-last (the JVM fold nulls the whole dot). Pin the
    membership so the divergence stays deliberate and bounded: the row
    still lands on deterministic cells, tie-broken by centroid id."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        _ivf_assign,
    )

    cents = spark.createDataFrame(
        [(2, [1.0, 0.0]), (5, [0.0, 1.0])],
        "centroid_id long, __centroid array<double>",
    )
    rows = spark.createDataFrame(
        [(1, [float("nan"), 1.0])], "vec_id long, embedding array<double>"
    )
    got = sorted(
        r["centroid_id"]
        for r in _ivf_assign(rows, cents, "embedding", 1).collect()
    )
    # both dots NaN -> ties break to the smaller centroid id
    assert got == [2]


def test_poly_minhash_twin_randomized_corpus_parity(spark):
    """Round-15 (r14 ADVICE): the portable path's Arrow twin bit-identity
    rests on two probed Spark behaviors (split('') yields codepoints,
    ascii() = codepoint) pinned above on 10 hand-picked docs. This
    widens the pin to a seeded pseudo-random corpus — mixed-script
    tokens drawn across ASCII / Latin-1 / CJK / non-BMP ranges, random
    token counts and lengths — so a Spark upgrade changing either
    behavior fails THIS test loudly instead of surfacing as downstream
    oracle drift across the whole poly family."""
    import random

    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _minhash_signature_expr,
        minhash_signature,
    )

    rng = random.Random(15_042)
    ranges = [
        (0x20, 0x7E),        # ASCII printable (incl. space: multi-token)
        (0xA1, 0xFF),        # Latin-1
        (0x400, 0x4FF),      # Cyrillic
        (0x4E00, 0x9FFF),    # CJK
        (0x1F300, 0x1F64F),  # non-BMP emoji
    ]

    def token():
        lo, hi = rng.choice(ranges)
        return "".join(
            chr(rng.randint(lo, hi)) for _ in range(rng.randint(1, 12))
        )

    docs = [
        (i, " ".join(token() for _ in range(rng.randint(0, 25))))
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for n in (1, 3):
        expr = {
            r["doc_id"]: r["signature"]
            for r in _minhash_signature_expr(df, "doc_id", "text", n=n).collect()
        }
        twin = {
            r["doc_id"]: r["signature"]
            for r in minhash_signature(df, "doc_id", "text", n=n).collect()
        }
        assert expr == twin, f"n={n}"


def test_slot_agreement_matches_the_aggregate_fold(spark):
    """Round-15: `_slot_agreement` (size∘filter∘zip_with — 1.4-1.9x the
    fold at gate scale) must count agreeing slots exactly like the
    aggregate fold it replaced for every signature this engine produces
    (fixed k-length, all-or-nothing nulls). The one divergence — an
    ALL-NULL signature scores NULL under the fold, 0 here — is pinned
    too: both fail every catalog threshold (the only τ=0 consumer,
    minhash_calibration, excludes the zero-token docs that could in
    principle produce such signatures — and even those fold to the [""]
    shingle, i.e. valid integer slots, never null)."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _slot_agreement,
    )

    k = 8
    rows = [
        (1, [1, 2, 3, 4, 5, 6, 7, 8], [1, 2, 3, 4, 5, 6, 7, 8]),   # all agree
        (2, [1, 2, 3, 4, 5, 6, 7, 8], [1, 2, 0, 4, 0, 6, 0, 8]),   # 5 agree
        (3, [0, 0, 0, 0, 0, 0, 0, 0], [1, 2, 3, 4, 5, 6, 7, 8]),   # none
        (4, [None] * k, [1, 2, 3, 4, 5, 6, 7, 8]),                  # all-null side
        (5, [None] * k, [None] * k),                                # both all-null
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<bigint>, b array<bigint>"
    )
    fold = F.aggregate(
        F.zip_with("a", "b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    got = {
        r["id"]: (r["new"], r["old"])
        for r in df.select(
            "id",
            _slot_agreement(F.col("a"), F.col("b"), k).alias("new"),
            fold.alias("old"),
        ).collect()
    }
    assert got[1] == (8, 8) and got[2] == (5, 5) and got[3] == (0, 0)
    # the documented all-null divergence: 0 vs NULL — both fail any tau>0
    assert got[4] == (0, None) and got[5] == (0, None)
    # and the verdict equivalence both sides of the threshold filter
    for new, old in got.values():
        assert (new / k >= 0.5) == bool(old is not None and old / k >= 0.5)


def test_dot_pandas_is_bit_identical_to_the_jvm_fold(spark):
    # the Arrow refine twin must equal the JVM sequential fold EXACTLY
    # (not approximately) — the cosine oracles hash these doubles
    emb = load_table(spark, SF001, "embeddings")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("ia") % 17 == F.col("ib") % 17)  # dense sample
    cmp = pairs.select(
        dot(F.col("ea"), F.col("eb")).alias("jvm"),
        dot_pandas(F.col("ea"), F.col("eb")).alias("arrow"),
    )
    assert cmp.count() > 1000
    assert cmp.filter(F.col("jvm") != F.col("arrow")).count() == 0
    # ragged/null fallback path stays exact too
    odd = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0]), ([1.0], [2.0]), (None, [1.0])],
        "a array<float>, b array<float>",
    )
    rows = odd.select(
        dot_pandas("a", "b").alias("d"), dot("a", "b").alias("j")
    ).collect()
    assert [r["d"] for r in rows] == [r["j"] for r in rows] == [11.0, 2.0, None]


def test_table_signatures_pandas_bit_identical_to_jvm_expression(spark):
    # bucket ids decide LSH candidates, and the poly oracle replays the
    # sequential fold — the Arrow twin must match the JVM expression
    # exactly (including planes near the sign boundary), on BOTH plane
    # families
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        _hyperplanes,
    )

    emb = load_table(spark, SF001, "embeddings")
    for fam in ("gauss", "lcg"):
        planes_by_table = [
            [lcg_plane(64, 42 + (t * 5 + i) * 64) for i in range(5)]
            if fam == "lcg"
            else _hyperplanes(64, 5, 42 + t)
            for t in range(12)
        ]
        jvm = F.array(
            *[lsh_signature(F.col("embedding"), p) for p in planes_by_table]
        )
        cmp = emb.select(
            jvm.alias("j"),
            table_signatures_pandas("embedding", planes_by_table).alias("a"),
        )
        assert cmp.filter(F.col("j") != F.col("a")).count() == 0, fam


def test_minhash_twin_matches_expression_on_a_randomized_unicode_corpus(spark):
    """~240 deterministic pseudo-random texts (ASCII, punctuation,
    unicode letters, exotic whitespace, empties): the MinHash Arrow
    kernel must stay bit-identical to the expression slots."""
    import random

    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _minhash_signature_expr,
        minhash_signature,
    )

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

    df = spark.createDataFrame(
        [(i, make_text()) for i in range(240)], "doc_id long, text string"
    )
    expr = {
        r["doc_id"]: r["signature"]
        for r in _minhash_signature_expr(df, "doc_id", "text").collect()
    }
    twin = {
        r["doc_id"]: r["signature"]
        for r in minhash_signature(df, "doc_id", "text").collect()
    }
    assert expr == twin


def test_pq_arrow_twin_is_bit_identical_to_the_expression_fold(spark):
    """The shipped PQ path (pq_dists_pandas) must equal the interpreted
    nested-HOF fold EXACTLY — same ascending-order (x-y)^2 accumulation,
    so every table double, and therefore every code, ADC sum and rank
    built from it, matches bit-for-bit (the property that lets the twin
    ship inside the oracle-verified catalog query). Compared on the
    corpus side (normalized vectors → codes) and the query side (the
    ADC tables), plus the null / wrong-width edge: a NULL table on BOTH
    sides — unguarded, the JVM fold encoded a 7-dim vector to
    valid-looking leading codes ([27, 28, 20, None, ...]; found in
    round 10)."""
    from sportstv_streaming_data_warehouse_spark.operators.similarity import (
        _pq_subspace_dists,
        normalize_embeddings,
        pq_codebooks,
        pq_dists_pandas,
    )

    emb = load_table(spark, SF01, "embeddings")
    books = pq_codebooks(emb)
    bad = spark.createDataFrame(
        [(-1, None), (-2, [0.5] * 7)], "vec_id long, embedding array<double>"
    )
    vecs = normalize_embeddings(emb.select("vec_id", "embedding")).unionByName(bad)
    got = {
        r["vec_id"]: (r["tw"], r["jvm"])
        for r in vecs.select(
            "vec_id",
            pq_dists_pandas(F.col("embedding"), books).alias("tw"),
            _pq_subspace_dists(F.col("embedding"), books).alias("jvm"),
        ).collect()
    }
    assert len(got) == emb.count() + 2
    assert got.pop(-1) == (None, None) and got.pop(-2) == (None, None)
    for vid, (tw, jvm) in got.items():
        assert tw is not None and len(tw) == 32 and all(len(t) == 32 for t in tw)
        assert tw == jvm, vid
