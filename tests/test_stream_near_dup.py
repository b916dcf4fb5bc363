"""Streaming MinHash-LSH near-dup gate (streaming/near_dup.py).

Planted cross-batch and within-batch near-dups through a real
foreachBatch stream, parity with the sequential batch model
(replay_gate — the X53 join algebra folded over the batches), the
near-dup-free invariant on the admitted set, and retry idempotency of
the per-batch index writes.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sportstv_streaming_data_warehouse_spark.operators.dedup import (
    minhash_near_duplicates,
)
from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
    gate_batch,
    make_near_dup_gate,
    replay_gate,
    run_near_dup_gate,
)

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

T_A = (
    "the quick brown fox jumps over the lazy dog while rain falls on the "
    "quiet town and the river keeps moving under the old stone bridge"
)
T_B = (
    "streaming analytics engines aggregate billions of events per day into "
    "compact facts that analysts query with simple declarative statements"
)
T_C = (
    "mountain trails wind through cedar forests where morning fog settles "
    "into valleys long before the first hikers reach the ridge line"
)
T_D = (
    "training corpora must be screened for near duplicate documents before "
    "tokenization or the model memorizes boilerplate instead of language"
)

BATCH1 = [(0, T_A), (1, T_B), (2, T_C)]
# 10 duplicates corpus doc 0; 13 duplicates corpus doc 1; 12 duplicates
# same-batch doc 11 (larger id loses); 11 is fresh
BATCH2 = [(10, T_A), (11, T_D), (12, T_D), (13, T_B)]


def _drop(path, name, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


@pytest.fixture(scope="module")
def gated(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("near_dup_gate")
    inp = str(root / "in")
    dirs = {k: str(root / k) for k in ("index", "admitted", "rejected", "ckpt")}
    _drop(inp, "d1.json", BATCH1)
    _drop(inp, "d2.json", BATCH2)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(inp)
    )
    q = run_near_dup_gate(
        stream,
        dirs["index"],
        dirs["admitted"],
        dirs["ckpt"],
        rejected_dir=dirs["rejected"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return dirs


def test_cross_batch_and_within_batch_rejections(spark, gated):
    admitted = spark.read.parquet(gated["admitted"])
    assert sorted(
        r["doc_id"] for r in admitted.select("doc_id").collect()
    ) == [0, 1, 2, 11]
    rej = {
        r["doc_id"]: (r["matched_id"], r["reason"])
        for r in spark.read.parquet(gated["rejected"]).collect()
    }
    assert rej[10] == (0, "corpus")
    assert rej[13] == (1, "corpus")
    assert rej[12] == (11, "batch")
    assert set(rej) == {10, 12, 13}


def test_stream_matches_the_sequential_batch_model(spark, gated):
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(gated["admitted"]).select("doc_id").collect()
    )
    b1 = spark.createDataFrame(BATCH1, SCHEMA)
    b2 = spark.createDataFrame(BATCH2, SCHEMA)
    model_admitted, model_index = replay_gate([b1, b2])
    assert sorted(r["doc_id"] for r in model_admitted.collect()) == got
    # the stored index is exactly the model's accumulated bands
    idx = spark.read.parquet(gated["index"])
    assert sorted(
        (r["doc_id"], r["band_id"], r["band_hash"]) for r in idx.collect()
    ) == sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in model_index.collect()
    )


def test_admitted_set_is_near_dup_free(spark, gated):
    admitted = spark.read.parquet(gated["admitted"]).select("doc_id", "text")
    pairs = minhash_near_duplicates(admitted, "doc_id", "text", threshold=0.5)
    assert pairs.count() == 0


def test_future_duplicates_of_every_admitted_doc_are_gated(spark, gated):
    index = (
        spark.read.parquet(gated["index"])
        .select("doc_id", "signature", "band_id", "band_hash")
    )
    replay = spark.createDataFrame(
        [(100, T_A), (101, T_B), (102, T_C), (103, T_D)], SCHEMA
    )
    admitted, _, rejected = gate_batch(replay, index)
    assert admitted.count() == 0
    assert rejected.filter(F.col("reason") == "corpus").count() == 4


def test_retried_batch_is_idempotent(spark, tmp_path):
    dirs = {k: str(tmp_path / k) for k in ("index", "admitted")}
    process = make_near_dup_gate(dirs["index"], dirs["admitted"])
    batch = spark.createDataFrame(BATCH1, SCHEMA)
    process(batch, 0)
    once_index = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(dirs["index"]).collect()
    )
    # a retry of the SAME batch id must not self-collide against the
    # half-written attempt, and must leave the index unchanged
    process(batch, 0)
    again = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(dirs["index"]).collect()
    )
    assert again == once_index
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["admitted"]).collect()
    ) == [0, 1, 2]


def test_chain_gating_is_component_min_not_sequential_greedy(spark):
    """A~B, B~C, A!~C in one batch (estimates verified: 0.75 / 0.56 /
    no pair): the one-pass rule rejects BOTH B and C keeping only A —
    the connected-component-min semantics of the cluster dedup, not
    sequential greedy (which would re-admit C after rejecting its only
    partner B). Pinned so the gate_batch docstring's stated semantics
    stay true."""
    base = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
            "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
            "november", "oscar", "papa", "quebec", "romeo", "sierra",
            "tango", "uniform", "victor", "whiskey", "xray"]
    a = " ".join(base)
    b = " ".join(base[:20] + ["zulu", "yankee", "neptune", "saturn"])
    c = " ".join(base[:14] + ["venus", "mars", "uranus"]
                 + base[17:20] + ["zulu", "yankee", "neptune", "saturn"])
    batch = spark.createDataFrame([(1, a), (2, b), (3, c)], SCHEMA)
    admitted, _, rejected = gate_batch(batch, None)
    assert sorted(r["doc_id"] for r in admitted.collect()) == [1]
    rej = {r["doc_id"]: (r["matched_id"], r["reason"]) for r in rejected.collect()}
    assert rej == {2: (1, "batch"), 3: (2, "batch")}


def test_read_index_treats_only_no_index_errors_as_first_batch(spark, tmp_path):
    """round-11 ADVICE: the bare AnalysisException catch misclassified
    corrupt-layout errors as 'no index yet' and admitted the batch
    unscreened. Missing dir and empty dir ARE first-batch conditions;
    a conflicting directory structure under basePath must propagate."""
    from pyspark.errors import AnalysisException

    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        _read_index,
    )

    missing = str(tmp_path / "nope")
    assert _read_index(spark, missing, 0) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read_index(spark, str(empty), 0) is None
    # any OTHER analysis error (layout/permission problems surface with
    # a different — or no — error class) must propagate, not be
    # misread as "no index yet"
    class _Reader:
        def option(self, *a):
            return self

        def parquet(self, p):
            raise AnalysisException("corrupt index layout")  # class None

    class _FakeSpark:
        read = _Reader()

    with pytest.raises(AnalysisException, match="corrupt index layout"):
        _read_index(_FakeSpark(), str(tmp_path / "whatever"), 0)


def test_gate_batch_honors_precomputed_batch_bands(spark):
    """batch_bands passthrough (the streaming gate persists it once per
    micro-batch): identical-parameter bands give identical gating."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _banded_minhash,
    )

    batch = spark.createDataFrame(BATCH1, SCHEMA)
    plain_adm, _, plain_rej = gate_batch(batch, None)
    bb = _banded_minhash(batch, "doc_id", "text", 32, 8, 3, 42,
                         cache=False).persist()
    try:
        adm, _, rej = gate_batch(batch, None, batch_bands=bb)
        assert sorted(r["doc_id"] for r in adm.collect()) == sorted(
            r["doc_id"] for r in plain_adm.collect()
        )
        assert sorted((r["doc_id"], r["matched_id"]) for r in rej.collect()) == sorted(
            (r["doc_id"], r["matched_id"]) for r in plain_rej.collect()
        )
    finally:
        bb.unpersist()


def test_index_is_bucket_partitioned_and_the_gate_prunes_it(spark, gated):
    """round-12 (verdict task 4): the index layout is PARTITIONED BY
    band_bucket, the gate's corpus candidate join (a) prunes the index
    scan to the batch's occupied buckets via a PartitionFilter and
    (b) broadcasts the batch side so the growing index is never
    shuffled or sorted."""
    import glob

    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        _read_index,
    )

    # layout: every ingest_batch partition fans out into band_bucket=*
    assert glob.glob(f"{gated['index']}/ingest_batch=*/band_bucket=*")
    index = _read_index(spark, gated["index"], exclude_batch=99)
    assert "band_bucket" in index.columns
    batch = spark.createDataFrame([BATCH2[0]], SCHEMA)
    _, _, rejected = gate_batch(batch, index)
    plan = rejected._jdf.queryExecution().executedPlan().toString()
    # the isin on the partition column must land as a PartitionFilter
    # (scan prune), not a post-scan Filter
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any("band_bucket" in ln for ln in scan_lines), plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_portable_stream_matches_the_portable_batch_model(spark, tmp_path):
    """The catalog entry s_near_dup_gate_grain verifies replay_gate's
    batch algebra against a full SQL gate replay at unigram shingles
    and tau 0.6; this pins the real foreachBatch stream equal to
    replay_gate at that same operating point, closing the transitive
    chain (the default-parameter twin of
    test_stream_matches_the_sequential_batch_model)."""
    root = tmp_path
    inp = str(root / "in")
    dirs = {k: str(root / k) for k in ("index", "admitted", "ckpt")}
    _drop(inp, "d1.json", BATCH1)
    _drop(inp, "d2.json", BATCH2)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(inp)
    )
    q = run_near_dup_gate(
        stream, dirs["index"], dirs["admitted"], dirs["ckpt"], n=1,
        threshold=0.6,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["admitted"]).select("doc_id").collect()
    )
    b1 = spark.createDataFrame(BATCH1, SCHEMA)
    b2 = spark.createDataFrame(BATCH2, SCHEMA)
    model_admitted, _ = replay_gate([b1, b2], n=1, threshold=0.6)
    assert got == sorted(r["doc_id"] for r in model_admitted.collect())


def _gate_verdict(spark, index_dir, batch_rows):
    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        _read_index,
    )

    index = _read_index(spark, index_dir, exclude_batch=10_000)
    batch = spark.createDataFrame(batch_rows, SCHEMA)
    admitted, _, rejected = gate_batch(batch, index)
    return (
        sorted(r["doc_id"] for r in admitted.collect()),
        sorted(
            (r["doc_id"], r["matched_id"], r["reason"])
            for r in rejected.collect()
        ),
    )


def test_compact_index_preserves_gating_and_shrinks_files(spark, tmp_path):
    """round-12 (SCALE note c): compaction folds the per-batch index
    partitions into one band_bucket-clustered base — identical row set,
    identical gate verdicts, strictly fewer files, batch partitions
    gone, and the gate keeps working (a post-compaction batch writes
    its own partition beside the base)."""
    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        compact_index,
    )

    dirs = {k: str(tmp_path / k) for k in ("index", "admitted")}
    process = make_near_dup_gate(dirs["index"], dirs["admitted"])
    process(spark.createDataFrame(BATCH1, SCHEMA), 0)
    process(spark.createDataFrame(BATCH2, SCHEMA), 1)

    probe = [(500, T_A), (501, T_D), (502, "wholly novel words only here")]
    before_rows = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(dirs["index"]).collect()
    )
    before_verdict = _gate_verdict(spark, dirs["index"], probe)

    stats = compact_index(spark, dirs["index"], upto_batch=1)
    assert stats["folded_partitions"] == 2
    assert stats["files_after"] < stats["files_before"]

    after_rows = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(dirs["index"]).collect()
    )
    assert after_rows == before_rows
    assert _gate_verdict(spark, dirs["index"], probe) == before_verdict
    import glob

    assert not glob.glob(f"{dirs['index']}/ingest_batch=0")
    assert not glob.glob(f"{dirs['index']}/ingest_batch=1")
    assert glob.glob(f"{dirs['index']}/ingest_batch=-1/band_bucket=*")

    # the gate keeps appending beside the base, and those rows fold on
    # the next pass
    novel = "completely fresh vocabulary sentence about glaciers and basalt"
    process(spark.createDataFrame([(600, novel)], SCHEMA), 2)
    assert _gate_verdict(spark, dirs["index"], [(700, T_A), (701, novel)])[0] == []
    stats2 = compact_index(spark, dirs["index"], upto_batch=2)
    assert stats2["folded_partitions"] == 2  # base + batch 2


def test_compact_index_crash_windows_are_benign_and_heal(spark, tmp_path):
    """Duplicate rows from a crash between compaction steps cannot
    change a verdict (the candidate join dedups pairs), and a re-run
    heals the duplication exactly."""
    import shutil

    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        compact_index,
    )

    dirs = {k: str(tmp_path / k) for k in ("index", "admitted")}
    process = make_near_dup_gate(dirs["index"], dirs["admitted"])
    process(spark.createDataFrame(BATCH1, SCHEMA), 0)
    process(spark.createDataFrame(BATCH2, SCHEMA), 1)
    probe = [(500, T_A), (501, T_D), (502, "wholly novel words only here")]
    clean_verdict = _gate_verdict(spark, dirs["index"], probe)
    clean_rows = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(dirs["index"]).collect()
    )

    # simulate the step-2/3 crash: base written, one source not deleted
    backup = str(tmp_path / "backup_batch0")
    shutil.copytree(f"{dirs['index']}/ingest_batch=0", backup)
    compact_index(spark, dirs["index"], upto_batch=1)
    shutil.copytree(backup, f"{dirs['index']}/ingest_batch=0")

    dup_rows = spark.read.parquet(dirs["index"]).count()
    assert dup_rows > len(clean_rows)  # genuinely duplicated
    assert _gate_verdict(spark, dirs["index"], probe) == clean_verdict
    # re-run heals: exact row set, sources folded away
    compact_index(spark, dirs["index"], upto_batch=1)
    assert sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(dirs["index"]).collect()
    ) == clean_rows
    assert _gate_verdict(spark, dirs["index"], probe) == clean_verdict


def test_legacy_flat_index_never_becomes_a_mixed_tree(spark, tmp_path):
    """A flat (pre-bucketing) index predates _gate_meta.json, so nothing
    records how it was banded — here with seed 7, which a default
    (seed 42) gate can never collide with, so trusting it would admit
    every duplicate. The gate, gate_batch(index_dir=...) and
    compact_index all refuse it ("rebuild it") and write nothing: no
    meta, no admitted rows, no bucketed partition beside the flat one
    (a mixed tree Spark refuses to read)."""
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        _banded_minhash,
    )
    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        _read_index,
        compact_index,
    )

    dirs = {k: str(tmp_path / k) for k in ("index", "admitted")}
    # plant a flat partition (no band_bucket, no meta) banded with seed 7
    b1 = spark.createDataFrame(BATCH1, SCHEMA)
    _banded_minhash(b1, "doc_id", "text", 32, 8, 3, 7, cache=False) \
        .write.parquet(f"{dirs['index']}/ingest_batch=0")
    b2 = spark.createDataFrame(BATCH2, SCHEMA)
    index = _read_index(spark, dirs["index"], 99)
    assert "band_bucket" not in index.columns
    # the hazard: seed-42 bands never meet the seed-7 index, so the
    # cross-batch duplicates 10 and 13 would be admitted
    admitted, _, _ = gate_batch(b2, index)
    assert sorted(r["doc_id"] for r in admitted.collect()) == [10, 11, 13]

    with pytest.raises(ValueError, match="rebuild"):
        make_near_dup_gate(dirs["index"], dirs["admitted"])(b2, 1)
    with pytest.raises(ValueError, match="rebuild"):
        gate_batch(b2, index, index_dir=dirs["index"])
    with pytest.raises(ValueError, match="rebuild"):
        compact_index(spark, dirs["index"], upto_batch=1)
    assert sorted(os.listdir(dirs["index"])) == ["ingest_batch=0"]
    assert not os.path.exists(dirs["admitted"])


def test_bucket_modulus_comes_from_the_index_meta_not_the_caller(spark, tmp_path):
    """review finding: a caller whose index_buckets disagrees with the
    on-disk layout's modulus would prune true candidate partitions and
    silently double-admit. The meta sidecar is the source of truth."""
    from pyspark.sql import functions as F

    dirs = {k: str(tmp_path / k) for k in ("index", "admitted")}
    make_near_dup_gate(dirs["index"], dirs["admitted"], index_buckets=64)(
        spark.createDataFrame(BATCH1, SCHEMA), 0
    )
    # a differently-configured gate against the same index: the meta's
    # 64 must win for both the prune and the write
    make_near_dup_gate(dirs["index"], dirs["admitted"], index_buckets=256)(
        spark.createDataFrame(BATCH2, SCHEMA), 1
    )
    idx = spark.read.option("basePath", dirs["index"]).parquet(dirs["index"])
    bad = idx.filter(
        F.col("band_bucket") != F.pmod(F.col("band_hash"), F.lit(64))
    )
    assert bad.count() == 0  # every partition value uses the meta modulus
    # and the cross-batch rejections happened (no silent double-admit)
    adm = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["admitted"]).collect()
    )
    assert adm == [0, 1, 2, 11]


def test_gate_refuses_an_index_banded_with_other_parameters(spark, tmp_path):
    """Band hashes from another (num_hashes, bands, n, seed, family)
    never collide with the stored ones, so a gate restarted with
    different banding parameters would silently admit every duplicate.
    The meta records them on the first write; a mismatch — or a meta
    that predates them, which may hold the retired xxhash64 family's
    hashes — raises instead."""
    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        _GATE_META,
        _read_index,
        _write_meta,
    )

    dirs = {k: str(tmp_path / k) for k in ("index", "admitted")}
    make_near_dup_gate(dirs["index"], dirs["admitted"], seed=42)(
        spark.createDataFrame(BATCH1, SCHEMA), 0
    )
    with open(os.path.join(dirs["index"], _GATE_META)) as f:
        meta = json.load(f)
    assert {k: meta[k] for k in ("num_hashes", "bands", "n", "seed")} == {
        "num_hashes": 32, "bands": 8, "n": 3, "seed": 42,
    }
    assert meta["family"]
    batch2 = spark.createDataFrame(BATCH2, SCHEMA)
    with pytest.raises(ValueError, match="banded with"):
        make_near_dup_gate(dirs["index"], dirs["admitted"], seed=7)(batch2, 1)
    # nothing of batch 1 was written before the refusal
    assert not os.path.exists(f"{dirs['admitted']}/ingest_batch=1")
    index = _read_index(spark, dirs["index"], 99)
    with pytest.raises(ValueError, match="banded with"):
        gate_batch(batch2, index, seed=7, index_dir=dirs["index"])

    # a meta recording only the modulus (written before the banding
    # parameters were recorded) is refused rather than guessed at
    _write_meta(spark, dirs["index"], {"index_buckets": meta["index_buckets"]})
    with pytest.raises(ValueError, match="rebuild"):
        make_near_dup_gate(dirs["index"], dirs["admitted"])(batch2, 1)
    with pytest.raises(ValueError, match="rebuild"):
        gate_batch(batch2, index, index_dir=dirs["index"])


def test_gate_batch_on_a_bucketed_index_without_a_modulus_skips_the_prune(
    spark, gated
):
    """round-12 ADVICE (low): gate_batch called DIRECTLY on a bucketed
    index used to trust the caller-supplied modulus — a disagreeing
    value pruned true candidate partitions and silently double-admitted.
    Now the modulus must be vouched for: with none supplied the prune is
    skipped (full scan, still correct), with index_dir the meta is
    authoritative, and an explicit modulus contradicting the meta
    raises instead of corrupting."""
    idx = spark.read.option("basePath", gated["index"]).parquet(
        gated["index"]
    ).drop("ingest_batch")
    assert "band_bucket" in idx.columns
    replay = spark.createDataFrame(
        [(200, T_A), (201, T_D), (202, "wholly novel unrelated words")],
        SCHEMA,
    )
    # no modulus, no index_dir: unpruned but CORRECT — both known
    # near-dups still rejected
    admitted, _, _ = gate_batch(replay, idx)
    assert sorted(r["doc_id"] for r in admitted.select("doc_id").collect()) == [202]
    # ... and nothing was pruned: no band_bucket PartitionFilter in the plan
    plan = admitted._jdf.queryExecution().executedPlan().toString()
    assert "band_bucket IN" not in plan
    # index_dir resolves the meta modulus (128 default) authoritatively
    admitted2, _, _ = gate_batch(replay, idx, index_dir=gated["index"])
    assert sorted(
        r["doc_id"] for r in admitted2.select("doc_id").collect()
    ) == [202]
    # an explicit modulus that contradicts the on-disk meta raises
    with pytest.raises(ValueError, match="contradicts"):
        gate_batch(replay, idx, index_buckets=64, index_dir=gated["index"])


def test_staged_rejected_grain_replays_in_duckdb(spark):
    """Round-13 registration candidate, staged here first (the
    round-11/12 pattern): the gate's REJECTED grain — one row per
    rejecting pair with reason and batch — replayed end-to-end by the
    same SQL gate oracle that backs s_near_dup_gate_grain
    (grain='rejected'), through the driver-identical parity compare."""
    from pyspark.sql import functions as F

    from sportstv_streaming_data_warehouse_spark.functions import text as T
    from sportstv_streaming_data_warehouse_spark.plans.catalog import (
        _MH_BANDS,
        _MH_K,
        _MH_SEED,
        _MH_TAU,
        _near_dup_gate_oracle,
    )
    from sportstv_streaming_data_warehouse_spark.sources.fixtures import (
        load_table,
    )

    from .conftest import SF01
    from .parity import compare, duckdb_connection

    docs = load_table(spark, SF01, "documents").filter(
        T.token_count(F.col("text")) > 0
    )
    tagged = docs.withColumn("__sb", T.fingerprint(F.col("text")) % 10)
    b0 = tagged.filter(F.col("__sb") != 9).select("doc_id", "text")
    b1 = tagged.filter(F.col("__sb") == 9).select("doc_id", "text")
    kw = dict(
        num_hashes=_MH_K, bands=_MH_BANDS, n=1, threshold=_MH_TAU,
        seed=_MH_SEED, broadcast_batch=False,
    )
    _, bands0, rej0 = gate_batch(b0, None, **kw)
    _, _, rej1 = gate_batch(b1, bands0, **kw)
    rejected = rej0.withColumn(
        "ingest_batch", F.lit(0)
    ).unionByName(rej1.withColumn("ingest_batch", F.lit(1)))
    con = duckdb_connection(SF01)
    try:
        compare(
            rejected, con, _near_dup_gate_oracle("rejected"),
            "s_near_dup_gate_rejections[staged]",
        )
    finally:
        con.close()


@pytest.mark.parametrize("modulus", [64, 128])
def test_full_cycle_at_both_moduli_with_compaction(spark, tmp_path, modulus):
    """round-13 verdict task 4: the modulus meta-vouching fix was pinned
    only at the default 128. Full lifecycle at a parametrized modulus —
    build the index through the real stream, COMPACT it, then gate a
    second batch against the compacted index with a gate configured at
    the DEFAULT modulus: the on-disk meta (not the caller) must govern
    the layout and the prune, covering the migration path compact_index
    doubles as."""
    from sportstv_streaming_data_warehouse_spark.streaming.near_dup import (
        _read_meta_buckets,
        compact_index,
    )

    inp = str(tmp_path / "in")
    dirs = {
        k: str(tmp_path / k)
        for k in ("index", "admitted", "rejected", "ckpt")
    }
    _drop(inp, "d1.json", BATCH1)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(inp)
    )
    q = run_near_dup_gate(
        stream, dirs["index"], dirs["admitted"], dirs["ckpt"],
        rejected_dir=dirs["rejected"], index_buckets=modulus,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _read_meta_buckets(spark, dirs["index"]) == modulus
    idx = spark.read.parquet(dirs["index"])
    bad = idx.filter(
        F.col("band_bucket") != F.pmod(F.col("band_hash"), F.lit(modulus))
    )
    assert bad.count() == 0

    # compact: layout modulus survives the fold
    stats = compact_index(spark, dirs["index"], upto_batch=0)
    assert stats["files_after"] <= stats["files_before"]
    assert _read_meta_buckets(spark, dirs["index"]) == modulus

    # second batch through the stream RESTARTED from its checkpoint with
    # the gate left at the DEFAULT modulus — the real migration scenario
    # (operator redeployed with default config against a 64 layout); the
    # meta must win or a 64-layout would be pruned at 128 and silently
    # double-admit
    _drop(inp, "d2.json", BATCH2)
    stream2 = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(inp)
    )
    q2 = run_near_dup_gate(
        stream2, dirs["index"], dirs["admitted"], dirs["ckpt"],
        rejected_dir=dirs["rejected"],  # index_buckets left at default 128
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    admitted = spark.read.parquet(dirs["admitted"])
    assert sorted(
        r["doc_id"] for r in admitted.select("doc_id").collect()
    ) == [0, 1, 2, 11]
    rej = {
        r["doc_id"]: (r["matched_id"], r["reason"])
        for r in spark.read.parquet(dirs["rejected"]).collect()
    }
    assert rej[10] == (0, "corpus")
    assert rej[13] == (1, "corpus")
    assert rej[12] == (11, "batch")
    # post-compaction index stays the one self-consistent modulus
    idx2 = spark.read.parquet(dirs["index"])
    assert idx2.filter(
        F.col("band_bucket") != F.pmod(F.col("band_hash"), F.lit(modulus))
    ).count() == 0
