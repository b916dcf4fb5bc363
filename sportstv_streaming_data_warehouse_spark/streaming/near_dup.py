"""Streaming MinHash-LSH near-dup gate — the fuzzy twin of
streaming/dedup.py's exact INSERT-IGNORE.

A live ingest feed where each micro-batch is admitted only if it is not
a NEAR-duplicate (banded MinHash, estimated Jaccard ≥ threshold) of
anything already admitted — the gate a 100 TB/day training-data intake
runs so the stored corpus stays near-dup-free without ever re-deduping
it wholesale.

Why foreachBatch and not a keyed-state operator: a document's verdict
is a CONJUNCTION ACROSS ITS LSH BANDS (collide in ANY band → candidate,
then the signature-agreement estimate decides) — under
``applyInPandasWithState`` each band bucket is a separate state key, so
no single keyed state can see the whole verdict, and Spark disallows
the stateful-op → re-key → stateful-op chain that would reassemble it.
The production shape is ``foreachBatch`` + a persistent SIGNATURE INDEX
(exactly operators/dedup.incremental_near_duplicates' algebra, X53,
applied per micro-batch):

1. band the incoming batch once (k×8 bytes/doc, map-side);
2. candidate-join batch bands × index bands (cross-side only — work is
   proportional to the BATCH's bucket occupancy, never corpus²);
3. batch docs that match the index are REJECTED; among the survivors a
   within-batch self-join rejects any doc with a smaller-id near-dup
   partner (one conservative pass — see ``gate_batch``);
4. admitted docs' banded signatures are APPENDED to the index under an
   ``ingest_batch=<id>`` partition.

State is the signature index: it grows with the ADMITTED corpus (k
longs per doc), never with stream history or duplicate volume.
Exactly-once on retry: each batch writes its partitions with overwrite,
and the index read EXCLUDES the current batch id, so a half-written
failed attempt can neither self-collide nor double-admit.

Steady-state wall (round-12, the round-11 verdict's task 4): the
per-batch candidate join must not track index growth. Three levers:

1. The index is written PARTITIONED BY ``band_bucket =
   pmod(band_hash, INDEX_BUCKETS)`` and the gate filters the read to
   the batch's occupied buckets — a PartitionFilter, so unprobed
   buckets are never scanned. This is the small-batch fast path (the
   production steady state: a continuous trickle of micro-batches
   against a huge index); a batch occupying all buckets reads
   everything, which is then the honest minimum.
2. The batch side of the corpus candidate join is BROADCAST (a
   micro-batch is small by construction), so the growing index side
   is never shuffled or sorted — scan + map-side hash join only.
   Disable via ``broadcast_batch=False`` for jumbo replay batches.
3. The candidate joins run ONCE per micro-batch: ``process`` persists
   the batch's banded signatures and the pair tables, so the three
   writes (index, admitted, rejected) reuse them instead of
   re-executing the joins.

The stream is pinned equal to the sequential batch model
(``replay_gate`` here) in tests/test_stream_near_dup.py, and the batch
model's pieces are the already-oracle-verified X53 join algebra.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _banded_minhash, banded_pairs_cross

_BAND_COLS = ["signature", "band_id", "band_hash"]

#: partition fan-out of the signature index (band_bucket = pmod(band_hash,
#: INDEX_BUCKETS)). Sized so tiny steady-state micro-batches prune most of
#: the index read while a batch's write never fans out past this many
#: files per ingest_batch partition.
INDEX_BUCKETS = 128


def gate_batch(
    batch: DataFrame,
    index_bands: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    batch_bands: DataFrame | None = None,
    index_buckets: int | None = None,
    index_dir: str | None = None,
    broadcast_batch: bool = True,
    _persist_registry: list | None = None,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One gating step: returns (admitted, admitted_bands, rejected).

    ``batch_bands`` (optional) supplies the batch's banded signatures —
    MUST be ``_banded_minhash(batch, ...)`` output under identical
    parameters. The streaming gate persists it once per micro-batch so
    the three downstream writes (index, admitted, rejected) don't each
    re-run the MinHash banding (round-11 ADVICE: ~3x redundant signature
    computation otherwise); callers that pass it own its lifecycle.

    If ``index_bands`` carries a ``band_bucket`` column (the bucketed
    index layout ``process`` writes), the read is pruned to the batch's
    occupied buckets — a PartitionFilter on the parquet scan. The prune
    modulus is resolved in trust order (round-12 ADVICE: a caller-
    supplied modulus that disagrees with the on-disk layout prunes TRUE
    candidate partitions and silently double-admits): ``index_dir``'s
    ``_gate_meta.json`` when given (authoritative; an explicit
    ``index_buckets`` that CONTRADICTS it raises), else an explicit
    ``index_buckets`` (the caller vouches — ``process`` passes the
    meta-resolved value), else the prune is SKIPPED entirely: a full
    index scan is correct, just unpruned — never a correctness trade.
    With ``index_dir`` the meta's recorded banding parameters must also
    equal this call's, and an index without a complete meta is refused
    (``ValueError`` either way — see ``_check_meta``).
    The batch side of the corpus join is broadcast unless
    ``broadcast_batch=False``.
    ``_persist_registry`` (internal): when a list is passed, the pair
    tables are persisted and appended to it so multiple downstream
    actions reuse one candidate-join execution; the caller unpersists.

    ``materialize=True`` (the jumbo-replay/batch-model path) eagerly
    ``localCheckpoint``s the batch's banded signatures: the lazy replay
    plan otherwise REFERENCES the banding subtree many times — the
    two-batch catalog replay scanned the source parquet 40 times in one
    plan (round-14 audit, plans/r14/s_near_dup_gate_grain_before.txt) —
    and each reference re-executes the full MinHash banding. ONLY the
    bandings are checkpointed: the pair tables derived from them are
    plain JVM joins whose duplicated subtrees AQE dedups via runtime
    exchange reuse, and checkpointing the (millions-of-rows) pair
    tables measured strictly slower than recomputing them (round-14
    interleaved A/B). RDD-level checkpoint blocks are per-invocation
    (a fresh call recomputes from source; nothing is memoized across
    runs) and are GC-reclaimed with the DataFrames. The streaming gate
    keeps its own persist lifecycle (``_persist_registry``) instead —
    it must unpersist per micro-batch.

    ``rejected`` rows are (id, matched_id, est_jaccard, reason) with
    reason 'corpus' (near-dups something already admitted) or 'batch'
    (near-dups a smaller-id corpus-surviving doc in the SAME batch).
    The within-batch rule is one conservative pass: a doc is gated by
    any smaller-id corpus-survivor partner whether or not that partner
    itself survives the batch. Along a near-dup CHAIN (A~B, B~C, A≁C)
    this rejects both B and C keeping only A — the connected-
    component-min semantics of the X8 cluster dedup, NOT sequential
    greedy (which would re-admit C because its only partner B was
    rejected); a chain's middle and tail are cluster members even when
    not direct near-dups of the kept representative. What IS
    guaranteed, and pinned in tests (including the chain case): the
    admitted set is near-dup-free, every rejected doc has a banded
    partner inside its own cluster, and the rule is one candidate join
    — no iteration."""
    bb_owned: DataFrame | None = None
    if batch_bands is not None:
        bb = batch_bands
    else:
        bb = _banded_minhash(
            batch, id_col, text_col, num_hashes, bands, n, seed, cache=False
        )
        if materialize:
            bb = bb.localCheckpoint()
    if index_bands is not None:
        idx = index_bands
        if index_dir is not None:
            meta = _check_meta(
                _read_meta(batch.sparkSession, index_dir), index_dir,
                _banding(num_hashes, bands, n, seed),
            )
            if "band_bucket" in idx.columns:
                on_disk = int(meta["index_buckets"])
                if index_buckets is not None and int(index_buckets) != on_disk:
                    raise ValueError(
                        f"index_buckets={index_buckets} contradicts "
                        f"the on-disk layout's _gate_meta.json "
                        f"({on_disk}) at {index_dir} — pruning with it "
                        "would drop true candidate partitions"
                    )
                index_buckets = on_disk
        if "band_bucket" in idx.columns and index_buckets is not None:
            if batch_bands is None:
                # the occupied-buckets collect below would otherwise
                # execute the banding once ON TOP of every downstream
                # action's execution (review finding) — persist for the
                # collect; handed to the registry when present, released
                # right after otherwise (downstream then recomputes as it
                # always did, one execution per action)
                bb = bb.persist()
                bb_owned = bb
            # the batch's occupied buckets — bounded at index_buckets
            # values, so the collect is a handful of ints, and the isin
            # lands on the partition column (PartitionFilter: unprobed
            # buckets are never scanned)
            buckets = [
                r[0]
                for r in bb.select(
                    F.pmod(F.col("band_hash"), F.lit(int(index_buckets)))
                    .alias("b")
                )
                .distinct()
                .collect()
            ]
            if bb_owned is not None:
                if _persist_registry is not None:
                    _persist_registry.append(bb_owned)
                else:
                    bb_owned.unpersist()
            idx = idx.filter(F.col("band_bucket").isin(buckets))
        corpus_pairs = banded_pairs_cross(
            F.broadcast(bb) if broadcast_batch else bb,
            idx.select(id_col, *_BAND_COLS), id_col,
            num_hashes, threshold,
        ).select(
            F.col("batch_id").alias(id_col),
            F.col("corpus_id").alias("matched_id"),
            "est_jaccard",
            F.lit("corpus").alias("reason"),
        )
        if _persist_registry is not None:
            corpus_pairs = corpus_pairs.persist()
            _persist_registry.append(corpus_pairs)
    else:
        corpus_pairs = None
    # the rejected-id sets are at most batch-sized: broadcast them on
    # the anti joins so nothing in the per-batch plan sorts or shuffles
    hint = F.broadcast if broadcast_batch else (lambda d: d)
    corpus_rejected = (
        corpus_pairs.select(id_col).distinct()
        if corpus_pairs is not None
        else None
    )
    survivors_bands = (
        bb.join(hint(corpus_rejected), id_col, "left_anti")
        if corpus_rejected is not None
        else bb
    )
    self_pairs = (
        banded_pairs_cross(
            survivors_bands,
            # the within-batch self join: broadcast one side too (both
            # are batch-sized), so a micro-batch never sorts or shuffles
            F.broadcast(survivors_bands) if broadcast_batch else survivors_bands,
            id_col, num_hashes, threshold,
        )
        .filter(F.col("batch_id") > F.col("corpus_id"))
        .select(
            F.col("batch_id").alias(id_col),
            F.col("corpus_id").alias("matched_id"),
            "est_jaccard",
            F.lit("batch").alias("reason"),
        )
    )
    if _persist_registry is not None:
        self_pairs = self_pairs.persist()
        _persist_registry.append(self_pairs)
    batch_rejected = self_pairs.select(id_col).distinct()
    admitted_bands = survivors_bands.join(
        hint(batch_rejected), id_col, "left_anti"
    )
    admitted = batch.join(
        hint(admitted_bands.select(id_col).distinct()), id_col, "left_semi"
    )
    rejected = (
        self_pairs if corpus_pairs is None else corpus_pairs.unionByName(self_pairs)
    )
    return admitted, admitted_bands, rejected


# first batch: no index yet — a missing dir raises PATH_NOT_FOUND, an
# existing-but-empty dir UNABLE_TO_INFER_SCHEMA (probed on Spark 4.1.2).
# Only these mean "treat as empty index".
_NO_INDEX_ERROR_CLASSES = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _read_index(
    spark: SparkSession, index_dir: str, exclude_batch: int
) -> DataFrame | None:
    from pyspark.errors import AnalysisException

    try:
        idx = spark.read.option("basePath", index_dir).parquet(index_dir)
    except AnalysisException as e:
        # ONLY the two "no index yet" classes are first-batch conditions;
        # any other AnalysisException (bad basePath layout, conflicting
        # partition schema, permission errors surfaced as analysis
        # errors) must FAIL the batch, not silently double-admit
        # (round-11 ADVICE: the bare catch misclassified those).
        if e.getCondition() in _NO_INDEX_ERROR_CLASSES:
            return None
        raise
    if "ingest_batch" not in idx.columns:
        return None
    return idx.filter(F.col("ingest_batch") != exclude_batch).drop("ingest_batch")


def make_near_dup_gate(
    index_dir: str,
    admitted_dir: str,
    rejected_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    index_buckets: int = INDEX_BUCKETS,
    broadcast_batch: bool = True,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function. Writes, per micro-batch, under
    ``<dir>/ingest_batch=<id>`` with overwrite (idempotent on retry);
    the index additionally partitions by ``band_bucket`` so later
    batches' candidate joins prune their read to the buckets they
    probe. The index's ``_gate_meta.json``, written on the first batch,
    is the source of truth for the layout:

    - the bucket MODULUS: a caller whose ``index_buckets`` disagrees
      with the on-disk layout would otherwise prune true candidate
      partitions and silently double-admit;
    - the BANDING parameters (``num_hashes``, ``bands``, ``n``, ``seed``
      and the hash family): every later batch must match them
      (``ValueError`` otherwise) — band hashes from another parameter
      set never collide with the stored ones, so a mismatched gate
      would silently double-admit.

    An existing index without a complete meta raises ``ValueError``
    (``_check_meta``): it predates the recorded layout (a flat
    pre-bucketing index, possibly banded by the retired xxhash64 family
    or with other parameters) — rebuild it rather than guess how it was
    banded."""
    banding = _banding(num_hashes, bands, n, seed)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        index = _read_index(spark, index_dir, batch_id)
        meta = _read_meta(spark, index_dir)
        if meta is None and index is None:  # the first batch
            meta = {**banding, "index_buckets": int(index_buckets)}
            _write_meta(spark, index_dir, meta)
        else:
            _check_meta(meta, index_dir, banding)
        n_buckets = int(meta["index_buckets"])
        batch = batch.persist()
        # persist the banded signatures ONCE: the index, admitted, and
        # rejected writes all hang off them, and without this each write
        # re-runs the MinHash banding from the raw batch (round-11 ADVICE)
        bb = _banded_minhash(
            batch, id_col, text_col, num_hashes, bands, n, seed, cache=False,
        ).persist()
        pair_cache: list[DataFrame] = []
        try:
            admitted, admitted_bands, rejected = gate_batch(
                batch, index, id_col, text_col, num_hashes, bands, n,
                threshold, seed, batch_bands=bb,
                index_buckets=n_buckets, broadcast_batch=broadcast_batch,
                _persist_registry=pair_cache,
            )
            admitted_bands = admitted_bands.persist()
            try:
                # repartition by bucket before the partitioned write:
                # partitionBy alone writes one file per (task x bucket)
                # — measured 4,608 files for 5 batches at 32 tasks; the
                # batch-sized shuffle collapses that to one file per
                # OCCUPIED bucket per batch (<= n_buckets)
                admitted_bands.withColumn(
                    "band_bucket",
                    F.pmod(F.col("band_hash"), F.lit(n_buckets)),
                ).repartition(F.col("band_bucket")).write.mode(
                    "overwrite"
                ).partitionBy("band_bucket").parquet(
                    f"{index_dir}/ingest_batch={batch_id}"
                )
                admitted.write.mode("overwrite").parquet(
                    f"{admitted_dir}/ingest_batch={batch_id}"
                )
                if rejected_dir is not None:
                    rejected.write.mode("overwrite").parquet(
                        f"{rejected_dir}/ingest_batch={batch_id}"
                    )
            finally:
                admitted_bands.unpersist()
        finally:
            for df in pair_cache:
                df.unpersist()
            bb.unpersist()
            batch.unpersist()

    return process


#: partition id of the compacted base (never a live micro-batch id, so
#: the gate's current-batch exclusion can never drop it)
COMPACT_BASE_BATCH = -1
_COMPACT_STAGING_BATCH = -2

#: sidecar recording how the index was written: the bucket modulus of
#: the on-disk band_bucket layout and the banding parameters of every
#: stored band hash. The prune MUST use the layout's modulus — a caller
#: passing a different index_buckets would silently drop true candidate
#: partitions and double-admit (review finding) — and a gate banding
#: with other parameters would never collide with the stored hashes, so
#: the meta, not the parameters, is the source of truth once an index
#: exists. The leading underscore keeps it out of Spark's partition
#: discovery.
_GATE_META = "_gate_meta.json"

#: the one MinHash hash family the gate bands with (polynomial shingle
#: hash, affine slots and polynomial band key, all mod 2^31-1)
_FAMILY = "poly-mod-2^31-1"


def _banding(num_hashes: int, bands: int, n: int, seed: int) -> dict:
    return {
        "num_hashes": int(num_hashes), "bands": int(bands), "n": int(n),
        "seed": int(seed), "family": _FAMILY,
    }


#: what every gate meta records: the banding parameters and the modulus
_META_KEYS = frozenset(_banding(0, 0, 0, 0)) | {"index_buckets"}


def _check_meta(
    meta: dict | None, index_dir: str, banding: dict | None = None
) -> dict:
    """Return the meta of an existing index. ``ValueError`` when it is
    absent or lacks a key — the index predates the recorded layout and
    banding parameters (a flat pre-bucketing index, or one whose band
    hashes may come from the retired xxhash64 family), so nothing can
    vouch for how it was banded — or, given ``banding``, when it
    records other banding parameters."""
    missing = sorted(_META_KEYS - set(meta or {}))
    if missing:
        raise ValueError(
            f"the index at {index_dir} records no {missing} in "
            f"{_GATE_META}: it predates the recorded layout and banding "
            "parameters and may hold another hash family's band hashes "
            "— rebuild it"
        )
    recorded = {k: meta[k] for k in banding or ()}
    if recorded != (banding or {}):
        raise ValueError(
            f"the index at {index_dir} was banded with {recorded}, not "
            f"{banding}: its band hashes can never collide with this "
            "gate's, so every duplicate would be admitted"
        )
    return meta


def _read_meta(spark: SparkSession, index_dir: str) -> dict | None:
    import json as _json

    fs, p = _hadoop_path(spark, f"{index_dir}/{_GATE_META}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return _json.loads(data.decode("utf-8"))


def _read_meta_buckets(spark: SparkSession, index_dir: str) -> int | None:
    buckets = (_read_meta(spark, index_dir) or {}).get("index_buckets")
    return None if buckets is None else int(buckets)


def _write_meta(spark: SparkSession, index_dir: str, meta: dict) -> None:
    import json as _json

    fs, p = _hadoop_path(spark, f"{index_dir}/{_GATE_META}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(_json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def _hadoop_path(spark: SparkSession, p: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(p)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _count_index_files(spark: SparkSession, index_dir: str) -> int:
    fs, path = _hadoop_path(spark, index_dir)
    if not fs.exists(path):
        return 0
    it, n = fs.listFiles(path, True), 0
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            n += 1
    return n


def compact_index(
    spark: SparkSession,
    index_dir: str,
    upto_batch: int,
    id_col: str = "doc_id",
) -> dict:
    """Fold the committed ``ingest_batch`` partitions (id <=
    ``upto_batch``), any existing base, and any crashed staging into ONE
    base partition ``ingest_batch=-1`` — the periodic maintenance pass
    that keeps the signature index's file count flat while the gate
    keeps appending one partition per micro-batch (SCALE.md round 12,
    note (c): bucket fan-out is bounded per batch but grows with batch
    COUNT; compaction is the lever). The band_bucket layout is
    preserved (the gate's PartitionFilter prune is unaffected), each
    bucket collapses to one file, and rows within a file are sorted by
    band_hash for row-group locality.

    Crash-safety leans on two properties rather than transactions:
    DUPLICATE index rows are semantically benign (the candidate join
    dedups pairs, so a re-surfaced folded partition cannot change any
    gate verdict — pinned in tests), and every step is re-runnable:

    1. the fold (old base + staging + batches <= upto, deduped on
       (id, band_id)) is fully MATERIALIZED to a sibling temp dir
       OUTSIDE the index tree (so Spark's overwrite-while-reading guard
       never trips, and a crash here leaves the index untouched);
    2. the temp dir renames INTO the tree as the staging partition
       ``ingest_batch=-2`` — from here the index is complete (possibly
       duplicated), whatever happens;
    3. the folded source partitions (including the old base) are
       deleted — a crash mid-way leaves staging + stragglers;
    4. staging renames to the base ``ingest_batch=-1`` — a crash before
       this leaves the index complete under the staging id (the gate
       reads it like any partition), and the next compact_index folds
       it.

    Only fold batch ids the stream has MOVED PAST (a retry of batch b
    overwrites ``ingest_batch=b``, which must not race the fold) — the
    caller owns that watermark, e.g. ``upto_batch = current - 1``.
    An index without a complete ``_gate_meta.json`` raises
    ``ValueError`` (``_check_meta``); compaction never re-bands, so the
    meta stays as it is. Returns {folded_partitions, rows, files_before,
    files_after}."""
    files_before = _count_index_files(spark, index_dir)
    idx = spark.read.option("basePath", index_dir).parquet(index_dir)
    _check_meta(_read_meta(spark, index_dir), index_dir)
    all_ids = [
        r[0] for r in idx.select("ingest_batch").distinct().collect()
    ]
    fold_ids = sorted(
        b for b in all_ids
        if b <= upto_batch or b in (
            COMPACT_BASE_BATCH, _COMPACT_STAGING_BATCH
        )
    )
    if not fold_ids:
        return {
            "folded_partitions": 0, "rows": 0,
            "files_before": files_before, "files_after": files_before,
        }
    fold = (
        idx.filter(F.col("ingest_batch").isin(fold_ids))
        .drop("ingest_batch")
        # heal duplicates from any earlier crash between steps 2 and 3.
        # FULL-row dedup, not (id, band_id): a doc_id legitimately
        # readmitted with DIFFERENT text carries a second signature set
        # under the same id, and both must survive compaction (review
        # finding — a key-based dedup would arbitrarily interleave the
        # two signature sets and change future gate verdicts); crash
        # duplicates are bit-identical rows, which full-row dedup heals.
        .dropDuplicates()
        # one task per bucket -> exactly one file per band_bucket value,
        # clustered by band_hash inside it
        .repartition(F.col("band_bucket"))
        .sortWithinPartitions("band_bucket", "band_hash")
    )
    tmp = f"{index_dir}.compact_tmp"
    fold.write.mode("overwrite").partitionBy("band_bucket").parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    fs, _ = _hadoop_path(spark, index_dir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    staging = Path(f"{index_dir}/ingest_batch={_COMPACT_STAGING_BATCH}")
    # step 2: the fold (which already CONSUMED any old staging) takes
    # the staging slot; from here the index is complete
    fs.delete(staging, True)
    if not fs.rename(Path(tmp), staging):
        raise IOError(f"compact_index: rename {tmp} -> {staging} failed")
    # step 3: drop the folded sources
    for b in fold_ids:
        if b != _COMPACT_STAGING_BATCH:
            fs.delete(Path(f"{index_dir}/ingest_batch={b}"), True)
    # step 4: staging becomes the base
    base = Path(f"{index_dir}/ingest_batch={COMPACT_BASE_BATCH}")
    if not fs.rename(staging, base):
        raise IOError(f"compact_index: rename {staging} -> {base} failed")
    return {
        "folded_partitions": len(fold_ids),
        "rows": rows,
        "files_before": files_before,
        "files_after": _count_index_files(spark, index_dir),
    }


def run_near_dup_gate(
    stream: DataFrame,
    index_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    rejected_dir: str | None = None,
    **gate_kwargs,
):
    """Attach the gate to a document stream and start it."""
    return (
        stream.writeStream.foreachBatch(
            make_near_dup_gate(index_dir, admitted_dir, rejected_dir, **gate_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def replay_gate(
    batches: list[DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    **gate_kwargs,
) -> tuple[DataFrame, DataFrame | None]:
    """Sequential batch model — the stream's parity oracle: fold
    ``gate_batch`` over the batches in order, accumulating the admitted
    bands exactly as the index does. Returns (admitted, index_bands).

    With ``materialize=True`` in ``gate_kwargs`` each batch's admitted
    bands are additionally ``localCheckpoint``ed before joining the
    accumulated index: batch N+1's corpus join and the final admitted
    union otherwise re-execute every earlier batch's full gating plan
    per reference (see gate_batch's materialize note)."""
    index: DataFrame | None = None
    admitted_all: DataFrame | None = None
    materialize = bool(gate_kwargs.get("materialize"))
    for b in batches:
        admitted, admitted_bands, _ = gate_batch(
            b, index, id_col, text_col, **gate_kwargs
        )
        if materialize:
            admitted_bands = admitted_bands.localCheckpoint()
        index = (
            admitted_bands
            if index is None
            else index.unionByName(admitted_bands)
        )
        admitted_all = (
            admitted
            if admitted_all is None
            else admitted_all.unionByName(admitted)
        )
    return admitted_all, index
