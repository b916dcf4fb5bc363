"""MERGE INTO seam — the reference's upsert endpoints (additive
``ON DUPLICATE KEY UPDATE``, etl.R:396-413; INSERT-IGNORE dedup,
etl.R:300-312) as one contract, compiled to a crash-safe rename-aside
parquet swap.

Two grains:

- ``merge_into`` — row-grain MERGE: ``WHEN MATCHED`` update/delete,
  ``WHEN NOT MATCHED`` insert (``MERGE INTO target USING source ON
  <keys>``); the merged result is computed with anti/inner joins and
  swapped in atomically.
- ``replace_partitions`` — partition-grain replacement (dynamic
  partition overwrite): rewrite exactly the partitions the batch
  touches, never the rest of the table.

Crash safety: every rewrite goes write-staging →
rename-base-aside → rename-staging-in → drop-retired, so the dataset
directory is never the only copy being deleted. ``recover_dataset``
restores a readable base from ANY intermediate crash state and runs as
a preamble before each merge; tests/test_merge.py kills the swap
between every adjacent step and asserts recovery.

Local-filesystem paths only (os.rename/shutil semantics).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

STAGING_SUFFIX = "__staging"
RETIRED_SUFFIX = "__old"


def _paths(target_path: str) -> tuple[str, str, str]:
    base = target_path.rstrip("/")
    return base, base + STAGING_SUFFIX, base + RETIRED_SUFFIX


def _staging_complete(staging: str) -> bool:
    # _SUCCESS marks a fully-committed parquet job (Hadoop commit protocol)
    return os.path.isdir(staging) and os.path.exists(
        os.path.join(staging, "_SUCCESS")
    )


def recover_dataset(target_path: str) -> None:
    """Restore a readable dataset directory from any crash state of the
    rename-aside swap, then clear leftovers.

    States (swap order: write staging → base→retired → staging→base →
    rm retired):

    - base present (no crash, or crash before/during staging write, or
      crash before the retired cleanup): keep base, drop leftovers;
    - base absent + staging complete (crash between the two renames):
      roll FORWARD — the staging copy is the committed merge result;
    - base absent + staging incomplete/missing + retired present (can
      only arise if the staging copy was lost): roll BACK to retired —
      the pre-merge state; the merge replays idempotently.
    """
    base, staging, retired = _paths(target_path)
    if not os.path.isdir(base):
        if _staging_complete(staging):
            os.rename(staging, base)
        elif os.path.isdir(retired):
            os.rename(retired, base)
    shutil.rmtree(retired, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def _swap_in(target_path: str) -> None:
    """The two renames + cleanup. Callable only with a complete staging
    copy; every interruption point leaves a state recover_dataset fixes."""
    base, staging, retired = _paths(target_path)
    if os.path.isdir(base):
        os.rename(base, retired)
    os.rename(staging, base)
    shutil.rmtree(retired, ignore_errors=True)


def _write_swapped(merged: DataFrame, target_path: str) -> None:
    base, staging, retired = _paths(target_path)
    merged.write.mode("overwrite").parquet(staging)  # reads old, writes new
    _swap_in(target_path)


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str | dict[str, Column] | None = "update_all",
    when_not_matched: str | None = "insert_all",
) -> None:
    """MERGE ``source`` into the parquet dataset at ``target_path``.

    ``on`` — equality key columns (the MERGE condition).

    ``when_matched``:
      - ``"update_all"`` — matched target rows are replaced by the
        source rows for their key (key-replacement: with one source row
        per key this is ``UPDATE SET *``; with several, all of them
        land, so replays converge);
      - ``"delete"`` — matched target rows are removed;
      - a dict ``{col: Column}`` — matched rows are rewritten with the
        given expressions over aliases ``t`` (target) and ``s``
        (source); unlisted columns keep ``t``'s value. The reference's
        additive upsert is ``{"x": F.col("t.x") + F.col("s.x")}``;
      - ``None`` — matched target rows are kept as-is.

    ``when_not_matched``: ``"insert_all"`` inserts source rows with no
    target match; ``None`` drops them.

    A missing target behaves as an empty table (CREATE TABLE AS merge).
    The write is atomic per call (rename-aside swap) and the whole merge
    is idempotent for deterministic inputs: re-running the same batch
    yields the same dataset — the exactly-once guarantee foreachBatch
    sinks need.

    Key comparison is NULL-SAFE (eqNullSafe joins), so NULL-keyed rows
    merge idempotently rather than re-inserting per replay.
    """
    recover_dataset(target_path)
    base, _, _ = _paths(target_path)
    try:
        target = spark.read.parquet(base)
        has_target = True
    except Exception:
        has_target = False

    def _null_safe_anti_or_semi(left, right_keys, how):
        # NULL-SAFE key joins throughout: plain equality would
        # re-insert a NULL-keyed row on every replay. eqNullSafe keeps
        # the key-replacement merge idempotent for NULL keys too
        # (tests/test_merge.py pins the replay).
        r = right_keys
        for k in on:
            r = r.withColumnRenamed(k, f"__r_{k}")
        cond = [left[k].eqNullSafe(r[f"__r_{k}"]) for k in on]
        return left.join(r, cond, how)

    inserts = None
    if when_not_matched == "insert_all":
        inserts = (
            _null_safe_anti_or_semi(source, target.select(on), "left_anti")
            if has_target
            else source
        )
    elif when_not_matched is not None:
        raise ValueError(f"unsupported when_not_matched: {when_not_matched!r}")

    if not has_target:
        merged = inserts if inserts is not None else source.limit(0)
    else:
        unmatched_t = _null_safe_anti_or_semi(
            target, F.broadcast(source.select(on).distinct()), "left_anti"
        )
        if when_matched == "update_all" and when_not_matched == "insert_all":
            # the streaming hot path: key-replacement is one anti-join +
            # the whole batch, no matched/unmatched split of the source
            _write_swapped(
                unmatched_t.unionByName(
                    source.select(*[F.col(c) for c in target.columns])
                ),
                target_path,
            )
            return
        if when_matched == "update_all":
            matched = _null_safe_anti_or_semi(
                source, target.select(on), "left_semi"
            )
            parts = [unmatched_t, matched.select(*[F.col(c) for c in target.columns])]
        elif when_matched == "delete":
            parts = [unmatched_t]
        elif isinstance(when_matched, dict):
            t, s = target.alias("t"), source.alias("s")
            cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
            updated = t.join(s, cond, "inner").select(
                *[
                    (when_matched[c] if c in when_matched else F.col(f"t.{c}")).alias(c)
                    for c in target.columns
                ]
            )
            parts = [unmatched_t, updated]
        elif when_matched is None:
            parts = [target]
        else:
            raise ValueError(f"unsupported when_matched: {when_matched!r}")
        if inserts is not None:
            parts.append(inserts.select(*[F.col(c) for c in target.columns]))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)

    _write_swapped(merged, target_path)


def replace_partitions(
    df: DataFrame, target_path: str, partition_cols: list[str]
) -> None:
    """Partition-grain MERGE: overwrite exactly the partitions present
    in ``df`` (Spark dynamic partition overwrite), leaving every other partition untouched — the 100 TB
    shape for incremental fact maintenance: work scales with the
    affected partitions, not the table.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            target_path.rstrip("/")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
