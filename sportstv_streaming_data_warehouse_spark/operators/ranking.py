"""Exact distributed ranking — global row_number / NTILE without a
single-partition sort.

Spark's ``Window.orderBy(...)`` with no partitionBy plans ONE task holding
the entire dataset — the classic scale-killer for global ranking (the
reference never ranks more than its pre-aggregated fact, so it never hits
this; report.Rmd's ordered tables are display-layer). The exact
alternative here is textbook two-phase ranking:

1. bucket rows by approximate range boundaries over the leading sort
   column (``percentile_approx`` — driver-side STATS, a few doubles; the
   boundary precision affects only balance, never correctness);
2. count rows per bucket (an aggregate, not row data) and fold the counts
   into literal cumulative offsets;
3. ``row_number`` WITHIN each bucket — a fully distributed window — plus
   the bucket's offset = the exact global rank. NTILE follows in closed
   form from the rank and the total count.

The result is identical to ``ROW_NUMBER() / NTILE(k) OVER (ORDER BY ...)``
(the DuckDB oracle for x_quality_deciles runs exactly that) while every
task holds one bucket's rows instead of everything. Ties must be broken
by the caller's order_cols (include a unique key).

Bucket-key constraint: bucket assignment must be MONOTONE with the
window's native ordering of the leading sort column, so the leading
column must be numeric, date, or timestamp (dates/timestamps are mapped
to epoch seconds, which preserves their ordering). A string leading
column is rejected — '10' < '9' lexically but 10.0 > 9.0 numerically,
so a numeric bucket key would silently corrupt global ranks.

Caching: the input feeds one boundary pass, one count pass, and the
returned plan. It is persisted once and KEPT persisted so the caller's
final action reads the cache instead of recomputing the (possibly
expensive — e.g. quality-score regexes) projection from source; the
next ranking call unpersists the previous call's cache (LRU-1), and
``unpersist_ranking_cache()`` releases it eagerly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as ST

# The one live persisted stats-projection from the most recent ranking
# call. Kept warm so the caller's final action over the returned plan hits
# the cache (the round-2 cold-start: bounds pass computed the projection,
# then the final job recomputed it from source after an eager unpersist).
_LIVE_CACHE: list[DataFrame] = []


def unpersist_ranking_cache() -> None:
    """Release the persisted projection kept warm for the last ranking
    call's final action. Safe to call any time; the returned plans
    recompute from source afterwards."""
    while _LIVE_CACHE:
        _LIVE_CACHE.pop().unpersist()


def _retain(df: DataFrame) -> None:
    unpersist_ranking_cache()
    _LIVE_CACHE.append(df)


_NUMERIC = (
    ST.ByteType,
    ST.ShortType,
    ST.IntegerType,
    ST.LongType,
    ST.FloatType,
    ST.DoubleType,
    ST.DecimalType,
)


def _bucket_key(df: DataFrame, col_name: str) -> Column:
    """A double-valued key whose order matches the column's NATIVE sort
    order (bucket assignment must be monotone with the window ordering).

    Numeric columns cast directly; date/timestamp map to epoch seconds
    (order-preserving). Anything else (strings, binary, complex) raises:
    lexicographic order has no monotone numeric surrogate, and a silent
    double-cast would corrupt ranks (round-2 ADVICE finding).
    """
    dtype = df.schema[col_name].dataType
    col = F.col(col_name)
    if isinstance(dtype, _NUMERIC):
        return col.cast("double")
    if isinstance(dtype, ST.DateType):
        return col.cast("timestamp").cast("double")
    if isinstance(dtype, ST.TimestampType):
        return col.cast("double")
    raise ValueError(
        f"ranking bucket key '{col_name}' has type {dtype.simpleString()}; "
        "the leading order column must be numeric, date, or timestamp so "
        "range-bucket assignment is monotone with the sort order. Sort by "
        "a numeric surrogate first, or move the non-numeric column out of "
        "the leading position."
    )


def _stats(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    accuracy: int,
    agg: Column,
) -> tuple[DataFrame, dict[int, object]]:
    """Shared two-phase stats: persist the (narrow) input, fetch approx
    boundaries for the leading column, and per-bucket values of ``agg``.

    Returns (bucketed_df, {bucket: agg_value}). Driver traffic is
    ~n_buckets scalars. The persist stays live (see module docstring) so
    the plan built on bucketed_df reads the cache in the final action.

    The throwaway ``__cache_tag`` literal makes each call's logical plan
    unique: Spark's CacheManager matches cache entries BY PLAN, so
    re-persisting the identical plan while the previous call's entry is
    being dropped degrades pathologically (measured 19 s vs 0.5 s for
    the deciles stats pass at sf0.1). A distinct literal per call keeps
    every persist/unpersist pair independent.
    """
    bucketed = _persist_and_bucket(df, order_cols[0], n_buckets, accuracy)
    per_bucket = {
        r["__bkt"]: r["v"]
        for r in bucketed.groupBy("__bkt").agg(agg.alias("v")).collect()
    }
    return bucketed, per_bucket


def _persist_and_bucket(
    df: DataFrame, order_col: str, n_buckets: int, accuracy: int
) -> DataFrame:
    """Persist the input (LRU-1, see module docstring) and add ``__bkt``:
    range-bucket index from approx quantile boundaries of ``order_col``
    (index = number of boundaries <= key, so equal values always share a
    bucket). The one implementation behind _stats and
    grouped_top_fraction — the cache-tag workaround and bucket
    monotonicity rules live only here.
    """
    import uuid

    from pyspark.storagelevel import StorageLevel

    df = df.withColumn("__cache_tag", F.lit(uuid.uuid4().hex)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _retain(df)
    key = _bucket_key(df, order_col)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds_row = df.agg(F.percentile_approx(key, qs, accuracy).alias("b")).first()
    bounds = sorted({b for b in (bounds_row["b"] or []) if b is not None})

    arr = F.array(*[F.lit(float(b)) for b in bounds]) if bounds else None
    # bucket index = number of boundaries <= key
    bkt = F.size(F.filter(arr, lambda b: b <= key)) if bounds else F.lit(0)
    return df.withColumn("__bkt", bkt).drop("__cache_tag")


def _offsets_col(per_bucket: dict[int, object], zero) -> Column:
    """Exclusive prefix over per-bucket values as a literal lookup column."""
    offsets = {}
    acc = zero
    for b in sorted(per_bucket):
        offsets[b] = acc
        acc += per_bucket[b] or zero
    if not offsets:
        return F.lit(zero)
    return F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("__bkt"),
    )


def _ranked(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    accuracy: int,
) -> tuple[DataFrame, int]:
    """df + __rn (exact 1-based global rank over order_cols), total count."""
    bucketed, counts = _stats(df, order_cols, n_buckets, accuracy, F.count("*"))
    total = sum(counts.values())
    off = _offsets_col(counts, 0)
    w = Window.partitionBy("__bkt").orderBy(*order_cols)
    ranked = bucketed.withColumn(
        "__rn", (F.row_number().over(w) + off).cast("long")
    )
    return ranked, total


def with_global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "row_num",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact global ROW_NUMBER() OVER (ORDER BY order_cols), distributed."""
    ranked, _ = _ranked(df, order_cols, n_buckets, accuracy)
    return ranked.withColumnRenamed("__rn", out_col).drop("__bkt")


def _sum_zero(bucketed: DataFrame, value_col: str) -> tuple[object, object]:
    """(zero literal, Spark type) for SUM(value_col) — schema-only, no job."""
    sum_type = (
        bucketed.groupBy("__bkt").agg(F.sum(value_col).alias("v")).schema["v"].dataType
    )
    if isinstance(sum_type, (ST.DoubleType, ST.FloatType)):
        return 0.0, sum_type
    if isinstance(sum_type, ST.DecimalType):
        from decimal import Decimal

        return Decimal(0), sum_type
    return 0, sum_type


def with_rank_and_running_total(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    rank_col: str = "row_num",
    total_col: str = "running_total",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact global row_number AND exact running total over the SAME
    ordering from ONE bucketing pass — fused so callers that need both
    (cumulative-share / Pareto shapes) pay one persist, one boundary
    job, and one per-bucket aggregate (count and sum TOGETHER) instead
    of running the two primitives back to back, where the second call's
    LRU-1 cache takeover forces the first ranking's full plan to
    recompute from source inside the second's stats passes (measured
    round 12 on a_pareto_abc: the composed form's stats pass re-ran the
    first window over the whole part dimension)."""
    bucketed, per = _stats(
        df, order_cols, n_buckets, accuracy,
        F.struct(
            F.count("*").alias("c"), F.sum(value_col).alias("s")
        ),
    )
    zero, sum_type = _sum_zero(bucketed, value_col)
    cnt_off = _offsets_col({b: v["c"] for b, v in per.items()}, 0)
    val_off = _offsets_col({b: v["s"] for b, v in per.items()}, zero).cast(
        sum_type
    )
    w = Window.partitionBy("__bkt").orderBy(*order_cols)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        bucketed.withColumn(
            rank_col, (F.row_number().over(w) + cnt_off).cast("long")
        )
        .withColumn(
            total_col,
            (F.sum(value_col).over(wsum) + val_off).cast(sum_type),
        )
        .drop("__bkt")
    )


def with_running_total(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact distributed prefix sum: SUM(value) OVER (ORDER BY order_cols
    ROWS UNBOUNDED PRECEDING) with no single-partition window.

    Same two-phase shape as the ranking: range-bucket on the leading
    order column, per-bucket value sums fold into literal offsets, and a
    distributed within-bucket running sum adds the bucket offset. The
    primitive behind deterministic shard packing (catalog
    x_pack_shards), running quotas, and cumulative-distribution cuts.

    The output column keeps SUM(value_col)'s type (long for integral
    inputs, double for floating, decimal for decimal) — fractional
    running totals are not truncated (round-2 ADVICE finding).
    """
    bucketed, sums = _stats(
        df, order_cols, n_buckets, accuracy, F.sum(value_col)
    )
    zero, sum_type = _sum_zero(bucketed, value_col)
    off = _offsets_col(sums, zero).cast(sum_type)
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return bucketed.withColumn(
        out_col, (F.sum(value_col).over(w) + off).cast(sum_type)
    ).drop("__bkt")


def with_running_max(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_max",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact distributed running max: MAX(value) OVER (ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING) with no single-partition
    window — same two-phase shape as ``with_running_total``, except the
    cross-bucket combine is an exclusive prefix-MAX folded on the
    driver (n_buckets scalars) and applied via ``greatest`` (which
    skips the NULL offset of the first bucket).

    The primitive behind the out-of-order-arrival audit
    (q_out_of_order_audit): running max of event time over the global
    ingest sequence."""
    bucketed, maxes = _stats(
        df, order_cols, n_buckets, accuracy, F.max(value_col)
    )
    # exclusive prefix-max over bucket maxima; buckets whose every
    # predecessor is empty get no map entry -> element_at yields NULL
    offsets: dict[int, object] = {}
    acc: object = None
    for b in sorted(maxes):
        if acc is not None:
            offsets[b] = acc
        v = maxes[b]
        if v is not None and (acc is None or v > acc):
            acc = v
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = F.max(value_col).over(w)
    if offsets:
        prefix = F.element_at(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            ),
            F.col("__bkt"),
        )
        run = F.greatest(within, prefix)
    else:
        run = within
    return bucketed.withColumn(out_col, run).drop("__bkt")


def grouped_top_fraction(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    keep_permille: int,
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact per-group top-fraction selection without a per-group sort.

    Keeps the top ``ceil(n_g * keep_permille / 1000)`` rows of each group
    by ``order_col`` DESC (ties broken by ``id_col`` ASC) — identical to
    ``ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) <= k_g``. The
    quota is integer arithmetic (``(n*p + 999) // 1000``) so engines
    can't disagree on a float-times-count ulp at the ceil boundary.

    ``Window.partitionBy(group)`` would sort each whole group in ONE task
    — the grouped analog of the unpartitioned-window scale-killer (a
    language split of a 100 TB corpus easily puts 30 TB in 'en'). Instead,
    histogram + boundary refinement:

    1. bucket rows by approximate range boundaries of ``order_col``
       (global bounds; per-(group, bucket) COUNTS are exact, so boundary
       quality affects only the refinement size, never correctness);
    2. per-group, walk bucket counts top-down (driver side,
       groups x buckets scalars): buckets wholly above the cut are kept
       outright — values in a higher bucket are STRICTLY greater than any
       value in a lower bucket, so whole-bucket keeps can't split a tie;
    3. only the one boundary bucket per group is ranked, via a window over
       (group, bucket) — each partition holds ~n_g / n_buckets rows.

    Degenerate case: if every value collapses into one bucket (constant
    column), step 3 ranks the whole group — correct, just no longer
    sub-linear. All-tie corpora should dedup first.

    Group cardinality must be driver-small (languages, sources, shards —
    the quota/boundary tables become literal lookup maps in the plan);
    null group values are not supported. For unbounded group keys use
    with_global_row_number over a composite surrogate instead.
    """
    if not 0 < keep_permille <= 1000:
        raise ValueError("keep_permille must be in (0, 1000]")
    # persist once: feeds the bounds pass, the histogram pass, and the
    # returned plan (same LRU-1 discipline as _stats)
    bucketed = _persist_and_bucket(df, order_col, n_buckets, accuracy)

    # exact histogram: groups x buckets scalars to the driver
    hist: dict[object, dict[int, int]] = {}
    for r in bucketed.groupBy(group_col, "__bkt").count().collect():
        hist.setdefault(r[group_col], {})[r["__bkt"]] = r["count"]

    # per group: full-keep buckets strictly above the cut + a remainder
    # quota inside the single boundary bucket
    min_full: dict[object, int] = {}  # keep ALL rows with __bkt >= this
    boundary: dict[object, int] = {}  # the one bucket needing ranking
    remainder: dict[object, int] = {}  # rows still owed from boundary
    for g, per_bkt in hist.items():
        # fractional quota, ceil in exact integer math
        k = (sum(per_bkt.values()) * keep_permille + 999) // 1000
        taken = 0
        for b in sorted(per_bkt, reverse=True):
            if taken + per_bkt[b] <= k:
                taken += per_bkt[b]
                min_full[g] = b
                if taken == k:
                    break
            else:
                boundary[g] = b
                remainder[g] = k - taken
                break
        min_full.setdefault(g, n_buckets + 1)  # no full bucket fits

    def _lookup(mapping: dict[object, int], default: int) -> Column:
        if not mapping:
            return F.lit(default)
        m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
        return F.coalesce(
            F.element_at(m, F.col(group_col)), F.lit(default)
        )

    full_keep = bucketed.filter(F.col("__bkt") >= _lookup(min_full, n_buckets + 1))
    edge = bucketed.filter(F.col("__bkt") == _lookup(boundary, -1))
    w = Window.partitionBy(group_col, "__bkt").orderBy(
        F.desc(order_col), F.asc(id_col)
    )
    edge_keep = (
        edge.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= _lookup(remainder, 0))
        .drop("__r")
    )
    return full_keep.unionByName(edge_keep).drop("__bkt")


def distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list[str],
    out_col: str = "tile",
    n_buckets: int = 64,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact NTILE(n_tiles) OVER (ORDER BY order_cols), distributed.

    SQL NTILE semantics: with n rows, the first n % n_tiles tiles hold
    floor(n / n_tiles) + 1 rows, the rest floor(n / n_tiles) — computed in
    closed form from the exact global rank, as literal arithmetic.
    """
    ranked, total = _ranked(df, order_cols, n_buckets, accuracy)
    base, rem = divmod(total, n_tiles)
    cut = rem * (base + 1)
    rn = F.col("__rn")
    if base == 0:
        # fewer rows than tiles: row k is tile k
        tile = rn
    else:
        tile = F.when(
            rn <= cut, F.floor((rn - 1) / (base + 1)) + 1
        ).otherwise(rem + F.floor((rn - cut - 1) / base) + 1)
    return (
        ranked.withColumn(out_col, tile.cast("int"))
        .drop("__bkt", "__rn")
    )
