"""Costs a query must not pay again on every pass over the catalog:
code generation (the session's codegen cache holds the catalog mix's
working set), parquet schema inference (``load_table`` memoizes each
fixture's schema) and eager jobs at plan-build time (``x_sample_exact_k``
is one lazy window plan)."""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES
from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

from .conftest import SF01

#: the six queries of perfbench's catalog_mix workload
CATALOG_MIX = (
    "flagship_daily_rollup",
    "a4_global_summary",
    "x_sample_exact_k",
    "x_dedup_incremental",
    "x_dedup_embedding_cosine",
    "x_hard_negatives",
)


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def _jobs_run_by(spark, fn):
    """(fn's result, the number of Spark jobs fn ran)."""
    before = _job_ids(spark)
    out = fn()
    return out, len(_job_ids(spark) - before)


def _force(df) -> int:
    """Run the whole plan, hashing every column of every row."""
    return df.select(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).first()[0]


def test_second_catalog_pass_compiles_no_class(spark):
    metrics = getattr(
        getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
        "MODULE$",
    )
    compiles = metrics.METRIC_COMPILATION_TIME()
    first = [_force(QUERIES[q](spark, SF01)) for q in CATALOG_MIX]
    before = compiles.getCount()
    second = [_force(QUERIES[q](spark, SF01)) for q in CATALOG_MIX]
    assert compiles.getCount() - before == 0
    assert second == first


def test_sample_exact_k_is_one_lazy_window_plan(spark):
    load_table(spark, SF01, "documents")  # the schema memo is warm
    df, jobs = _jobs_run_by(spark, lambda: QUERIES["x_sample_exact_k"](spark, SF01))
    assert jobs == 0, "building x_sample_exact_k must run no Spark job"
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()

    def line_of(*words):
        return next(i for i, l in enumerate(lines) if all(w in l for w in words))

    # each map task keeps its own top 20 per language before the shuffle
    final = line_of("WindowGroupLimit", "Final")
    exchange = line_of("Exchange hashpartitioning(lang")
    partial = line_of("WindowGroupLimit", "Partial")
    assert final < exchange < partial


def _write(path, frame):
    frame.to_parquet(path, index=False)


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), pd.DataFrame({"a": [1, 2, 3]}))
    first, _ = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(r["a"] for r in second.collect()) == [1, 2, 3]


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pd.DataFrame({"a": [1, 2]}))
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, pd.DataFrame({"a": [3], "b": ["x"]}))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_rewritten_directory_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], ["a"]).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.createDataFrame([(2, "y")], ["a", "c"]).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c"]
    assert [tuple(r) for r in df.collect()] == [(2, "y")]


def test_events_keeps_its_nanos_timestamp_on_a_memo_hit(spark):
    first = load_table(spark, SF01, "events")
    second, jobs = _jobs_run_by(spark, lambda: load_table(spark, SF01, "events"))
    assert jobs == 0
    assert isinstance(second.schema["ts"].dataType, TimestampType)
    lo, hi = second.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year > 1970
    assert (lo, hi) == tuple(first.agg(F.min("ts"), F.max("ts")).first())
