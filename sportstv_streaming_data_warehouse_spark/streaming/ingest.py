"""Structured Streaming ingestion — the reference's batch loop, streamed.

The reference polls its sources in 50K-row batches and additively upserts
per-batch partial aggregates into the fact table
(loadAnalyticsDB.PractII.VarmaA.R:306-428). That hand-rolled machinery is
exactly what Structured Streaming provides natively (SURVEY.md §2.10):

| reference                              | here                           |
|----------------------------------------|--------------------------------|
| 50K-row polling loop (etl.R:311)       | file-source readStream         |
| per-batch agg + additive upsert        | stateful windowed aggregation  |
| daily grain via streaming_date         | 1-day tumbling event-time window |
| DELETE + ON DUPLICATE KEY idempotency  | checkpoint + idempotent merge  |
| exact per-batch unique users (broken)  | approx_count_distinct (exact   |
|   — double-counts across batches       |   distinct is unsupported in   |
|   (report.Rmd:662)                     |   streaming agg; HLL is honest)|

Scale posture: state is bounded by the watermark (late data beyond it is
dropped and state evicted); the sink merge touches only the grain keys
present in each micro-batch. The sink merge is ``MERGE INTO`` semantics
on parquet: read-existing → anti-join on batch keys → union → atomic swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TXN_STREAM_SCHEMA = StructType(
    [
        StructField("ts", TimestampType(), False),
        StructField("user_id", LongType(), True),
        StructField("sport", StringType(), True),
        StructField("minutes_streamed", IntegerType(), True),
        StructField("completed", IntegerType(), True),
    ]
)


def read_transaction_stream(
    spark: SparkSession, path: str, schema: StructType = TXN_STREAM_SCHEMA
) -> DataFrame:
    """File-source stream over JSON transaction drops (replaces the
    LIMIT/OFFSET polling loop; new files are discovered per micro-batch)."""
    return spark.readStream.schema(schema).json(path)


def daily_rollup_stream(stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Event-time daily rollup: tumbling 1-day window + watermark for
    late data. Emits the fact grain (day, sport) with additive metrics
    and an HLL unique-user estimate."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "sport")
        .agg(
            F.count("*").alias("transaction_count"),
            F.approx_count_distinct("user_id").alias("unique_user_estimate"),
            F.sum(F.coalesce(F.col("minutes_streamed"), F.lit(0)))
            .cast("long")
            .alias("total_minutes_streamed"),
            F.sum(F.coalesce(F.col("completed"), F.lit(0)))
            .cast("long")
            .alias("completed_streams"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "sport",
            "transaction_count",
            "unique_user_estimate",
            "total_minutes_streamed",
            "completed_streams",
        )
    )


def _merge_batch(batch: DataFrame, out_path: str) -> None:
    """Idempotent key-merge into a parquet fact: rows for grain keys
    present in the batch are replaced wholesale, so replays converge to
    the same state — exactly ``MERGE INTO fact USING batch ON (day,
    sport) WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT
    *``, routed through plans.merge's crash-safe rename-aside swap."""
    from ..plans.merge import merge_into

    merge_into(
        batch.sparkSession,
        out_path,
        batch,
        on=["day", "sport"],
        when_matched="update_all",
        when_not_matched="insert_all",
    )


def start_ingestion(
    rollup: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Run the streaming rollup into the parquet fact via foreachBatch.

    Update output mode: changed grain keys re-emit each micro-batch and
    the merge keeps the sink consistent; the checkpoint makes restarts
    exactly-once at the sink-merge level.
    """
    writer = (
        rollup.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(lambda df, _epoch: _merge_batch(df, out_path))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_available_data(
    spark: SparkSession, in_path: str, out_path: str, checkpoint_path: str
) -> None:
    """Convenience: process all currently-available files and stop —
    the streaming equivalent of one reference ETL run."""
    stream = read_transaction_stream(spark, in_path)
    q = start_ingestion(
        daily_rollup_stream(stream), out_path, checkpoint_path, available_now=True
    )
    q.awaitTermination()
