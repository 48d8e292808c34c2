"""Structured Streaming sessionization (SURVEY.md §7 M5; C-checklist
watermarks / event-time windows / stateful ops — absent in the reference,
north-star additions).

session_window(ts, gap) with a watermark gives the same 30-minute-gap
sessions as the batch lag+cumsum operator (queries/events.py q20), which
is what lets the streaming path share q20's SQL oracle.

The fixture parquet is replayed as a bounded stream (one-file source +
Trigger.AvailableNow), results land in a memory sink — on a cluster the
same code points at Kafka + a Delta/parquet sink.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dask_cuml_spark.io import source_schema, with_event_time
from dask_cuml_spark.streaming import _state_partitions, auto_state_partitions


def stream_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Run the streaming session aggregation to completion over the
    events fixture; return the result as a batch DataFrame
    (user_id, session_start_us, n_events, duration_us)."""
    schema = source_schema(spark, sf_dir, "events")
    # FileStreamSource requires a directory: stream the fixture dir,
    # glob-filtered to the events file.
    stream = with_event_time(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    sessions = (
        stream.withWatermark("ts_t", watermark)
        .groupBy(F.session_window("ts_t", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )
    name = f"sessions_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt, _state_partitions(spark, auto_state_partitions(sf_dir)):
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_hourly_counts(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window aggregation with watermark — the
    canonical late-data pattern (C-checklist)."""
    schema = source_schema(spark, sf_dir, "events")
    # FileStreamSource requires a directory: stream the fixture dir,
    # glob-filtered to the events file.
    stream = with_event_time(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    counts = (
        stream.withWatermark("ts_t", watermark)
        .groupBy(
            F.window("ts_t", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    name = f"hourly_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt, _state_partitions(spark, auto_state_partitions(sf_dir)):
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
