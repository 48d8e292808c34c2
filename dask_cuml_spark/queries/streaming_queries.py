"""Structured Streaming operators declared as oracle-checked queries.

These run a real streaming query (readStream → session_window/window →
memory sink, Trigger.AvailableNow) to completion and return the result
as a DataFrame. session_window(gap) uses a half-open [t, t+gap) window,
so an event exactly gap after its predecessor starts a NEW session; the
shared batch/SQL oracle uses the matching `delta >= gap` condition, and
both streaming queries share that DuckDB oracle — a stronger check than
the rows-only fallback the driver would otherwise apply to streaming ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_cuml_spark.io import load_table, source_schema
from dask_cuml_spark.registry import register
from dask_cuml_spark.streaming.sessionize import (
    stream_hourly_counts,
    stream_sessionize,
)

_GAP_US = 30 * 60 * 1_000_000


@register(
    "q70_stream_sessionization",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), lagged AS (
  SELECT user_id, event_id, ts_us,
         LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_us
  FROM base
), flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us >= {_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM lagged
), sess AS (
  SELECT user_id, ts_us,
         CAST(SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
""",
)
def q70_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_sessionize(spark, sf_dir)


@register(
    "q71_stream_hourly_counts",
    oracle="""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q71_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_hourly_counts(spark, sf_dir)


@register(
    "q93_stream_stream_join",
    oracle="""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
)
SELECT p.user_id AS user_id, p.event_id AS purchase_id,
       e.event_id AS error_id, e.ts_us - p.ts_us AS lag_us
FROM base p
JOIN base e
  ON p.user_id = e.user_id
 AND p.event_type = 'purchase' AND e.event_type = 'error'
 AND e.ts_us > p.ts_us AND e.ts_us <= p.ts_us + 300000000
""",
)
def q93_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run to completion ≡ the batch interval
    join (q92's oracle) — watermarked two-stream correlation with a full
    SQL check."""
    from dask_cuml_spark.streaming.stream_join import (
        stream_purchase_error_join,
    )

    return stream_purchase_error_join(spark, sf_dir)


@register(
    "q79_stream_stateful_totals",
    oracle="""
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY user_id
""",
)
def q79_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState; final state
    equals the batch groupBy, giving the stateful path a full SQL oracle."""
    from dask_cuml_spark.streaming.stateful import stream_user_totals

    return stream_user_totals(spark, sf_dir)


@register(
    "q116_stream_upsert_sink",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q116_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once foreachBatch merge sink: streaming per-user totals
    upserted into a versioned parquet table with atomic pointer commits
    (streaming/upsert_sink.py has the idempotence argument). The target
    is pre-seeded with stale rows so every run exercises both merge
    paths (update + insert); the final committed table equals the batch
    GROUP BY — a full-value oracle for the sink, not just the
    aggregation."""
    from dask_cuml_spark.streaming.upsert_sink import stream_upsert_totals

    return stream_upsert_totals(spark, sf_dir)


@register(
    "q117_stream_static_enrichment",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 6) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment, e.event_type
ORDER BY segment, e.event_type
""",
)
def q117_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (the r5 verdict's 'deeper
    streaming' frontier, second shape): a streaming fact source joined
    to a static dimension table inside each micro-batch — stateless
    (no join state store; the static side is planned as a broadcast
    per batch, re-resolvable if the dimension changes between batches),
    feeding a stateful aggregate. Run to completion the result equals
    the batch join+GROUP BY — a full SQL oracle. At 100 TB the static
    side is the usual broadcast dimension; the only stateful operator
    is the (segment, event_type) aggregate — tiny keyspace."""
    import tempfile

    from dask_cuml_spark.streaming import (
        _state_partitions,
        auto_state_partitions,
    )

    schema = source_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    name = f"enrich_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt, _state_partitions(
        spark, auto_state_partitions(sf_dir)
    ):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("segment", "event_type")
