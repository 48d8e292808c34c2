"""Stream-stream interval join (C-checklist streaming completion):
purchases stream ⋈ errors stream within a 5-minute event-time band —
the canonical two-stream correlation (click⋈impression attribution
shape). Both sides carry watermarks so Spark can bound the join state;
the time-band condition gives the state eviction horizon.

Run to completion over the fixture it produces exactly the batch
interval join (q92), which is what lets q93 share that SQL oracle.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_cuml_spark.io import source_schema, with_event_time
from dask_cuml_spark.streaming import _state_partitions, auto_state_partitions


def stream_purchase_error_join(
    spark: SparkSession, sf_dir: str, band: str = "5 minutes"
) -> DataFrame:
    schema = source_schema(spark, sf_dir, "events")

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            with_event_time(
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir)
            )
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts_t").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "10 minutes")
        )

    purchases = side("purchase", "p")
    errors = side("error", "e")
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {band}")),
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("e_id").alias("error_id"),
        (F.unix_micros("e_ts") - F.unix_micros("p_ts")).alias("lag_us"),
    )
    name = f"ss_join_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt, _state_partitions(spark, auto_state_partitions(sf_dir)):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
