"""Custom stateful streaming operator (C-checklist "stateful streaming
ops"): applyInPandasWithState — arbitrary per-key state beyond what
session_window expresses (running per-user aggregates here; the same
shape carries fraud counters, CDC merge, dedup-within-stream, ...).

The state handle holds (count, value_sum) per user; each micro-batch
folds its rows into state and emits the updated totals. With
Trigger.AvailableNow over the fixture the final emission equals the
batch groupBy — which is what lets q79 share a plain SQL oracle (a
stronger check than rows-only).
"""

from __future__ import annotations

import tempfile
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from dask_cuml_spark.io import source_schema
from dask_cuml_spark.streaming import _state_partitions

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("vsum", DoubleType())]
)
_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    n, vsum = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        vsum += float(pdf["value"].sum())
    state.update((n, vsum))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [vsum]}
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful per-user totals stream to completion; return the
    final (user_id, n_events, sum_value) frame."""
    schema = source_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    totals = stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"user_totals_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt, _state_partitions(spark, sf_dir):
        q = (
            totals.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # update mode appends one row per key per batch; keep the final
    # emission per user (max n_events is monotone in batches)
    snap = spark.table(name)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snap.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("user_id", "n_events", F.round("sum_value", 4).alias("sum_value"))
    )
