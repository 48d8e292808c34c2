"""Table loading — the engine's scan layer.

Fixtures are one parquet file per table (TESTDATA.md). At 100 TB each
"table" is a directory of many parquet files, possibly hive-partitioned;
``spark.read.parquet`` handles both identically, and Catalyst gives us
predicate pushdown + column pruning + partition pruning for free — the
reference (dask_cudf.read_parquet) had to do row-group filtering by hand
(SURVEY.md §4.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dask_cuml_spark.plans.cost import release_session_state, session_state

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """Resolve a table name to its parquet path inside a fixture dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


# Opt-in scan cache (bench protocol): the suite shares one cached
# DataFrame per table instead of re-creating (and re-analyzing) the scan
# per query, measured ~17% off repeated-query wall time at sf0.1. Each
# table is session state (plans/cost.session_state): a source that
# changes is checkpointed afresh, and the stale entry is released first.
_CACHE_ENABLED = False


def enable_table_cache(enabled: bool = True) -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = enabled
    if not enabled:
        # release, not just stop using: a held entry pins its
        # checkpoint blocks for the rest of the session
        release_session_state("table")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if not _CACHE_ENABLED:
        return _load_table_uncached(spark, sf_dir, name)

    def build():
        # NOTE (round 5): the fixture files are ONE row group each, so
        # this cached frame is 1-2 partitions and narrow stages run
        # near-serial. A suite-wide repartition-to-cores here was tried
        # and MEASURED A NET LOSS at sf0.1 (+0.3-0.5 s on nearly every
        # query: 32-way task overhead dwarfs the CPU gain when a stage's
        # work is sub-100 ms; suite 39.4 → 69.0 s). Only explode-heavy
        # passes win, and those repartition inside the query (q110,
        # q114). At deployment scale the scan has many splits and none
        # of this applies.
        # a localCheckpoint, not cache(): see plans/cost.py on what a
        # cached scan's InMemoryRelation does to other plans
        return _load_table_uncached(spark, sf_dir, name).localCheckpoint()

    return session_state(
        spark, ("table", name), sf_dir, (f"{name}.parquet",), build
    )


def with_event_time(df: DataFrame) -> DataFrame:
    """Attach the canonical event-time columns to an events frame.

    The fixture's on-disk encoding of ``ts`` has changed across driver
    regenerations (TIMESTAMP(NANOS)-as-int64 → TIMESTAMP_MICROS), so the
    loader adapts to whatever Spark actually inferred instead of assuming
    one encoding:

    - int64 (nanosAsLong path): ``ts_us = ts DIV 1000``
    - TIMESTAMP_NTZ (parquet micros, isAdjustedToUTC=false): wall-clock
      is UTC by fixture contract; ``timestampdiff`` from the NTZ epoch is
      session-timezone independent (pinned by the non-UTC parity test)
    - TIMESTAMP (ltz): ``unix_micros`` is already an instant

    Every query keys time arithmetic off ``ts_us`` (bigint µs — the unit
    DuckDB's ``epoch_us(ts)`` oracle produces under ALL encodings) and
    event-time windows off ``ts_t``. Works on batch and streaming frames.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        ts_us = F.expr("ts DIV 1000")
    elif isinstance(ts_type, TimestampNTZType):
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    elif isinstance(ts_type, TimestampType):
        ts_us = F.unix_micros(F.col("ts"))
    else:  # pragma: no cover — new fixture encoding needs a new branch
        raise TypeError(f"unsupported events.ts type: {ts_type}")
    return df.withColumn("ts_us", ts_us).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )


def first_part(path: str) -> str:
    """The parquet file ``path`` or, for a part directory, its first
    part file by name; write markers (``_SUCCESS``, ``.crc``) sort first
    and hold no footer."""
    while os.path.isdir(path):
        names = os.listdir(path)
        parts = sorted(f for f in names if not f.startswith(("_", ".")))
        if not parts:
            raise ValueError(f"{path} holds no data part files")
        path = os.path.join(path, parts[0])
    return path


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file or part directory
    ``path``, read from the footer of its first part on the driver: no
    schema-inference job (a parquet dataset's parts share one schema)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    # INT96 reads as timestamp[us], so only TIMESTAMP(NANOS) reads as ns
    pf = pq.ParquetFile(first_part(path), coerce_int96_timestamp_unit="us")
    arrow = pf.schema_arrow
    # a Spark-written part records its schema (INT96 timestamps among
    # it), and inference returns that as is
    written = (arrow.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if written is not None:
        return StructType.fromJson(json.loads(written))
    if spark.conf.get(_NANOS_AS_LONG, "false") == "true":
        arrow = pa.schema(
            f.with_type(pa.int64())
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            else f
            for f in arrow
        )
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz == "true")


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def source_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema of table ``name``'s source parquet, from a footer."""
    if name == "events":
        # Older fixtures wrote events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects unless read as int64 nanoseconds; the conf
        # is harmless under the current micros encoding. It must be set
        # here (the driver owns the session, we can't pre-configure it);
        # guarded so concurrent loads don't thrash an already-set value.
        if spark.conf.get(_NANOS_AS_LONG, "false") != "true":
            spark.conf.set(_NANOS_AS_LONG, "true")
    return footer_schema(spark, table_path(sf_dir, name))


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    schema = source_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    return with_event_time(df) if name == "events" else df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables as a dict of DataFrames (lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in names}
