"""Shared bench-harness helpers.

``materialize`` is the timed result-delivery step for every bench query:
Arrow (`toPandas`) rather than row-pickle (`collect`). Rationale: for
result sets near input size (q20 emits one session row per ~1.05 events
— 2.9M rows at the 30× scale fixture) py4j row pickling costs ~18 s
where the engine compute is ~1.1 s, so a collect-based bench measures
the serializer, not the query. Arrow is PySpark's documented bulk-result
path; the DuckDB side of bench_scale fetches via ``.arrow()`` so both
engines pay their native columnar materialization.

Correctness comparisons (driver + tests/test_oracle_parity.py) still go
through row-level collect — this helper is timing-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame):
    """Materialize a bench result into Python via Arrow; falls back to
    collect() for schemas Arrow can't carry (none in the registry today,
    but bench must never die on a materialization detail)."""
    try:
        return df.toPandas()
    except Exception:
        return df.collect()


def max_job_id(spark: SparkSession) -> int:
    """Highest Spark job id handed out so far (-1 before the first job),
    whatever the job's group. Job ids increase by one per job, so the
    jobs a step launched are the growth of this value across it. The
    status tracker's id lists keep only the last
    ``spark.ui.retainedJobs`` jobs, so their length clamps on long runs
    and undercounts; the highest id never does."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId()) - 1
