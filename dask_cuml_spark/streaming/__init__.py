"""Streaming helpers shared across modules."""

from contextlib import contextmanager


@contextmanager
def _state_partitions(spark, sf_dir: str, table: str = "events"):
    """Scope the state-store partition count (= shuffle partitions at the
    stream's FIRST run) to plans/cost.state_partitions for the replayed
    ``table``. A real cluster sizes this to keyspace/executors instead —
    the checkpoint pins it, so new runs here always use fresh
    checkpoints."""
    from dask_cuml_spark.plans.cost import state_partitions

    n = state_partitions(sf_dir, table)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
