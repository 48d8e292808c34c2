"""Building a query's DataFrame must not run it: construction launches
no Spark job, so it cannot block the driver, fail halfway or leave side
effects. A small collect that feeds a literal belongs in the plan as a
one-row aggregate crossJoined back; a new eager collect, count or first
in one of the pinned queries fails here.

Tables come from the session table cache, as in the benchmark, so the
parquet schema probe of an uncached read does not count as the query's."""

from __future__ import annotations

import pytest

import dask_cuml_spark.queries  # noqa: F401 — populate registry
import dask_cuml_spark.queries.text as T
from dask_cuml_spark.benchlib import max_job_id
from dask_cuml_spark.io import enable_table_cache, load_table
from dask_cuml_spark.plans.cost import scoped_caches
from dask_cuml_spark.registry import QUERIES

TABLES = ("documents", "embeddings", "customer")


def _q149(key_mode):
    return lambda spark, sf_dir: T.bloom_decontaminate(
        spark, sf_dir, key_mode=key_mode
    )


def _registered(name):
    return lambda spark, sf_dir: QUERIES[name](spark, sf_dir)


# builder -> construction jobs allowed
BUILDERS = {
    "q149 portable": (_q149("portable"), 0),
    "q149 xxhash64": (_q149("xxhash64"), 0),
    "q124": (_registered("q124_embedding_outliers"), 0),
    "q102": (_registered("q102_adjusted_rand"), 0),
    # q45 collects its B side (the vectors every A row is scored
    # against) once below the broadcast size gate and ships it to the
    # GEMM kernel as model state; that collect stays, as one job
    "q45": (_registered("q45_cosine_near_dup"), 1),
}


@pytest.fixture(scope="module")
def cached_tables(spark, sf_dir):
    enable_table_cache(True)
    for name in TABLES:
        load_table(spark, sf_dir, name)
    yield
    for name in TABLES:
        load_table(spark, sf_dir, name).unpersist()
    enable_table_cache(False)


@pytest.mark.parametrize("label", sorted(BUILDERS))
def test_construction_launches_no_jobs(spark, sf_dir, cached_tables, label):
    build, allowed = BUILDERS[label]
    with scoped_caches():
        before = max_job_id(spark)
        build(spark, sf_dir)
        launched = max_job_id(spark) - before
    assert launched <= allowed, f"{label}: {launched} jobs at construction"
