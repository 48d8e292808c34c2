"""py4j round-trip budget of query construction.

Building a query should cost a few driver round trips per SQL
expression, not one per Column node: PySpark composes a ``Column`` tree
with one py4j call (or more) per operator, literal and lambda, while
``F.expr`` / ``selectExpr`` / a string ``filter`` hand the JVM the whole
expression as text in one call. Each ceiling leaves at least 25% over
the SQL-text build's count; the second number beside it is the count
when the same queries composed ``Column`` trees node by node.

Counted: every ``ClientServerConnection.send_command`` made while the
query's DataFrame is built. Memory-delete commands (``m\\nd\\n``) are
not counted: the Python GC sends them whenever it frees a proxy.
"""

from __future__ import annotations

import os
import shutil

import py4j.clientserver as cs
import pytest
from conftest import SF_CORRECT, SF_SMOKE

import dask_cuml_spark.queries  # noqa: F401
from dask_cuml_spark.registry import QUERIES

#: name -> (ceiling, count with node-by-node Column trees)
SERVED = {
    "q121_boilerplate_ngrams": (92, 263),
    "q119_contamination_check": (89, 155),
    "q160_cms_point_query": (76, 579),
    "serve.q145_signhash_ann": (152, 690),
}
PLAIN = {
    "q149_bloom_decontamination": (189, 914),
    "q124_embedding_outliers": (156, 482),
}


def _round_trips(build) -> int:
    n = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return send(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        cs.ClientServerConnection.send_command = send
    return n[0]


@pytest.fixture(scope="module")
def served_sf(spark, tmp_path_factory):
    """A private sf0.001 copy with the grams, signs and cms layouts
    provisioned, so the served queries build their layout branch."""
    from dask_cuml_spark.layouts import ensure_layouts, layout_tables

    sf = str(tmp_path_factory.mktemp("budget") / "sf")
    os.makedirs(sf)
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    three = ("grams", "signs", "cms")
    ensure_layouts(spark, sf, layouts=three)
    yield sf
    for name in three:
        for t in layout_tables(name, sf):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _build(name):
    if name.startswith("serve."):
        from dask_cuml_spark.queries.vector import SERVING_TOPK

        return SERVING_TOPK[name.removeprefix("serve.")][0]
    return QUERIES[name]


@pytest.mark.parametrize("name", sorted(SERVED))
def test_served_query_construction_budget(spark, served_sf, name):
    ceiling, _before = SERVED[name]
    fn = _build(name)
    fn(spark, served_sf)  # first build: session-state and catalog warm-up
    n = _round_trips(lambda: fn(spark, served_sf))
    assert n <= ceiling, (name, n)


@pytest.mark.parametrize("name", sorted(PLAIN))
def test_plain_query_construction_budget(spark, name):
    ceiling, _before = PLAIN[name]
    fn = _build(name)
    fn(spark, SF_CORRECT)
    n = _round_trips(lambda: fn(spark, SF_CORRECT))
    assert n <= ceiling, (name, n)


def test_vector_helper_is_one_expression(spark):
    """``l2_sq`` builds one expression from SQL text (167 round trips
    as a Column tree)."""
    from dask_cuml_spark.functions.vector import l2_sq

    assert _round_trips(lambda: l2_sq("a", "b")) <= 3
