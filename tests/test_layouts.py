"""The stored layouts have one lifecycle (``dask_cuml_spark/layouts.py``):
no other module writes, drops or refreshes a layout table, and a
refresh reads its appended parts with the schema from their footers."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dask_cuml_spark"

#: calls that write, drop or refresh a layout table
LIFECYCLE_CALLS = {
    "saveAsTable",
    "drop_table_and_location",
    "write_layout_manifest",
    "incremental_refresh",
}
#: the lifecycle module, and the helpers' own module (its refresh
#: stores the grown manifest)
ALLOWED = {
    "layouts.py": LIFECYCLE_CALLS,
    "operators/layout.py": {"write_layout_manifest"},
}


def _calls(path: pathlib.Path) -> list[tuple[str, int]]:
    tree = ast.parse(path.read_text(), str(path))
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name in LIFECYCLE_CALLS:
            out.append((name, node.lineno))
    return out


def test_layout_tables_are_written_only_by_the_lifecycle():
    """Spark-free guard: a per-layout writer or refresh anywhere else in
    the package would fork the naming, write and manifest rules."""
    offenders = {}
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        allowed = ALLOWED.get(rel, set())
        bad = [c for c in _calls(p) if c[0] not in allowed]
        if bad:
            offenders[rel] = bad
    assert not offenders, offenders
    found = {name for name, _ in _calls(PACKAGE / "layouts.py")}
    assert found == LIFECYCLE_CALLS, found


@pytest.mark.parametrize(
    "table", ["documents", "embeddings", "orders", "lineitem"]
)
def test_footer_schema_equals_inferred(spark, tmp_path, table):
    """A refresh reads appended parts with the schema of the first
    part's footer; it must be the schema Spark infers for them."""
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE

    from dask_cuml_spark.layouts import _read_appended

    sf = str(tmp_path / "sf")
    src = f"{table}.parquet"
    os.makedirs(os.path.join(sf, src))
    part = os.path.join(sf, src, "part-1.parquet")
    shutil.copy(os.path.join(SF_SMOKE, src), part)
    got = _read_appended(spark, sf, src, [part])
    want = spark.read.parquet(part)
    assert got.schema == want.schema
    assert got.count() == pq.ParquetFile(part).metadata.num_rows
    assert _read_appended(spark, sf, "other.parquet", [part]) is None


def test_footer_schema_equals_inferred_on_a_spark_written_part(
    spark, tmp_path
):
    """Spark writes local timestamps as INT96, which the arrow reader
    cannot tell from a timestamp without time zone; the schema Spark
    records in the footer settles it."""
    from pyspark.sql import functions as F

    from dask_cuml_spark.layouts import _read_appended

    sf = str(tmp_path / "sf")
    tdir = os.path.join(sf, "orders.parquet")
    spark.range(3).select(
        "id",
        F.timestamp_seconds("id").alias("ts"),
        F.timestamp_seconds("id").cast("timestamp_ntz").alias("ntz"),
        F.col("id").cast("decimal(12,2)").alias("price"),
    ).coalesce(1).write.parquet(tdir)
    (part,) = [
        os.path.join(tdir, f)
        for f in os.listdir(tdir)
        if f.endswith(".parquet")
    ]
    got = _read_appended(spark, sf, "orders.parquet", [part])
    assert got.schema == spark.read.parquet(part).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(part).collect())


def test_footer_schema_equals_inferred_on_an_ingested_part(spark, tmp_path):
    """The part an ingest stream appends (staged rows cast to the corpus
    footer's arrow schema) reads back with the inferred schema too."""
    import pyarrow.parquet as pq
    from conftest import SF_SMOKE

    from dask_cuml_spark.layouts import _read_appended
    from dask_cuml_spark.streaming.ingest import (
        _append_part,
        synth_staging_files,
    )

    (staged,) = synth_staging_files(str(tmp_path / "stage"), 1, 20, 10**6)
    pdf = pq.read_table(staged).to_pandas()
    sf = str(tmp_path / "sf")
    ddir = os.path.join(sf, "documents.parquet")
    os.makedirs(ddir)
    schema = pq.read_schema(os.path.join(SF_SMOKE, "documents.parquet"))
    _append_part(pdf[list(schema.names)], ddir, "n", 0, schema)
    (part,) = [os.path.join(ddir, f) for f in os.listdir(ddir)]
    got = _read_appended(spark, sf, "documents.parquet", [part])
    assert got.schema == spark.read.parquet(part).schema
    assert got.count() == 20
