"""The stored layouts have one lifecycle (``dask_cuml_spark/layouts.py``):
no other module writes, drops or refreshes a layout table, and a
refresh reads its appended parts with the schema from their footers
(``io.footer_schema``, which uncached table loads use too)."""

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


def _footer_cases():
    from conftest import SF_CORRECT, SF_SMOKE

    from dask_cuml_spark.io import TABLES

    return (
        [pytest.param(SF_SMOKE, t, id=t) for t in TABLES]
        + [pytest.param(SF_CORRECT, t, id=f"sf0.01-{t}") for t in TABLES]
        # an older fixture encoding: events.ts as TIMESTAMP(NANOS)
        + [pytest.param(None, "events", id="events-nanos")]
    )


@pytest.mark.parametrize("fixture, table", _footer_cases())
def test_footer_schema_equals_inferred(spark, tmp_path, fixture, table):
    """A refresh reads appended parts, and an uncached load reads a
    table, with the schema of one footer; it must be the schema Spark
    infers for them, and the load launches no job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE

    from dask_cuml_spark.benchlib import max_job_id
    from dask_cuml_spark.io import load_table, with_event_time
    from dask_cuml_spark.layouts import _read_appended

    sf = str(tmp_path / "sf")
    src = f"{table}.parquet"
    os.makedirs(os.path.join(sf, src))
    part = os.path.join(sf, src, "part-1.parquet")
    if fixture is None:
        t = pq.read_table(os.path.join(SF_SMOKE, src))
        i = t.schema.get_field_index("ts")
        ts = t.column(i).cast(pa.timestamp("ns"))
        pq.write_table(t.set_column(i, "ts", ts), part)
    else:
        shutil.copy(os.path.join(fixture, src), part)
    j0 = max_job_id(spark)
    # events: sets the nanosAsLong conf that inference needs for NANOS
    loaded = load_table(spark, sf, table)
    assert max_job_id(spark) == j0
    inferred = spark.read.parquet(os.path.join(sf, src))
    if table == "events":
        inferred = with_event_time(inferred)
    assert loaded.schema == inferred.schema
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
