"""Session state (``plans/cost.session_state``) follows source content:
after an in-session append to a source, what the session derived from
it is rebuilt, and what it held before is released."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import shutil
import tempfile

from conftest import SF_CORRECT

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dask_cuml_spark"

#: the only functions that read applicationId: the session-state key and
#: the once-per-application package shipping
ALLOWED = {
    ("plans/cost.py", "session_state"),
    ("session.py", "ensure_worker_code"),
}


def _application_id_reads(path: pathlib.Path) -> list[tuple[str, int]]:
    """(top-level definition, line) of every applicationId read."""
    tree = ast.parse(path.read_text(), str(path))
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            name = getattr(node, "attr", getattr(node, "value", None))
            if name == "applicationId":
                out.append((getattr(top, "name", None), node.lineno))
    return out


def test_application_id_is_read_only_by_the_session_state_helper():
    """Spark-free guard: a memo keyed by applicationId anywhere else is a
    second cache lifecycle that never notices a changed source."""
    found, offenders = set(), []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        for owner, line in _application_id_reads(p):
            found.add((rel, owner))
            if (rel, owner) not in ALLOWED:
                offenders.append((rel, owner, line))
    assert not offenders, offenders
    assert found == ALLOWED, found


def _part_dir_corpus(tmp_path, table: str) -> str:
    """A corpus whose ``table`` is a part directory holding the sf0.01
    rows as part-0."""
    sf = str(tmp_path / "sf")
    os.makedirs(os.path.join(sf, f"{table}.parquet"))
    shutil.copy(
        os.path.join(SF_CORRECT, f"{table}.parquet"),
        os.path.join(sf, f"{table}.parquet", "part-0.parquet"),
    )
    return sf


def _append_near_copies(sf: str) -> int:
    """Append one part holding near-copies of vectors 0-9 under new ids,
    so they become the queries' nearest neighbours. Returns its rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    pdf = t.to_pandas()
    near = pdf[pdf.vec_id < 10].copy()
    near["vec_id"] += int(pdf.vec_id.max()) + 1
    near["embedding"] = [np.asarray(v) * 1.001 for v in near.embedding]
    part = pa.Table.from_pandas(near, schema=t.schema, preserve_index=False)
    pq.write_table(
        part, os.path.join(sf, "embeddings.parquet", "part-1.parquet")
    )
    return len(near)


def test_q47_follows_an_in_session_append(spark, tmp_path):
    """The IVF index q47 searches is refit once its corpus grows: the
    appended near-copies are found as neighbours, as the oracle does."""
    from dask_cuml_spark.oracle import run_pair

    sf = _part_dir_corpus(tmp_path, "embeddings")
    ok, rep = run_pair(spark, sf, "q47_ivf_search_full_probe")
    assert ok, rep
    _append_near_copies(sf)
    ok, rep = run_pair(spark, sf, "q47_ivf_search_full_probe")
    assert ok, rep


def test_cached_table_follows_an_in_session_append(spark, tmp_path):
    from dask_cuml_spark.io import enable_table_cache, load_table

    sf = _part_dir_corpus(tmp_path, "embeddings")
    enable_table_cache(True)
    try:
        n = load_table(spark, sf, "embeddings").count()
        n += _append_near_copies(sf)
        assert load_table(spark, sf, "embeddings").count() == n
    finally:
        enable_table_cache(False)


def test_disabling_the_table_cache_unpersists_it(spark, tmp_path):
    """Spark's CacheManager answers any later scan of a cached root path
    from the cached rows, so forgetting the cached frame is not enough."""
    from dask_cuml_spark.io import enable_table_cache, load_table

    sf = _part_dir_corpus(tmp_path, "embeddings")
    enable_table_cache(True)
    try:
        n = load_table(spark, sf, "embeddings").count()
        n += _append_near_copies(sf)
    finally:
        enable_table_cache(False)
    path = os.path.join(sf, "embeddings.parquet")
    assert spark.read.parquet(path).count() == n


def test_q104_follows_an_in_session_append_and_deletes_its_old_typed_events(
    spark, tmp_path
):
    import pyarrow.parquet as pq

    from dask_cuml_spark.oracle import run_pair

    sf = _part_dir_corpus(tmp_path, "events")
    typed = os.path.join(tempfile.gettempdir(), "dcs_typed_events_*")
    before = set(glob.glob(typed))
    ok, rep = run_pair(spark, sf, "q104_json_parse_at_ingest")
    assert ok, rep
    (old,) = set(glob.glob(typed)) - before
    events = pq.read_table(os.path.join(SF_CORRECT, "events.parquet"))
    pq.write_table(
        events.slice(0, 500),
        os.path.join(sf, "events.parquet", "part-1.parquet"),
    )
    ok, rep = run_pair(spark, sf, "q104_json_parse_at_ingest")
    assert ok, rep
    assert not os.path.exists(old)
