"""The stored serving layouts: each declared once, built and refreshed
by one lifecycle.

A layout is derived from one or more source parquet tables under
``sf_dir`` and stored as catalog tables. Its declaration (``LAYOUTS``)
names the sources, the tables and one derivation; ``build_layout``,
``refresh_layout`` and ``ensure_layouts`` own everything else.

Invariants every layout keeps:

- A table is named ``prefix + layout_tag(sf_dir, *sources)``: the tag
  hashes the absolute fixture path and the sources' file fingerprints,
  so two fixtures never share a table and a rewritten source stops
  matching. Consumers read a layout only when its tables exist (fresh
  sessions never have them, so every oracle comparison runs the plain
  shape) and must return the same values either way.
- The first table is the primary: it carries the source-file manifest
  (``operators/layout.MANIFEST_PROPERTY``) it was derived from.
- One derivation ``(spark, sf_dir, sources, old) -> frames`` serves both
  paths. A full build passes every source table and ``old=None``; a
  refresh passes only the appended part files of each source (None for
  a source that gained none) and the previous-tag table names. It
  yields one frame per table in declaration order, and each is written
  before the next is derived; a None frame writes nothing. A full build
  overwrites, a refresh appends. A bucketed table is repartitioned on
  its bucket column and written ``bucketBy``/``sortBy`` that column; a
  derivation yields ``Rows`` where the count or the repartition
  depends on the data (pq's cell count, q02's 4 GiB rule).
- A refresh applies only when the primary's manifest is a strict
  subset of the current source files, no old file changed, only
  ``.parquet`` parts (or write markers) were added and every table
  exists at the old tag. It then appends, renames every table to the
  new tag and stores the grown manifest. Otherwise, or when a
  layout-specific precondition raises ``IncrementalNotApplicable``
  before any write, the layout is rebuilt in full.
- ``ensure_layouts`` drops same-prefix tables under any other tag after
  the refresh attempt, and a call on a current layout reads only the
  catalog (SHOW TABLES, SHOW TBLPROPERTIES, tableExists): no Spark job.

The tables (tag omitted):

- ``grams``: ``dcs_grams5pos_`` holds (doc_id, pos, _h), one row per
  word-5-gram occurrence, _h the xxhash64 of the token slice, in 32
  buckets on _h. q119/q121 dedup it to (doc_id, _h) pairs in-bucket;
  q134, q136 and q148 read the occurrences. A refresh appends the new
  documents' occurrences.
- ``signs``: ``dcs_signs128s7_`` holds (vec_id, sig), the 128-bit sign
  hash of each embedding under the seed-7 planes, unbucketed (q145 and
  q162 scan it whole). The planes' width is read from a non-null
  embedding of the whole source, so an all-null batch still appends
  its (null) signatures.
- ``cms``: ``dcs_cmssketch<d>x<w>_`` holds (r, bucket, c) Count-Min
  counter deltas; readers (q158, q160) SUM per (r, bucket). A refresh
  appends the batch's delta set, at most d×w rows.
- ``postings``: ``dcs_postings_`` holds (term, _t, doc_id, tf, dl) in
  16 buckets on _t; ``dcs_poststats_`` holds (n_docs, sum_dl) delta
  rows that q155 SUMs. A refresh appends the batch's postings and one
  delta row.
- ``pack``: ``dcs_pack<block>_`` holds each document's sequence-packing
  placement (q126's frame, read by q142). A refresh requires every new
  doc_id to sort after every packed one; the new rows are the batch's
  own prefix sum shifted by the packed token total.
- ``pq``: ``dcs_pqcodes8x16_`` holds (vec_id, cell_id, codes) in
  max(8, coarse cells) buckets on cell_id; ``dcs_pqmodel8x16_`` holds
  the PQ codebooks and coarse centroids as (kind, s, j, center) rows.
  A full build fits the model; a refresh encodes the new vectors with
  the stored model (FAISS add(): never a refit) and leaves it unchanged.
- ``q112``: ``dcs_q112_3_36_12_shingles_`` holds (doc_id, shingles) of
  the even doc_ids in 16 buckets on doc_id; ``dcs_q112_3_36_12_bands_``
  holds their LSH (doc_id, band, band_hash) rows in 16 buckets on
  band_hash. Bands derive from shingles: a full build reads the
  written shingles table back, a refresh pins the batch-sized frame.
- ``q02``: ``dcs_q02_orders_`` and ``dcs_q02_lineitem_`` hold the source
  rows in 32 buckets on the order key, so q02's wide join runs
  Exchange-free. Each source's new rows append to its own table.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_cuml_spark.functions.vector import rows_lit
from dask_cuml_spark.io import footer_schema, load_table, source_size_bytes
from dask_cuml_spark.operators.layout import (
    IncrementalNotApplicable,
    drop_stale_layouts,
    drop_table_and_location,
    incremental_refresh,
    layout_tag,
    write_layout_manifest,
)
from dask_cuml_spark.queries import pandas_udfs as P
from dask_cuml_spark.queries import relational as R
from dask_cuml_spark.queries import text as T
from dask_cuml_spark.queries import vector as V


@dataclass(frozen=True)
class Table:
    prefix: str
    #: bucketBy/sortBy column; None writes a plain table
    bucket: str | None = None
    #: None on a bucketed table: its derivation yields Rows with a count
    n_buckets: int | None = None


class Rows(NamedTuple):
    """A derived frame whose bucketed write depends on the data."""

    frame: DataFrame
    n_buckets: int
    shuffle: bool = True


@dataclass(frozen=True)
class Layout:
    sources: tuple[str, ...]
    tables: tuple[Table, ...]
    derive: Callable[..., Iterable]


def _grams(spark, sf_dir, src, old):
    return [T._positioned_grams(spark, sf_dir, d=src[0])]


def _signs(spark, sf_dir, src, old):
    from dask_cuml_spark.operators.binhash import hyperplanes

    # the width of a non-null embedding of the whole source: a batch
    # may hold only NULL embeddings (they get NULL signatures)
    e = src[0] if old is None else load_table(spark, sf_dir, "embeddings")
    dim = len(e.filter(F.col("embedding").isNotNull()).first()["embedding"])
    planes = hyperplanes(V._Q145_NBITS, dim, V._SIG_SEED)
    return [V._signatures(src[0], planes)]


def _cms(spark, sf_dir, src, old):
    return [T._cms_counters(spark, sf_dir, d=src[0])]


def _postings(spark, sf_dir, src, old):
    return [
        T._postings_frame(spark, sf_dir, d=src[0]),
        T._postings_stats_delta(src[0]),
    ]


def _pack(spark, sf_dir, src, old):
    base = 0
    if old is not None:
        # the placements are a prefix sum in doc_id order: appending
        # keeps the old rows only if the new ids all sort after them
        packed = spark.table(old[0]).agg(
            F.max("doc_id").alias("max_id"),
            F.max(F.col("seq_start") + F.col("n_tokens")).alias("total"),
        ).collect()[0]
        new_min = src[0].agg(F.min("doc_id")).collect()[0][0]
        if None in (packed.max_id, new_min) or new_min <= packed.max_id:
            raise IncrementalNotApplicable(
                f"appended ids start at {new_min}, packed ids reach "
                f"{packed.max_id} — stream order is not suffix-stable"
            )
        base = int(packed.total)
    return [T._placements_plain(spark, sf_dir, d=src[0], base=base)]


def _pq(spark, sf_dir, src, old):
    if old is None:
        codebooks, _models = V._fitted_pq(spark, sf_dir)
        centers = V._fitted_ivf(spark, sf_dir).centers_
    else:
        codebooks, centers = V._pq_model(spark.table(old[1]).collect())
    e = V._par(src[0].select("vec_id", "embedding"))
    yield Rows(V._pq_codes(e, codebooks, centers), max(8, len(centers)))
    if old is None:
        rows = [
            ("pq", s, j, [float(x) for x in cb[j]])
            for s, cb in enumerate(codebooks)
            for j in range(cb.shape[0])
        ] + [
            ("ivf", 0, j, [float(x) for x in c])
            for j, c in enumerate(centers)
        ]
        yield rows_lit(
            spark, rows, "kind string, s int, j int, center array<double>"
        )


def _q112(spark, sf_dir, src, old):
    from dask_cuml_spark.operators.dedup import (
        band_buckets,
        hashed_shingles,
        minhash_signatures,
    )

    p = P._Q112_PARAMS
    docs = src[0].filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    sh = hashed_shingles(docs, "text", p["n"]).select("doc_id", "shingles")
    # bands derive from the shingles: a full build reads the written
    # table back instead of pinning a corpus-sized frame; a refresh pins
    # its batch-sized frame once for both appends
    if old is None:
        yield sh
        sh = spark.table(layout_tables("q112", sf_dir)[0])
    else:
        sh = sh.localCheckpoint(eager=False)
        yield sh
    sigs = minhash_signatures(
        sh, "doc_id", "shingles", p["num_hashes"], pre_hashed=True
    )
    rows_per_band = p["num_hashes"] // p["bands"]
    yield band_buckets(sigs, "doc_id", p["bands"], rows_per_band)


def _q02(spark, sf_dir, src, old):
    for name, frame in zip(("orders", "lineitem"), src):
        # bucketBy needs no pre-shuffle: every write task hashes its
        # rows into local per-bucket files. The repartition only gives a
        # small layout one file per bucket; on a big table it stages a
        # full extra copy of the input as shuffle files, which once ran
        # a 600M-row lineitem write out of disk. Past 4 GiB the build
        # writes shuffle-free and accepts (input tasks × buckets) files;
        # bucketed reads co-group all files of a bucket, so the join
        # plan is the same.
        if old is None and source_size_bytes(sf_dir, name) > 4 << 30:
            frame = Rows(frame, R._Q02_BUCKETS, shuffle=False)
        yield frame


_Q112_STEM = "q112_{n}_{num_hashes}_{bands}".format(**P._Q112_PARAMS)

LAYOUTS: dict[str, Layout] = {
    "q02": Layout(
        ("orders.parquet", "lineitem.parquet"),
        (
            Table("dcs_q02_orders_", "o_orderkey", R._Q02_BUCKETS),
            Table("dcs_q02_lineitem_", "l_orderkey", R._Q02_BUCKETS),
        ),
        _q02,
    ),
    "grams": Layout(
        ("documents.parquet",),
        (Table(f"dcs_grams{T._Q121_N}pos_", "_h", T._Q121_BUCKETS),),
        _grams,
    ),
    "q112": Layout(
        ("documents.parquet",),
        (
            Table(f"dcs_{_Q112_STEM}_shingles_", "doc_id", P._Q112_BUCKETS),
            Table(f"dcs_{_Q112_STEM}_bands_", "band_hash", P._Q112_BUCKETS),
        ),
        _q112,
    ),
    # m = 8 subspaces × k = 16 centroids, _fitted_pq's model
    "pq": Layout(
        ("embeddings.parquet",),
        (Table("dcs_pqcodes8x16_", "cell_id"), Table("dcs_pqmodel8x16_")),
        _pq,
    ),
    "signs": Layout(
        ("embeddings.parquet",),
        (Table(f"dcs_signs{V._Q145_NBITS}s{V._SIG_SEED}_"),),
        _signs,
    ),
    "pack": Layout(
        ("documents.parquet",), (Table(f"dcs_pack{T._Q126_BLOCK}_"),), _pack
    ),
    "postings": Layout(
        ("documents.parquet",),
        (
            Table("dcs_postings_", "_t", T._POSTINGS_BUCKETS),
            Table("dcs_poststats_"),
        ),
        _postings,
    ),
    "cms": Layout(("documents.parquet",), (Table(T._CMS_PREFIX),), _cms),
}


def layout_tables(name: str, sf_dir: str) -> tuple[str, ...]:
    """The catalog names of layout ``name`` over ``sf_dir``'s current
    sources, primary first."""
    lay = LAYOUTS[name]
    tag = layout_tag(sf_dir, *lay.sources)
    return tuple(t.prefix + tag for t in lay.tables)


def _write(rows, table: str, spec: Table, mode: str) -> None:
    n, shuffle = spec.n_buckets, True
    if isinstance(rows, Rows):
        rows, n, shuffle = rows
    if spec.bucket is None:
        rows.write.mode(mode).saveAsTable(table)
        return
    if shuffle:
        # Spark's own hash on the bucket key: one write task per bucket
        rows = rows.repartition(n, F.col(spec.bucket))
    (
        rows.write.mode(mode)
        .bucketBy(n, spec.bucket)
        .sortBy(spec.bucket)
        .saveAsTable(table)
    )


def _write_all(lay: Layout, frames, tables, mode: str) -> None:
    # zip pulls each frame after the previous table is written
    for table, spec, rows in zip(tables, lay.tables, frames):
        if rows is not None:
            _write(rows, table, spec, mode)


def _read_appended(spark, sf_dir: str, source: str, new_files):
    files = [
        f
        for f in new_files
        if os.path.relpath(f, sf_dir).startswith(source + os.sep)
    ]
    if not files:
        return None
    return spark.read.schema(footer_schema(spark, files[0])).parquet(*files)


def build_layout(spark: SparkSession, sf_dir: str, name: str) -> float:
    """Full build of layout ``name``: drop its tables, derive them from
    the whole sources, store the manifest. Returns wall seconds."""
    t0 = time.perf_counter()
    lay = LAYOUTS[name]
    tables = layout_tables(name, sf_dir)
    for t in tables:
        drop_table_and_location(spark, t)
    src = tuple(
        load_table(spark, sf_dir, s.removesuffix(".parquet"))
        for s in lay.sources
    )
    frames = lay.derive(spark, sf_dir, src, None)
    _write_all(lay, frames, tables, "overwrite")
    write_layout_manifest(spark, sf_dir, lay.sources, tables[0])
    return time.perf_counter() - t0


def refresh_layout(
    spark: SparkSession, sf_dir: str, name: str
) -> float | None:
    """Append-only refresh of layout ``name`` (see the module docstring).
    Returns write seconds, 0.0 when the primary table is current, None
    when a full build is needed."""
    lay = LAYOUTS[name]

    def append(spark_, new_files, old):
        src = tuple(
            _read_appended(spark_, sf_dir, s, new_files) for s in lay.sources
        )
        _write_all(lay, lay.derive(spark_, sf_dir, src, old), old, "append")

    return incremental_refresh(
        spark,
        sf_dir,
        lay.sources,
        tuple(t.prefix for t in lay.tables),
        layout_tag(sf_dir, *lay.sources),
        append,
    )


def ensure_layouts(
    spark: SparkSession,
    sf_dir: str,
    layouts: tuple[str, ...] = tuple(LAYOUTS),
) -> dict[str, float]:
    """Bring the named layouts up to date for ``sf_dir``: refresh
    incrementally where the sources only grew, else build in full, and
    drop stale tags. Returns {layout: wall seconds spent writing}, 0.0
    for a layout already current."""
    out: dict[str, float] = {}
    for name in layouts:
        tables = layout_tables(name, sf_dir)

        def complete():
            return all(spark.catalog.tableExists(t) for t in tables)

        # the refresh appends to the previous-tag tables and renames
        # them, so it runs before the stale-GC would drop them
        inc = None if complete() else refresh_layout(spark, sf_dir, name)
        tag = tables[0].rsplit("_", 1)[1]
        for t in LAYOUTS[name].tables:
            drop_stale_layouts(spark, t.prefix, tag)
        # the refresh's 0.0 attests only the primary table: a partial
        # multi-table layout (a dropped sidecar) is rebuilt here
        if complete():
            out[name] = inc or 0.0
        else:
            out[name] = build_layout(spark, sf_dir, name)
    return out
