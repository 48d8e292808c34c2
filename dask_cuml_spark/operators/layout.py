"""Data-layout optimization for scan pruning (§2C sinks, 100 TB path).

At 100 TB the cheapest predicate is the one the scan never evaluates:
parquet footers carry per-row-group min/max statistics, and a reader
(Spark's vectorized parquet reader, DuckDB, Trino, ...) skips any row
group whose [min, max] range cannot satisfy a pushed filter. That only
helps if the writer CLUSTERED the data — on a randomly-ordered table
every row group spans the whole value domain and nothing prunes.

cluster_write is the writer-side half of that contract: range-partition
on the clustering key(s) (total ordering across files via Spark's
range-exchange sampling), then sort within partitions, so each row
group covers a narrow, non-overlapping slice of the key domain. The
effect is measured, not asserted: tests/test_scale_features.py reads
both layouts' footers and counts row groups a range predicate can
touch (clustered ≈ selectivity × total; random = all of them).

This is the single-dimension version of the layout step in every
lakehouse maintenance pipeline (OPTIMIZE ... ZORDER / CLUSTER BY);
for multi-dimensional keys, interleave bits (Z-order) into a derived
column and range-cluster on that — same writer shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.column import Column


def layout_tag(sf_dir: str, *sources: str) -> str:
    """Collision-free catalog identity for a layout derived from
    ``sf_dir``: a short sha1 over the ABSOLUTE fixture path plus each
    source's content fingerprint (file count, total bytes, newest
    mtime_ns of its source_files — works for single parquet files and
    Spark-written dirs).

    Two properties the advisor-r8 finding requires: (a) distinct
    fixture dirs can never collide onto one table name (the old
    regex-sanitized path mapped /tmp/a.b and /tmp/a_b to the same tag);
    (b) rewriting a source parquet changes the tag, so a layout built
    from the OLD data simply stops matching — consumers fall back to
    the plain branch instead of silently serving stale buckets. Stale
    tables are garbage-collected by drop_stale_layouts."""
    import hashlib
    import os

    h = hashlib.sha1(os.path.abspath(sf_dir).encode())
    for name in sources:
        stats = source_files(sf_dir, name).values()
        total = sum(size for size, _ in stats)
        newest = max((mtime for _, mtime in stats), default=0)
        h.update(f"|{name}:{len(stats)}:{total}:{newest}".encode())
    return h.hexdigest()[:12]


def drop_table_and_location(spark, table: str) -> None:
    """DROP TABLE IF EXISTS plus removal of the managed-table LOCATION.

    With the default in-memory catalog, a layout write that crashed
    mid-`saveAsTable` (a full disk, say) leaves the warehouse
    directory behind while no catalog entry exists — the retry then
    fails with LOCATION_ALREADY_EXISTS. A full layout build
    (layouts.build_layout) drops through this helper so a retry always
    starts clean."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = wh.removeprefix("file:")
    loc = os.path.join(wh, table.lower())
    if wh and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def tables_with_prefix(spark, prefix: str) -> list[str]:
    """Catalog table names starting with ``prefix``. SHOW TABLES is
    answered by the catalog alone (no Spark job), unlike
    ``spark.catalog.listTables()``, which collects a DataFrame and pays
    one py4j call per row."""
    rows = spark.sql(f"SHOW TABLES LIKE '{prefix}*'").collect()
    return [r.tableName for r in rows if r.tableName.startswith(prefix)]


def drop_stale_layouts(spark, prefix: str, keep_tag: str) -> list[str]:
    """Drop catalog tables named ``{prefix}_{tag}`` whose tag is not
    ``keep_tag`` — layouts built from a source parquet that has since
    been rewritten (their fingerprint tag no longer matches, so no
    query will ever read them again)."""
    dropped = []
    for name in tables_with_prefix(spark, prefix):
        if not name.endswith(keep_tag):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            dropped.append(name)
    return dropped


def cluster_write(
    df: DataFrame,
    path: str,
    cluster_cols: list[str | Column],
    num_files: int | None = None,
    row_group_bytes: int = 8 << 20,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet range-clustered on ``cluster_cols``.

    repartitionByRange gives a total ordering ACROSS output files
    (Spark samples the key distribution to pick balanced range bounds),
    sortWithinPartitions orders rows INSIDE each file, and
    ``parquet.block.size`` bounds the pruning granularity: smaller row
    groups prune finer but cost more footer overhead. The 8 MB default
    is the demonstration setting; production tables usually keep the
    128 MB default and rely on file-level pruning plus page indexes.
    """
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.option("parquet.block.size", row_group_bytes)
        .mode(mode)
        .parquet(path)
    )


def row_groups_touched(
    path: str, column: str, lo, hi
) -> tuple[int, int]:
    """(touched, total) row groups whose [min, max] stats intersect
    [lo, hi] across every parquet file under ``path`` — the
    engine-independent measure of how much a reader with footer-stats
    pruning must actually scan."""
    import glob
    import os

    import pyarrow.parquet as pq

    touched = total = 0
    files = (
        glob.glob(os.path.join(path, "*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or st.min is None:
                touched += 1  # no stats ⇒ reader must scan
            elif not (st.max < lo or st.min > hi):
                touched += 1
    return touched, total


def source_files(sf_dir: str, name) -> dict[str, tuple[int, int]]:
    """relpath -> (size, mtime_ns) for every file backing a source
    table — the per-file fingerprint incremental refreshes compare
    (layout_tag folds the same stats into one hash; this keeps them
    separable so 'strictly grew' is distinguishable from 'changed').
    ``name`` may be a tuple for multi-source layouts (q02's
    orders+lineitem pair share one fingerprint tag): the union keyed
    on sf_dir-relative paths is naturally collision-free."""
    import os

    if isinstance(name, (tuple, list)):
        out: dict[str, tuple[int, int]] = {}
        for n in name:
            out.update(source_files(sf_dir, n))
        return out
    p = os.path.join(sf_dir, name)
    if os.path.isfile(p):
        st = os.stat(p)
        return {name: (st.st_size, st.st_mtime_ns)}
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(p):
        for fn in files:
            fp = os.path.join(dirpath, fn)
            st = os.stat(fp)
            out[os.path.relpath(fp, sf_dir)] = (st.st_size, st.st_mtime_ns)
    return out


#: table property of a layout's primary table holding its source-file
#: manifest (JSON object relpath -> [size, mtime_ns])
MANIFEST_PROPERTY = "dcs.source_manifest"


def write_layout_manifest(
    spark, sf_dir: str, source_name, table: str
) -> None:
    """Store the source-file manifest the layout ``table`` was derived
    from as a property of that table — the append-only detector's
    baseline for the NEXT provisioning call. A catalog-only write (no
    Spark job); the manifest lives and dies with its table, so a
    dropped or renamed layout can never leave a stale baseline behind."""
    import json

    from dask_cuml_spark.functions.vector import sql_lit

    value = json.dumps(
        dict(sorted(source_files(sf_dir, source_name).items())),
        separators=(",", ":"),
    )
    # spark.sql substitutes ${...} references in the statement text,
    # string literals included; a JSON escape keeps '$' out of it
    value = value.replace("$", "\\u0024")
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"({sql_lit(MANIFEST_PROPERTY)} = {sql_lit(value)})"
    )


def read_layout_manifest(spark, table: str) -> dict | None:
    """relpath -> (size, mtime_ns) as stored by write_layout_manifest,
    or None when ``table`` carries no manifest. Catalog-only read (no
    Spark job)."""
    import json

    props = {
        r.key: r.value
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    raw = props.get(MANIFEST_PROPERTY)
    if raw is None:
        return None
    return {f: (s, m) for f, (s, m) in json.loads(raw).items()}


class IncrementalNotApplicable(Exception):
    """Raised by a refresh BEFORE it writes anything when a
    layout-specific precondition fails (e.g. the pack manifest needs
    appended doc_ids to sort strictly after every existing one so the
    token stream grows as a suffix) — the caller falls back to the
    full rebuild. Raising after a write would corrupt the layout; the
    contract is check-first."""


def incremental_refresh(
    spark,
    sf_dir: str,
    source_name,
    prefixes: tuple[str, ...],
    new_tag: str,
    append_fn,
) -> float | None:
    """Generic append-only incremental layout refresh: per-batch work
    is Θ(|new files|), never Θ(corpus).

    The layout's tables are ``prefix + tag`` for each of ``prefixes``;
    the first is the primary table, which carries the source-file
    manifest. Detection is strictly conservative: a previous-tag
    primary table qualifies only if the manifest stored on it (the
    MANIFEST_PROPERTY table property) is a strict SUBSET of the current
    source file set with every old file bit-unchanged (size +
    mtime_ns), and every sibling table exists at its tag — any
    mutation of an existing file, a table with no manifest or a
    partial build disqualifies the fast path and the caller falls back
    to a full rebuild, so correctness never depends on the detector.
    On a hit, ``append_fn(spark, new_parquet_paths, old_tables)``
    writes ONLY the new files' derived rows into the existing tables
    (Spark appends preserve bucket specs), every table is renamed to
    ``new_tag``, and the grown manifest is stored on the primary.

    Returns write seconds on a refresh, None when not applicable.
    MUST run before the stale-GC keyed on the new tag — the GC would
    drop the very tables this appends to. The 0.0 early-return attests
    only that the PRIMARY table exists — a multi-table caller
    re-verifies the sibling tables and falls through to the full
    writer when the layout is partially built."""
    import os
    import time as _time

    new_tables = [f"{p}{new_tag}" for p in prefixes]
    if spark.catalog.tableExists(new_tables[0]):
        return 0.0
    cur = source_files(sf_dir, source_name)
    for name in tables_with_prefix(spark, prefixes[0]):
        if name.endswith(new_tag):
            continue
        old = read_layout_manifest(spark, name)
        if old is None:
            continue
        if not set(old) <= set(cur) or len(old) == len(cur):
            continue
        if any(cur[f] != old[f] for f in old):
            continue  # an existing file changed — full-rebuild territory
        old_tag = name.rsplit("_", 1)[1]
        old_tables = [f"{p}{old_tag}" for p in prefixes]
        # a missing sibling table at the matched tag means a PARTIAL
        # build (interrupted full write, dropped sidecar): an append
        # would silently RECREATE the sibling holding only this
        # batch's delta, corrupting every additive sidecar consumer.
        if not all(spark.catalog.tableExists(t) for t in old_tables[1:]):
            return None
        new_rel = sorted(set(cur) - set(old))
        # only write-markers (_SUCCESS, .crc dotfiles) may be skipped:
        # a new non-marker file we don't append from would be recorded
        # as consumed by the manifest below yet never processed —
        # silently excluded from the layout forever. Unknown file kinds
        # are full-rebuild territory, not skips.
        if any(
            not f.endswith(".parquet")
            and not os.path.basename(f).startswith(("_", "."))
            for f in new_rel
        ):
            return None
        new_files = [
            os.path.join(sf_dir, f)
            for f in new_rel
            # exclude marker-NAMED parquet too (".hidden.parquet"):
            # Spark's directory readers skip dot/underscore files, so
            # appending their rows would make the stored layout a
            # SUPERSET of the plain table
            if f.endswith(".parquet")
            and not os.path.basename(f).startswith(("_", "."))
        ]
        t0 = _time.perf_counter()
        if new_files:
            try:
                append_fn(spark, new_files, old_tables)
            except IncrementalNotApplicable:
                return None  # precondition failed pre-write → rebuild
        for old_t, new_t in zip(old_tables, new_tables):
            spark.sql(f"ALTER TABLE {old_t} RENAME TO {new_t}")
        write_layout_manifest(spark, sf_dir, source_name, new_tables[0])
        return _time.perf_counter() - t0
    return None
