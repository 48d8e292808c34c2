"""Cost-based physical choices, and the lifecycles of what a query
caches and of what a session reuses across queries (scoped_caches,
session_state).

Every size gate of the engine lives here: one threshold constant and
one function per decision. The function takes what its gate measures
and returns the side; callers ask it and never compare bytes
themselves. A gate measures one of:

- plan: ``plan_size_bytes(df)``, Catalyst's size estimate for the frame
  the choice applies to (no job runs);
- source: ``source_size_bytes(sf_dir, table)``, the bytes of the
  table's source parquet files. A gate asked before the query's frames
  exist reads file bytes because they do not move with session cache
  state. A ``cache()``d scan would make Catalyst substitute its
  InMemoryRelation into every plan over the same source, with
  uncompressed statistics (customer at 100×: 78 MB cached, 29 MB on
  disk) that flip a plan-fed gate on whichever query cached it first,
  and AQE reuses no exchange above an InMemoryRelation scan (q124's
  self-join ran 9 jobs cached, 6 over parquet). The session table
  cache (``io.load_table``) therefore holds a localCheckpoint, which
  no other plan picks up and which keeps the parquet estimate.

The gates (name, threshold constant; what it measures; the side; the
measurement that placed the threshold):

persist_for_reuse, REUSE_CHECKPOINT_MIN_BYTES
    plan of the reused frame; localCheckpoint at >= 64 MB, else cache().
    No crossover measured: far below any cluster input, far above
    every fixture.
one_aggregate_percentile, PERCENTILE_AGG_MAX_BYTES
    plan of the column; one percentile aggregate below 64 MB, else the
    range-sorted rank path. q12: 1.44 s / 10 jobs -> 0.48 s / 3 jobs.
knn_strategy, KNN_KERNEL_MIN_BYTES
    plan of the candidates; gemm at >= 16 MB, else expr. ~5 MB at
    sf0.1: expr 0.56 s, gemm 0.67 s; 48 MB at 100x: gemm 0.94 s, expr
    1.96 s.
centers_strategy, CENTERS_GEMM_MIN_BYTES
    plan of the rows x k centroids; gemm at >= 32 MB, else expr. The
    k=80 assignment at sf0.1 (73 MB): expr 1.76 s, gemm 0.35 s; k <= 16
    (q108: 14.6 MB, IVF k=8: 7.3 MB) stays on the expr fold.
ivf_search_strategy, IVF_SEARCH_GEMM_MIN_BYTES
    plan of the indexed candidates; gemm at >= 64 MB, else expr. 100x:
    3.0 -> 2.1 s; equal or slower on the fixtures.
broadcast_b, BROADCAST_B_MAX_BYTES
    plan of the B side; broadcast at <= 64 MB, else the blocked
    cogroup. q45 at sf0.1: blocked 1.26 s, broadcast 0.33 s.
embeddings_strategy, EMBEDDINGS_KERNEL_MIN_BYTES
    source of embeddings; kernel above 16 MB, else expr. q131's fold
    ran 8.04x DuckDB at 100x; q145's Hamming scan at 1000x: expr
    7.72 s, kernel 1.10 s.
pin_exploded_documents, DOCUMENTS_PIN_MAX_BYTES
    source of documents; persist at <= 256 MB, else recompute. 1000x
    (585 MB of source, 125 M bigram rows) OOMs the pinned frame under
    a 24 g driver.
q02_direct_join, Q02_DIRECT_MAX_ORDERS_BYTES
    source of orders; the all-broadcast direct join below 64 MB
    (~15 M orders rows).
q02_broadcast_customer, Q02_BCAST_MAX_CUSTOMER_BYTES
    source of customer; bcast-cmap at <= 48 MB, else eager-agg. 100x
    (29 MB) builds and runs in 1.66 s; 300x (90 MB) fails the broadcast
    build under an 8 g driver.
layout_write_shuffles, LAYOUT_SHUFFLE_MAX_BYTES
    source of the layout's table; repartition at <= 4 GiB, else write
    shuffle-free. A 600 M-row lineitem write ran out of disk staging
    the repartition's shuffle copy.
layout_buckets, spark.sql.shuffle.partitions
    the session's shuffle partition count (the cores locally, the
    suggest_shuffle_partitions rule at big factors); every stored layout
    table whose count does not follow its data is bucketed at it. The
    ingest_serve workload on 4 cores, grams at 32 -> 4 buckets:
    172.3/166.5/172.4 -> 233.4/238.1/227.3 queries/min, spark.tasks
    31.8 -> 10.4 per op, grams refresh 0.477 -> 0.239 s; every layout
    at 4 (ten pairs, medians): 170.5 -> 234.0 queries/min. One bucket
    ties with 4 at that scale.
state_partitions, STATE_SMALL_MAX_BYTES
    source of the replayed table; 4 state partitions below 64 MB, else
    8. q93 at sf0.1: 8 -> 2.75 s, 4 -> 2.14 s; 100x: 10 M events in
    5.9 s at 8.
operators/knn.classwise_nearest, CLASSWISE_BROADCAST_MAX_BYTES
    counted anchor bytes (rows x dim x 8); broadcast at <= 128 MB, else
    blocked. A driver and broadcast memory bound.
suggest_shuffle_partitions, SHUFFLE_PARTITION_BYTES
    source of the fact tables; one shuffle partition per 32 MB. q02 at
    300x: 32 partitions over 4.2 GB ran out of aggregate memory, 128 =
    ceil(4.2 GB / 32 MB) works.
"""

from __future__ import annotations

import atexit as _atexit
import shutil as _shutil
import threading as _threading
import weakref as _weakref
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame

REUSE_CHECKPOINT_MIN_BYTES = 64 << 20
PERCENTILE_AGG_MAX_BYTES = 64 << 20
KNN_KERNEL_MIN_BYTES = 16 << 20
CENTERS_GEMM_MIN_BYTES = 32 << 20
IVF_SEARCH_GEMM_MIN_BYTES = 64 << 20
BROADCAST_B_MAX_BYTES = 64 << 20
EMBEDDINGS_KERNEL_MIN_BYTES = 16 << 20
DOCUMENTS_PIN_MAX_BYTES = 256 << 20
Q02_DIRECT_MAX_ORDERS_BYTES = 64 << 20
Q02_BCAST_MAX_CUSTOMER_BYTES = 48 << 20
LAYOUT_SHUFFLE_MAX_BYTES = 4 << 30
STATE_SMALL_MAX_BYTES = 64 << 20
CLASSWISE_BROADCAST_MAX_BYTES = 128 << 20
SHUFFLE_PARTITION_BYTES = 32 << 20


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame (no job is run)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def source_size_bytes(sf_dir: str, name: str) -> int:
    """Bytes of a table's source parquet (file or part directory). At
    100 TB this is one namenode/object-store listing, not a scan."""
    import os

    from dask_cuml_spark.io import table_path
    from dask_cuml_spark.operators.layout import source_files

    path = table_path(sf_dir, name)
    if not os.path.exists(path):
        # a typo'd fixture dir must surface, not silently read as
        # "0 bytes" and send every size gate down the small-input branch
        raise FileNotFoundError(f"no parquet at {path}")
    files = source_files(sf_dir, os.path.basename(path))
    return sum(size for size, _ in files.values())


def persist_for_reuse(df: DataFrame) -> DataFrame:
    """Persist a frame that feeds multiple consumers: cache() when small,
    else a lazy localCheckpoint(). The checkpoint truncates lineage (a
    consumer re-reads materialized partitions instead of re-running the
    producing stages) and its blocks spill to disk instead of pinning
    the unified memory the downstream shuffles want. On a cluster with
    executor churn, a reliable checkpoint() takes its place."""
    if plan_size_bytes(df) >= REUSE_CHECKPOINT_MIN_BYTES:
        return df.localCheckpoint(eager=False)
    return scoped_cache(df)


def one_aggregate_percentile(col: DataFrame) -> bool:
    """Whether an exact percentile of ``col`` runs as one percentile
    aggregate (buffers the column per task) rather than the range-sorted
    rank path."""
    return plan_size_bytes(col) < PERCENTILE_AGG_MAX_BYTES


def knn_strategy(candidates: DataFrame) -> str:
    """Exact kNN over ``candidates``: 'gemm' (per-batch BLAS) or 'expr'."""
    big = plan_size_bytes(candidates) >= KNN_KERNEL_MIN_BYTES
    return "gemm" if big else "expr"


def centers_strategy(df: DataFrame, k: int) -> str:
    """Nearest-of-``k``-centroids over ``df`` (kmeans.nearest_centers,
    IVF cell assignment and probes): 'gemm' or 'expr', by fold work
    rows_bytes × k."""
    big = plan_size_bytes(df) * k >= CENTERS_GEMM_MIN_BYTES
    return "gemm" if big else "expr"


def ivf_search_strategy(cells: DataFrame) -> str:
    """IVF in-cell distances: 'gemm' (cogrouped BLAS) or 'expr'."""
    big = plan_size_bytes(cells) >= IVF_SEARCH_GEMM_MIN_BYTES
    return "gemm" if big else "expr"


def broadcast_b(b: DataFrame) -> bool:
    """Whether pairwise similarity broadcasts its B side."""
    return plan_size_bytes(b) <= BROADCAST_B_MAX_BYTES


def embeddings_strategy(sf_dir: str) -> str:
    """Vector scans over the embeddings (int8 quantization, ADC and
    Hamming shortlists): 'kernel' (Arrow batches) or 'expr' (the
    interpreted, oracle-mirroring fold)."""
    big = source_size_bytes(sf_dir, "embeddings") > EMBEDDINGS_KERNEL_MIN_BYTES
    return "kernel" if big else "expr"


def pin_exploded_documents(sf_dir: str) -> bool:
    """Whether a frame exploded from the documents (bigrams, positioned
    grams) is persisted for its consumers. At scale the pinned blocks
    starve the count aggregations while the narrow explode recomputes
    at scan speed; duplicated text compresses so well on disk that
    source bytes understate the exploded working set about 4×."""
    return source_size_bytes(sf_dir, "documents") <= DOCUMENTS_PIN_MAX_BYTES


def q02_direct_join(sf_dir: str) -> bool:
    """Whether q02 runs the all-broadcast direct join."""
    return source_size_bytes(sf_dir, "orders") < Q02_DIRECT_MAX_ORDERS_BYTES


def q02_broadcast_customer(sf_dir: str) -> bool:
    """Whether q02 broadcasts its pruned (custkey, nation) map. The
    broadcast hash relation is ~30 B/row, ~10× the compressed bytes."""
    size = source_size_bytes(sf_dir, "customer")
    return size <= Q02_BCAST_MAX_CUSTOMER_BYTES


def layout_write_shuffles(sf_dir: str, table: str) -> bool:
    """Whether a bucketed layout build repartitions ``table`` on its
    bucket key first (one file per bucket) or writes shuffle-free
    (input tasks × buckets files; the bucketed join plan is the same)."""
    return source_size_bytes(sf_dir, table) <= LAYOUT_SHUFFLE_MAX_BYTES


def layout_buckets(spark) -> int:
    """Bucket count of a stored layout table written in this session:
    one bucket per shuffle partition, so a bucketed scan runs as many
    tasks as the session's shuffles and an ingest batch appends one file
    per partition."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def state_partitions(sf_dir: str, table: str = "events") -> int:
    """State-store partitions for a stream replaying ``table``: each
    costs a fixed store init + commit + task every micro-batch."""
    return 4 if source_size_bytes(sf_dir, table) < STATE_SMALL_MAX_BYTES else 8


# Query-scoped caches. Every cache() whose useful life is one query
# invocation is registered so that a long-lived session (the bench
# suite, a serving daemon) can drop it once the query's action has run;
# an unreleased entry pins storage memory and lengthens every cache
# lookup for the rest of the session. The invariants:
#
# - A `with scoped_caches():` block owns every scoped_cache() registered
#   on the same thread while it is open, and unpersists them on exit. A
#   concurrent query on another thread never loses its frames to it.
# - scoped_cache() outside any open block registers a weak reference in
#   one lock-guarded process-global scope, which release_scoped_caches()
#   drains. A process that never releases (the pytest suite, library
#   users) pins nothing: dead entries are pruned on append and release.
# - localCheckpoint frames are never registered: unpersist would lose
#   their lineage-truncated blocks instead of freeing a recomputable
#   copy, and the ContextCleaner frees them once the frame is garbage
#   collected.


class CacheScope:
    """Explicit registry of cached frames with one owner. Strong refs:
    the owner's lifetime bounds the pin (a bench query's three timed
    runs; one serving request)."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def add(self, df: DataFrame) -> None:
        self._frames.append(df)

    def release(self) -> None:
        frames, self._frames = self._frames, []
        for df in frames:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session gone / already unpersisted — nothing to free


_TL = _threading.local()


@_contextmanager
def scoped_caches():
    """Own every scoped_cache() registered on this thread inside the
    block; unpersist them all on exit (normal or exceptional). Nestable:
    the innermost open scope wins."""
    scope = CacheScope()
    stack = getattr(_TL, "stack", None)
    if stack is None:
        stack = _TL.stack = []
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        scope.release()


_GLOBAL_LOCK = _threading.Lock()
_GLOBAL_WEAK: list = []  # weakref.ref(DataFrame), pruned as they die


def scoped_cache(df: DataFrame) -> DataFrame:
    """cache() an intermediate scoped to the current query invocation.
    Registered with the innermost scoped_caches() block open on this
    thread, else with the process-global weak fallback scope that
    release_scoped_caches() drains."""
    out = df.cache()
    stack = getattr(_TL, "stack", None)
    if stack:
        stack[-1].add(out)
    else:
        with _GLOBAL_LOCK:
            _GLOBAL_WEAK[:] = [r for r in _GLOBAL_WEAK if r() is not None]
            _GLOBAL_WEAK.append(_weakref.ref(out))
    return out


def release_scoped_caches() -> None:
    """Unpersist every still-live frame in the global fallback scope.
    Only frames registered OUTSIDE any scoped_caches() block land here,
    so a concurrent query running inside its own scope is untouched."""
    with _GLOBAL_LOCK:
        refs, _GLOBAL_WEAK[:] = list(_GLOBAL_WEAK), []
    for r in refs:
        df = r()
        if df is None:
            continue
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session gone / already unpersisted — nothing to free


_STATE_LOCK = _threading.RLock()
_STATE: dict[tuple, tuple] = {}  # (kind, sf_dir) -> (key, value)


def session_state(spark, kind: tuple, sf_dir: str, sources, build):
    """The state ``build()`` derives from ``sources`` under ``sf_dir`` (a
    fitted model, an encoded or cached frame, a temp directory), built
    once and reused while the application and the sources' content are
    unchanged.

    ``kind`` names the state first and carries every parameter of its
    build after, e.g. ``("ivf", n_cells)``. The entry's key is the
    applicationId (Python reuses id() after GC) plus
    ``operators/layout.layout_tag(sf_dir, *sources)``, the sources' file
    fingerprint.

    Append rule: state derived in-session follows source content. When a
    source changes it is rebuilt from scratch, never updated in place;
    only the stored layouts (``layouts.py``) encode appended rows with a
    stored model.

    At most one entry is held per (kind, sf_dir). A new fingerprint or
    application releases the held entry (``_release``) before its
    successor is built, so a stale cached scan of the same root path
    cannot answer the rebuild. Builds run under one re-entrant lock: a
    build may ask for state itself (a fit loading a cached table)."""
    from dask_cuml_spark.operators.layout import layout_tag

    slot = (kind, sf_dir)
    key = (spark.sparkContext.applicationId, layout_tag(sf_dir, *sources))
    with _STATE_LOCK:
        held, value = _STATE.pop(slot, (None, None))
        if held != key:
            _release(value)
            value = build()
        _STATE[slot] = (key, value)
    return value


def release_session_state(name: str) -> None:
    """Release every session_state entry whose kind starts with ``name``."""
    with _STATE_LOCK:
        for slot in [s for s in _STATE if s[0][0] == name]:
            _release(_STATE.pop(slot)[1])


@_atexit.register
def _release_directories_at_exit() -> None:
    """A session_state temp directory would outlive its process; cached
    frames need no release, they go with the JVM."""
    with _STATE_LOCK:
        for _key, value in _STATE.values():
            if isinstance(value, str):
                _release(value)


def _release(value) -> None:
    """Free what a session_state entry holds: a path is a temp directory
    and is deleted; the cache()d frames among the value and its
    attributes (an IVF index's cells) are unpersisted. A localCheckpoint
    frame is only dropped: the ContextCleaner frees its blocks."""
    if isinstance(value, str):
        _shutil.rmtree(value, ignore_errors=True)
        return
    for v in (value, *getattr(value, "__dict__", {}).values()):
        if isinstance(v, DataFrame) and v.is_cached:
            try:
                v.unpersist(blocking=False)
            except Exception:
                pass  # session gone — nothing to free


def suggest_shuffle_partitions(*paths: str, floor: int | None = None) -> int:
    """Shuffle partitions sized to the data, not the cores: max(cores,
    total source bytes / SHUFFLE_PARTITION_BYTES). ``paths`` are the
    fact files/dirs a workload reads; dimensions are noise. Deployments
    pass the result to spark.sql.shuffle.partitions (or let AQE coalesce
    down from it); the bench harnesses use it for factor >= 300
    fixtures."""
    import os

    from dask_cuml_spark.operators.layout import source_files

    total = sum(
        size
        for p in paths
        for size, _ in source_files(*os.path.split(p)).values()
    )
    floor = floor or (os.cpu_count() or 8)
    return max(floor, -(-total // SHUFFLE_PARTITION_BYTES))
