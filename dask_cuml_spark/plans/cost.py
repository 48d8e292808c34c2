"""Cost-based physical choices shared across queries.

Catalyst exposes its optimizer size estimate per plan node; these
helpers make the same size-threshold decisions Spark itself makes for
broadcast joins, applied to rewrites Catalyst has no rule for (eager
pre-aggregation, cache-vs-checkpoint for multi-consumer frames). The
lifecycles of what a query caches and of what a session reuses across
queries live here too (scoped_caches, session_state).
"""

from __future__ import annotations

import shutil as _shutil
import threading as _threading
import weakref as _weakref
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame

# Above this estimated input size, a multi-consumer frame switches from
# cache() to a lazy localCheckpoint(): lineage is truncated (each
# consumer re-reads materialized partitions instead of re-running the
# producing stages on cache miss) and the blocks live in the executors'
# block store with disk spill instead of pinning unified memory the
# downstream shuffles want. 64 MB matches the q02 eager-agg gate — far
# below any cluster-scale input, far above every local fixture. On a
# real cluster with executor churn, swap localCheckpoint for a reliable
# checkpoint() to the cluster FS; the decision shape is identical.
REUSE_CHECKPOINT_MIN_BYTES = 64 << 20


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame (no job is run)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def persist_for_reuse(
    df: DataFrame, threshold: int = REUSE_CHECKPOINT_MIN_BYTES
) -> DataFrame:
    """Persist a frame that feeds multiple consumers: cache() at fixture
    scale, lazy localCheckpoint() above the size threshold."""
    if plan_size_bytes(df) >= threshold:
        return df.localCheckpoint(eager=False)
    return scoped_cache(df)


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


# One shuffle partition per this many bytes of COMPRESSED fact input
# (≈128–256 MB decompressed in memory — the standard cluster guidance
# of partitions sized to fit an executor's task memory). Calibrated on
# the measured q02 300× point: 32 default partitions over ~4.2 GB of
# parquet hit AGGREGATE_OUT_OF_MEMORY; the hand-found 128 works and
# equals ceil(4.2 GB / 32 MB) — so the rule reproduces the proven
# setting instead of hand-tuning each scale.
SHUFFLE_PARTITION_BYTES = 32 << 20


def suggest_shuffle_partitions(*paths: str, floor: int | None = None) -> int:
    """Partitions sized to the DATA, not the cores (the q02 300×
    lesson, r8): max(cores, total compressed input / 32 MB). ``paths``
    are the fact files/dirs a workload actually reads — dimensions are
    noise. Deployments pass the rule's output to
    spark.sql.shuffle.partitions (or let AQE coalesce down from it);
    the bench harnesses use it for factor ≥ 300 fixtures so big-factor
    rows are produced by the rule, not per-run knob fiddling."""
    import os

    from dask_cuml_spark.operators.layout import source_files

    total = sum(
        size
        for p in paths
        for size, _ in source_files(*os.path.split(p)).values()
    )
    floor = floor or (os.cpu_count() or 8)
    return max(floor, -(-total // SHUFFLE_PARTITION_BYTES))
