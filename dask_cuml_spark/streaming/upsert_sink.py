"""Exactly-once foreachBatch merge sink (the r5 verdict's named
streaming frontier: "exactly-once sinks") — streaming aggregation
upserted into a keyed table with atomic, idempotent commits.

The production pattern this models: Structured Streaming's exactly-once
story is checkpointed offsets (each micro-batch replays deterministically
after failure) PLUS a sink whose writes are idempotent or transactional —
on a real deployment the foreachBatch body is a Delta/Iceberg MERGE.
Without a table format in this container, the same guarantee is built
from primitives:

  - the table is hash-bucketed on the key into ``_N_BUCKETS`` immutable
    parquet dirs; a VERSION is a manifest file mapping bucket id → the
    dir that currently holds that bucket's rows, plus a one-line pointer
    file naming the committed manifest;
  - each batch merges (operators/merge.merge_upsert — keyed upsert, one
    shuffle on the key) ONLY the buckets its keys hash into, writing new
    dirs for those buckets and copying the manifest entries of untouched
    buckets forward unchanged — per-batch written bytes are
    O(batch's buckets), not O(table), which is exactly how real table
    formats bound merge amplification (rewrite only touched files). A
    full-table rewrite at 100 TB of per-key totals would copy the world
    every micro-batch; this layout writes ~|touched|/|buckets| of it
    (measured: see tests/test_operators.py bucket-locality assertions
    and PLANS.md "merge-sink write amplification");
  - the commit is ``os.replace`` of the pointer file — atomic on POSIX,
    so readers see the old or the new version, never a torn table;
  - a REPLAYED batch (failure between write and checkpoint commit) is
    handled in two tiers: if the pointer already names this batch's
    version the sink is a NO-OP (advisor r6: re-deriving from the
    now-advanced pointer would read and overwrite the same dirs); if the
    pointer does not, the replay re-derives the same bucket dirs from
    the same committed inputs deterministically and re-points. Either
    way each event's effect lands exactly once.

Aggregation runs in update output mode: the state store holds cumulative
per-key totals, so each batch emits full replacement rows for changed
keys and the merge is a pure keyed overwrite (no read-modify-write of
values — exactly what makes replays idempotent). At 100 TB the merge is
the only wide stage (hash-partitioned on the key both sides) and the
version family is a table-format commit log in miniature.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_cuml_spark.functions.vector import rows_lit
from dask_cuml_spark.io import source_schema
from dask_cuml_spark.operators.merge import merge_upsert
from dask_cuml_spark.streaming import _state_partitions

_POINTER = "COMMITTED"
# default bucket count for fixture-sized tables; real deployments size
# this so one bucket ≈ one file-compaction unit (table_bytes /
# target_file_bytes) — written bytes per batch are O(touched buckets),
# so the bucket count IS the write-amplification knob. The count is
# pinned in the manifest at init_table time: every later batch reads it
# from there, so a table is self-describing and re-bucketing is an
# explicit migration, never an accident.
_N_BUCKETS = 16


def _bucket(key: str, n_buckets: int):
    """Bucket id for a key value — stable across versions, so a key's
    rows live in exactly one bucket dir and a merge touches only the
    buckets its batch keys hash into."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _commit(root: str, version: str) -> None:
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(root, _POINTER))  # atomic commit


def _committed(root: str) -> str:
    with open(os.path.join(root, _POINTER)) as f:
        return f.read().strip()


def _version_num(version: str) -> int:
    """Numeric part of a 'v{n}' version name."""
    return int(version[1:])


def _write_manifest(
    root: str,
    version: str,
    buckets: dict,
    n_buckets: int,
    schema_json: str,
    stream_id: str | None = None,
    last_batch_id: int | None = None,
) -> None:
    tmp = os.path.join(root, version + ".manifest.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "n_buckets": n_buckets,
                "schema": schema_json,
                # replay identity (advisor r8): WHICH stream's batch-id
                # sequence the version numbers track. A replay is only a
                # replay within one checkpoint's batch-id scope — a new
                # stream re-attached to this table must never have its
                # batches mistaken for replays of the old one.
                "stream_id": stream_id,
                "last_batch_id": last_batch_id,
                "buckets": {str(k): v for k, v in buckets.items()},
            },
            f,
        )
    os.replace(tmp, os.path.join(root, version + ".manifest"))


def _read_manifest_meta(root: str, version: str) -> dict:
    """Raw manifest dict with parsed bucket keys. Tolerates manifests
    written before the schema/stream-identity fields existed —
    ``schema``/``stream_id``/``last_batch_id`` come back None."""
    with open(os.path.join(root, version + ".manifest")) as f:
        m = json.load(f)
    m["buckets"] = {int(k): v for k, v in m["buckets"].items()}
    m.setdefault("schema", None)
    m.setdefault("stream_id", None)
    m.setdefault("last_batch_id", None)
    return m


def _read_manifest(root: str, version: str) -> tuple[dict, int, str | None]:
    m = _read_manifest_meta(root, version)
    return m["buckets"], m["n_buckets"], m["schema"]


def read_committed(spark: SparkSession, root: str) -> DataFrame:
    """The committed table: union of every bucket dir in the committed
    manifest (dirs from different versions — that's the point)."""
    buckets, _n, schema_json = _read_manifest(root, _committed(root))
    if not buckets:
        # zero-bucket manifest (empty seed, no batches yet): the schema
        # travels in the manifest, so the empty table is still typed
        if schema_json is None:
            # pre-schema manifest and no bucket dirs to infer one from
            raise ValueError(
                f"merge-sink table at {root}: committed manifest has no "
                "schema field (pre-schema format) and no bucket dirs to "
                "infer one from; re-init the table or merge a batch to "
                "re-materialize the schema"
            )
        from pyspark.sql.types import StructType

        return rows_lit(
            spark, [], StructType.fromJson(json.loads(schema_json))
        )
    # pre-schema manifests: the bucket dirs' parquet footers carry it
    return spark.read.parquet(
        *[os.path.join(root, rel) for rel in buckets.values()]
    )


def init_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str,
    n_buckets: int = _N_BUCKETS,
) -> None:
    """Seed version v0: bucket df on the key, one dir per bucket. The
    bucket count is pinned in the manifest — later batches read it from
    there."""
    (
        df.withColumn("_b", _bucket(key, n_buckets))
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(os.path.join(root, "v0"))
    )
    # partitionBy materializes dirs only for non-empty buckets; the
    # manifest tracks exactly those (absent bucket ≡ zero rows)
    buckets = {
        b: f"v0/_b={b}"
        for b in range(n_buckets)
        if os.path.isdir(os.path.join(root, f"v0/_b={b}"))
    }
    _write_manifest(
        root, "v0", buckets, n_buckets, json.dumps(df.schema.jsonValue())
    )
    _commit(root, "v0")


def _drain(batch_df: DataFrame) -> None:
    """Consume a skipped batch without writing anything: under
    foreachBatch, Spark 4.x validates that every state-store partition
    of the upstream stateful agg committed
    (STATE_STORE_COMMIT_VALIDATION_FAILED otherwise — found by
    bench_upsert_sink_stream's fresh-checkpoint replay); the built-in
    noop source drains all partitions."""
    batch_df.write.format("noop").mode("overwrite").save()


def merge_batch(
    spark: SparkSession,
    root: str,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    update_cols: list[str],
    stream_id: str | None = None,
) -> None:
    """Merge one micro-batch into the table — idempotent under replay.

    Reads only the committed bucket dirs the batch's keys hash into,
    merges, writes new dirs for those buckets under the next version,
    and copies untouched buckets' manifest entries forward. One Spark
    job regardless of how many buckets are touched.

    Replay detection (advisor r8): batch ids are only meaningful within
    ONE stream's checkpoint scope, so with ``stream_id`` set (the
    checkpoint location is the natural identity) the skip path fires
    only when the committed manifest records the SAME stream and an
    already-applied batch id — a NEW stream re-attached to an existing
    table has its batches APPLIED (version numbers continue from the
    committed version), never silently dropped. Without ``stream_id``
    the pre-r9 monotone version guard applies (version = v{batch_id+1},
    skip when the pointer is at/past it) — correct only when at most
    one stream ever writes the table.
    """
    committed = _committed(root)
    if stream_id is not None:
        meta = _read_manifest_meta(root, committed)
        m_sid, m_last = meta["stream_id"], meta["last_batch_id"]
        if m_sid == stream_id and m_last is not None and batch_id <= m_last:
            # genuine replay: this stream already applied this batch
            # (failure landed between pointer commit and checkpoint
            # commit). Drain and return — re-merging would read the
            # same dirs it overwrites.
            _drain(batch_df)
            return
        if m_sid is None and _version_num(committed) > batch_id:
            # legacy table (manifest predates stream identity) whose
            # version outruns this stream's batch ids: cannot tell a
            # replay from a new stream — refuse loudly instead of
            # silently dropping either way (advisor r8)
            raise ValueError(
                f"merge-sink table at {root}: committed {committed} has "
                f"no stream identity but outruns batch {batch_id} of "
                f"stream {stream_id!r}; re-init the table or merge once "
                "without stream_id to adopt it"
            )
        # new merges continue the version chain from the committed
        # version, so a re-attached stream's v-numbers never collide
        # with the previous stream's
        version = f"v{max(_version_num(committed), batch_id) + 1}"
    else:
        version = f"v{batch_id + 1}"
        if _version_num(committed) >= _version_num(version):
            # replay of an already-committed batch. The guard is
            # MONOTONE (>=, not ==): a batch replaying after a LATER
            # version committed must never re-merge against the newer
            # manifest and point the table backwards (advisor r7).
            _drain(batch_df)
            return
    buckets, n_buckets, schema_json = _read_manifest(root, committed)
    batch_df = batch_df.withColumn(
        "_b", _bucket(key, n_buckets)
    ).localCheckpoint()
    touched = sorted(
        r["_b"] for r in batch_df.select("_b").distinct().collect()
    )
    if touched:
        batch_flat = batch_df.drop("_b")
        existing = [
            os.path.join(root, buckets[b]) for b in touched if b in buckets
        ]
        cur = (
            spark.read.parquet(*existing)
            if existing
            # every touched bucket is empty so far → pure insert
            else rows_lit(spark, [], batch_flat.schema)
        )
        merged = merge_upsert(
            cur, batch_flat, key, update_cols
        ).withColumn("_b", _bucket(key, n_buckets))
        (
            merged.write.mode("overwrite")
            .partitionBy("_b")
            .parquet(os.path.join(root, version))
        )
        for b in touched:
            buckets[b] = f"{version}/_b={b}"
    if schema_json is None:
        # pre-schema manifest: re-materialize the schema from this
        # batch so the table becomes self-describing again (advisor r8)
        schema_json = json.dumps(batch_df.drop("_b").schema.jsonValue())
    _write_manifest(
        root, version, buckets, n_buckets, schema_json,
        stream_id=stream_id, last_batch_id=batch_id,
    )
    _commit(root, version)


def version_bytes(root: str, version: str) -> int:
    """Bytes on disk under one version dir (write-amplification probe)."""
    from dask_cuml_spark.operators.layout import source_files

    return sum(size for size, _ in source_files(root, version).values())


def stream_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event totals streamed into a merge-sink table; returns
    the final committed table (user_id, n_events, total_value).

    The target is pre-seeded with stale placeholder rows (-1 totals) for
    the users with user_id < 50, so the merge exercises BOTH paths every
    run: matched keys are UPDATED (updates win), unseen keys INSERTED —
    and the final table still equals the plain batch GROUP BY, which is
    the full-value oracle."""
    schema = source_schema(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="dcs_upsert_")
    try:
        seed = (
            spark.read.schema(schema).parquet(f"{sf_dir}/events.parquet")
            .filter(F.col("user_id") < 50)
            .select("user_id")
            .distinct()
            .select(
                "user_id",
                F.lit(-1).cast("long").alias("n_events"),
                F.lit(-1.0).alias("total_value"),
            )
        )
        init_table(spark, root, seed, "user_id")

        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        totals = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )

        with tempfile.TemporaryDirectory() as ckpt, _state_partitions(
            spark, sf_dir
        ):
            # the checkpoint location IS the batch-id scope, so it is
            # the stream identity the replay guard keys on (advisor r8)
            def sink(batch_df: DataFrame, batch_id: int) -> None:
                merge_batch(
                    spark, root, batch_df, batch_id,
                    "user_id", ["n_events", "total_value"],
                    stream_id=ckpt,
                )

            q = (
                totals.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        final = read_committed(spark, root).select(
            "user_id", "n_events", "total_value"
        )
        # materialize before the tempdir is removed; the committed table
        # is per-key totals (thousands of rows), not event-sized
        rows = final.orderBy("user_id").collect()
        return rows_lit(
            spark, rows, "user_id long, n_events long, total_value double"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
