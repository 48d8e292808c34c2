"""End-to-end incremental-ingest pipeline (r13 verdict task 5): a
Structured Streaming foreachBatch sink that APPENDS each micro-batch to
the corpus parquet tables and refreshes every stored serving layout
incrementally — the daily-ingest posture as ONE pipeline instead of the
two pytest-pinned halves (the upsert sink and
operators/layout.incremental_refresh) that existed separately.

Shape per micro-batch:
  1. the batch lands as ONE new parquet part file per corpus table
     (documents + embeddings), existing files untouched — the
     append-only contract incremental_refresh detects;
  2. ensure_layouts() runs for the stored layouts: the manifest
     comparison finds exactly the new part, derives ONLY its rows
     (positioned grams / sign signatures / PQ codes with the EXISTING
     codebooks — literal FAISS add() semantics), appends into the
     bucketed tables and rolls the fingerprint tag + manifest forward.
     Per-batch work is Θ(|batch|), never Θ(corpus). The layouts refresh
     side by side, one thread each, inside the sink's own job group
     (the stream's run id); the reported refresh seconds are
     per-layout and overlap, so they can sum past the batch's wall;
  3. consumers (q121's gram pairs, q145's signature scan, q138/q141's
     code scan) read the refreshed tables mid-stream with no knowledge
     that an ingest is running — the catalog-gated layout branch is the
     only coupling.

The stream itself is a file source over a staging directory with
maxFilesPerTrigger=1 and an availableNow trigger: deterministic,
bounded (one micro-batch per staged file, stream ends on its own), and
real Structured Streaming — checkpointed offsets, a foreachBatch sink,
the exactly-once replay story the upsert sink documents. The batch
lands via a driver-side single-file write: micro-batches are
micro-batch-sized by definition, and one part file per batch is
precisely what keeps the manifest diff (and so the refresh) cheap; a
deployment whose batches are large enough to need a distributed write
would also coalesce them into few files for the same reason.

At 100 TB: the corpus tables are the 100 TB; a daily batch is GBs. The
refresh reads the batch once per layout and appends bucketed rows —
the full rebuild it replaces re-derives the corpus (measured in
SCALEBENCH "ingest_stream": per-batch refresh seconds vs the
full-rebuild seconds for the same layouts at the same corpus size).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

#: staging schema = documents columns + embeddings payload columns,
#: one row per ingested doc (vec_id rides as doc_id)
_STAGING_SCHEMA = (
    "doc_id long, text string, lang string, source string, "
    "n_chars long, embedding array<float>, label int"
)

_LANGS = ("en", "de", "fr", "es")
_SOURCES = ("web", "books", "code")
_WORDS = [f"tok{i}" for i in range(30)]


def synth_staging_files(
    staging_dir: str,
    n_batches: int,
    rows_per_batch: int,
    start_doc_id: int,
    dim: int = 64,
) -> list[str]:
    """Write ``n_batches`` parquet files of deterministic synthetic
    ingest rows (fixture-shaped documents + embeddings), doc_ids
    contiguous from ``start_doc_id`` — strictly after every existing
    corpus id, which is what real ingests look like and what the pack
    layout's suffix precondition requires."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(staging_dir, exist_ok=True)
    paths = []
    nid = start_doc_id
    for b in range(n_batches):
        rows = []
        for _ in range(rows_per_batch):
            # deterministic per-doc content (no RNG: replayable batches)
            toks = [
                _WORDS[(nid * 31 + j * 7) % len(_WORDS)]
                for j in range(8 + nid % 13)
            ]
            text = " ".join(toks)
            emb = [
                float(((nid * 2654435761 + j * 40503) % 1000) / 1000.0 - 0.5)
                for j in range(dim)
            ]
            rows.append(
                {
                    "doc_id": nid,
                    "text": text,
                    "lang": _LANGS[nid % len(_LANGS)],
                    "source": _SOURCES[nid % len(_SOURCES)],
                    "n_chars": len(text),
                    "embedding": emb,
                    "label": int(nid % 3),
                }
            )
            nid += 1
        pdf = pd.DataFrame(rows)
        path = os.path.join(staging_dir, f"ingest-{b:05d}.parquet")
        # explicit arrow schema: pandas would infer list<double>/int64
        # where the stream schema (and the corpus tables) say
        # list<float>/int32 — parquet readers do not downcast silently
        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(
                pdf, schema=schema, preserve_index=False
            ),
            path,
        )
        paths.append(path)
    return paths


def _stream_nonce(checkpoint_dir: str) -> str:
    """Per-stream identity for appended part names (advisor r15): batch
    ids restart at 0 for every NEW stream (fresh checkpoint dir), so
    naming parts by batch id alone silently OVERWROTE a previous
    stream's ingested parts — permanent corpus loss that only surfaced
    as a layout rebuild over the truncated corpus. The nonce lives
    INSIDE the checkpoint dir: a replay of the same stream reuses it
    (same batch → same file name → idempotent overwrite, the
    exactly-once story), while a fresh checkpoint mints a fresh nonce
    so two streams can never collide on a part name."""
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, ".ingest-nonce")
    if os.path.exists(marker):
        with open(marker) as f:
            stored = f.read().strip()
        # A crash mid-write can leave an empty/truncated marker; a
        # short nonce re-opens the cross-stream collision window, so
        # treat it as absent and mint a fresh one (advisor r16).
        if len(stored) >= 12:
            return stored
    nonce = uuid.uuid4().hex[:12]
    # Write-then-rename so the marker is either absent or complete —
    # never a torn partial that a restarted stream would read back.
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(nonce)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, marker)
    return nonce


def _append_part(
    pdf: pd.DataFrame, table_dir: str, nonce: str, batch_id: int,
    arrow_schema,
) -> None:
    """Land one micro-batch as ONE new part file in a corpus table dir,
    schema-cast to the table's exact arrow schema (appended parts must
    unify with existing footers). The name carries the stream nonce —
    see _stream_nonce."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.Table.from_pandas(pdf, preserve_index=False).select(
        arrow_schema.names
    ).cast(arrow_schema)
    pq.write_table(
        t,
        os.path.join(
            table_dir, f"part-ingest-{nonce}-{batch_id:05d}.parquet"
        ),
    )


def run_ingest_stream(
    spark: SparkSession,
    corpus_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    layouts: tuple[str, ...] = ("grams", "signs", "pq"),
) -> list[dict]:
    """Drive the staged micro-batches through a foreachBatch ingest:
    append to the corpus tables, refresh the stored layouts, record
    per-batch timings. The corpus tables must be DIRECTORIES of part
    files (the append-only layout contract) and the layouts must be
    provisioned once before the stream starts (ensure_layouts) so
    every in-stream refresh takes the incremental path.

    Returns one dict per micro-batch:
      {"batch_id", "rows", "append_sec", "refresh_sec": {layout: s}}.
    """
    import pyarrow.parquet as pq

    from dask_cuml_spark.io import first_part
    from dask_cuml_spark.layouts import ensure_layouts

    docs_dir = os.path.join(corpus_dir, "documents.parquet")
    embs_dir = os.path.join(corpus_dir, "embeddings.parquet")
    for d in (docs_dir, embs_dir):
        if not os.path.isdir(d):
            raise ValueError(
                f"{d} must be a directory of part files — the "
                "append-only ingest contract"
            )
    doc_schema = pq.read_schema(first_part(docs_dir))
    emb_schema = pq.read_schema(first_part(embs_dir))
    nonce = _stream_nonce(checkpoint_dir)
    stats: list[dict] = []

    def sink(batch_df, batch_id: int) -> None:
        pdf = batch_df.toPandas()  # micro-batch-sized by definition
        if not len(pdf):
            return
        t0 = time.perf_counter()
        _append_part(
            pdf[["doc_id", "text", "lang", "source", "n_chars"]],
            docs_dir,
            nonce,
            batch_id,
            doc_schema,
        )
        epdf = pdf[["doc_id", "embedding", "label"]].rename(
            columns={"doc_id": "vec_id"}
        )
        _append_part(epdf, embs_dir, nonce, batch_id, emb_schema)
        append_sec = time.perf_counter() - t0
        # the incremental refresh: manifest diff finds exactly the two
        # new parts; per-layout work is Θ(|batch|)
        refresh = ensure_layouts(spark, corpus_dir, layouts=layouts)
        stats.append(
            {
                "batch_id": int(batch_id),
                "rows": int(len(pdf)),
                "append_sec": round(append_sec, 4),
                "refresh_sec": {k: round(v, 4) for k, v in refresh.items()},
            }
        )

    q = (
        spark.readStream.schema(_STAGING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats
