#!/usr/bin/env python
"""Scale-ratio benchmark: Spark vs DuckDB on a 10×-replicated fixture
(≈ sf1), the honest response to the round-1 verdict on the 2× gate.

At sf0.1 every Spark query pays a ~0.1–0.6 s scheduling/codegen floor
that dwarfs 10–100 ms of actual work, so the Spark/DuckDB ratio mostly
measures that floor (BASELINE.md "Implications"). The ratio argument
only becomes meaningful when per-query work exceeds the floor — this
script measures the SAME queries (Spark side = the registry, DuckDB
side = the very oracle SQL the correctness gate uses) at 1× and 10× and
reports how the ratio moves with scale.

Dataset: each fact table is replicated N× with shifted keys (pyarrow —
preserves the timestamp logical type, so events SQL runs unchanged in
both engines); dimension tables (nation/region/part/supplier) keep their
original cardinality, as they would at any TPC-H scale. Written to
/tmp (single parquet file per table, the layout both engines read).

Usage: python bench_scale.py [factor]   (default 10)
Emits one JSON line; detail to SCALEBENCH.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dask_cuml_spark.queries  # noqa: E402,F401
from dask_cuml_spark.oracle import duckdb_connection  # noqa: E402
from dask_cuml_spark.registry import ORACLES, QUERIES  # noqa: E402
from dask_cuml_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"

# (table, key columns to shift per copy) — dims replicate once, facts N×
FACT_SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "supplier", "part"]

# expensive-tail queries (round-4 verdict task 5): the top-5 wall-time
# queries had asserted-but-unmeasured scale behavior. Run via
# `python bench_scale.py <factor> --tail`.
TAIL = [
    "q39_count_vectorizer",
    "q76_kmeans_fit",
    "q77_dbscan",
    "q82_lsh_knn",
    "q93_stream_stream_join",
]

# fact tables each query actually reads — lets a subset run (--tail /
# --only) build only what it needs (a 300x documents table is 180 MB;
# a 300x lineitem it never touches would be 3.2 GB)
TABLES_FOR = {
    "q39_count_vectorizer": {"documents"},
    "q76_kmeans_fit": {"embeddings"},
    "q77_dbscan": {"embeddings"},
    "q82_lsh_knn": {"embeddings"},
    "q93_stream_stream_join": {"events"},
    "q32_exact_dedup": {"documents"},
    "q105_curation_pipeline": {"documents"},
    "q108_semantic_dedup": {"embeddings"},
    "q109_stratified_sample": {"documents"},
    "q110_gopher_rules": {"documents"},
    "q111_clustered_layout": {"orders"},
    "q112_incremental_dedup": {"documents"},
    "q103_simhash_near_dup": {"documents"},
    "q47_ivf_search_full_probe": {"embeddings"},
    "q113_bpe_token_accounting": {"documents"},
    "q114_ngram_language_id": {"documents"},
    "q115_ivf_partial_probe": {"embeddings"},
    "q119_contamination_check": {"documents"},
    "q41_centroid_assignment": {"embeddings"},
    "q31_tfidf_top_term": {"documents"},
    "q118_knn_graph": {"embeddings"},
    "q120_dbscan_blocked": {"embeddings"},
    "q121_boilerplate_ngrams": {"documents"},
    "q122_token_budget_mixture": {"documents"},
    "q123_vocab_coverage": {"documents"},
    "q124_embedding_outliers": {"embeddings"},
    "q126_sequence_packing": {"documents"},
    "q127_pii_redaction": {"documents"},
    "q128_image_decode_stats": {"documents"},
    "q129_quality_model_score": {"documents"},
    "q130_chunk_documents": {"documents"},
    "q131_int8_quantization": {"embeddings"},
    "q132_fixed_n_per_stratum": {"documents"},
    "q133_bigram_lm_score": {"documents"},
    "q134_exact_substring_dedup": {"documents"},
    "q135_near_dup_canonicalize": {"documents"},
    "q136_apply_span_dedup": {"documents"},
    "q137_pq_quantization": {"embeddings"},
    "q138_pq_adc_search": {"embeddings"},
    "q139_decontaminate_spans": {"documents"},
    "q140_temperature_mixture": {"documents"},
    "q141_ivfpq_search": {"embeddings"},
    "q142_packing_audit": {"documents"},
    "q143_seq_length_histogram": {"documents"},
    "q144_dsir_weights": {"documents"},
    "q145_signhash_ann": {"embeddings"},
    "q146_stratified_split": {"documents"},
    "q147_perplexity_buckets": {"documents"},
    "q148_ngram_novelty": {"documents"},
    "q149_bloom_decontamination": {"documents"},
    "q150_paragraph_dedup": {"documents"},
    "q151_paragraph_near_dup": {"documents"},
    "q152_phash_image_near_dup": {"documents"},
    "q153_shuffle_shard": {"documents"},
    "q154_triplet_mining": {"embeddings"},
    "q155_bm25_retrieval": {"documents"},
    "q162_hybrid_rrf_retrieval": {"documents", "embeddings"},
    "q163_video_scene_cuts": {"documents"},
    "q164_retrieval_metrics": {"documents"},
    "q156_triplet_mining_ann": {"embeddings"},
    "q157_weighted_sample": {"documents"},
    "q158_cms_heavy_hitters": {"documents"},
    "q159_bpe_apply": {"documents"},
    "q160_cms_point_query": {"documents"},
    "q161_audio_fingerprint": {"documents"},
}

# headline queries spanning agg / join / window / text / vector / JSON —
# every one has a DuckDB oracle, which doubles as the baseline SQL
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_orders_per_customer",
    "q20_sessionization",
    "q22_json_extract",
    "q104_json_parse_at_ingest",
    "q30_top_terms",
    "q31_tfidf_top_term",
    "q32_exact_dedup",
    "q40_knn_bruteforce",
    "q41_centroid_assignment",
    "q45_cosine_near_dup",
    "q51_ols_fit",
]


# Fact tables get small row groups: a single parquet file is only
# splittable at row-group boundaries, and pyarrow's default ~1M-row
# groups left the 30× orders scan with 5 effective partitions on a
# 32-core box (the Sort feeding WindowGroupLimit ran 5-wide). Real
# deployments have many files/row groups; 128k-row groups give both
# engines (DuckDB parallelizes per row group too) representative scan
# parallelism.
FACT_ROW_GROUP = 131_072


def build_scaled(dst: str, factor: int, facts: set | None = None) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in DIMS:
        if not os.path.exists(f"{dst}/{name}.parquet"):
            t = pq.read_table(f"{SRC}/{name}.parquet")
            pq.write_table(t, f"{dst}/{name}.parquet")
    for name, keys in FACT_SHIFTS.items():
        if facts is not None and name not in facts:
            continue
        if os.path.exists(f"{dst}/{name}.parquet"):
            continue
        t = pq.read_table(f"{SRC}/{name}.parquet")
        shifts = {k: pc.max(t.column(k)).as_py() + 1 for k in keys}
        # embeddings: replication with shifted ids but IDENTICAL vectors
        # is a degenerate scale fixture for value-sensitive vector ops —
        # every point gains (factor-1) exact clones, so ε-neighborhoods
        # and LSH buckets densify ~factor², a property of the fixture,
        # not the engine (the first 10× q77 run wedged on it). Each copy
        # i>0 instead gets a seeded random ORTHOGONAL rotation: norms
        # and all within-copy pairwise distances are preserved exactly
        # (the copy is the same point cloud in a rotated basis) while
        # cross-copy pairs become quasi-random near-orthogonal pairs —
        # the same shape fresh data drawn at a larger scale would have.
        # Both engines read the same rotated file, so ratios stay
        # apples-to-apples.
        emb_np = None
        if name == "embeddings":
            import numpy as np

            flat = t.column("embedding").combine_chunks()
            vals = flat.flatten().to_numpy(zero_copy_only=False)
            emb_width = len(vals) // len(t)
            emb_np = vals.reshape(len(t), emb_width).astype(np.float32)
        # stream copies through one writer — at 100× the concat-then-
        # write shape would hold the whole scaled fact table in memory
        writer = pq.ParquetWriter(f"{dst}/{name}.parquet", t.schema)
        try:
            for i in range(factor):
                c = t
                if i:
                    for k in keys:
                        idx = c.schema.get_field_index(k)
                        shifted = pc.add(c.column(k), i * shifts[k])
                        c = c.set_column(idx, c.schema.field(idx), shifted)
                    if emb_np is not None:
                        import numpy as np

                        rng = np.random.default_rng(1000 + i)
                        q_mat, _ = np.linalg.qr(
                            rng.standard_normal((emb_width, emb_width))
                        )
                        rot = emb_np @ q_mat.astype(np.float32)
                        idx = c.schema.get_field_index("embedding")
                        n_rows = len(c)
                        col = pa.ListArray.from_arrays(
                            pa.array(
                                range(0, (n_rows + 1) * emb_width, emb_width),
                                type=pa.int32(),
                            ),
                            pa.array(rot.ravel(), type=pa.float32()),
                        ).cast(c.schema.field(idx).type)
                        c = c.set_column(idx, c.schema.field(idx), col)
                    if name == "documents":
                        # same degenerate-replication argument as the
                        # embeddings rotation, for TEXT ops: verbatim
                        # copies give every document factor-1 exact
                        # clones, so near-dup candidate pairs (MinHash
                        # buckets, SimHash bands, exact-dedup groups)
                        # grow Θ(factor²) — a fixture artifact no real
                        # corpus has (q112: 14M candidate pairs at 100×
                        # from clones alone). Each copy i>0 gets a per-copy
                        # word suffix (base-26 of i): word lengths,
                        # token counts and within-copy dup structure are
                        # preserved, while cross-copy shingle sets are
                        # disjoint — the shape fresh documents at a
                        # larger scale would have. Both engines read
                        # the same perturbed file.
                        import re

                        suf = ""
                        v = i
                        while True:
                            suf = chr(ord("a") + v % 26) + suf
                            v //= 26
                            if v == 0:
                                break
                        texts = c.column("text").to_pylist()
                        pat = re.compile(r"(\S+)")
                        texts = [
                            pat.sub(lambda m: m.group(1) + suf, s)
                            for s in texts
                        ]
                        idx = c.schema.get_field_index("text")
                        c = c.set_column(
                            idx,
                            c.schema.field(idx),
                            pa.array(texts, type=pa.string()),
                        )
                writer.write_table(c, row_group_size=FACT_ROW_GROUP)
        finally:
            writer.close()


def time_spark(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    # Arrow materialization on both engines (see benchlib.materialize):
    # q20's 2.9M-row result costs 18 s through row pickling vs 1.1 s of
    # compute — collect-based timing measures the serializer.
    from dask_cuml_spark.benchlib import materialize

    # bench_layouts' disk/GC protocol (r9 q02 campaign, ported r11
    # after the q134 1000x leg filled the disk): each fresh-plan run
    # strands the previous run's shuffle files until a JVM GC lets
    # ContextCleaner delete them — 10-20 GB/run at 1000x. A System.gc()
    # between runs (BEFORE the timer starts) bounds stranded spill to
    # ~one run's worth.
    big = _GC_FACTOR_AT_LEAST is not None and spark is not None

    def _gc():
        if big:
            spark.sparkContext._jvm.System.gc()

    out = {}
    for n in names:
        materialize(QUERIES[n](spark, sf_dir))  # warm plan/codegen
        best = float("inf")
        for _ in range(3):  # min-of-3: single-run noise on this box is 2-3x
            _gc()
            t0 = time.perf_counter()
            materialize(QUERIES[n](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        out[n] = round(best, 4)
        _gc()
    return out


#: set by main() for factors >= 300 — enables the GC-between-runs
#: protocol in time_spark (no-op at small factors: a forced full GC
#: costs ~0.1 s of pause the fixture-scale numbers shouldn't carry)
_GC_FACTOR_AT_LEAST = None


# DuckDB-side skips: q45's oracle is a Θ(n²) expression-fold all-pairs
# (298 s at 10×, ~45 min at 30×) — above this factor only the Spark side
# is timed and the ratio is recorded as null. The 10× row already
# documents the crossover (0.01×, Spark 3.3 s vs DuckDB 298 s).
# q77's oracle is the same shape (all-pairs distance filter feeding a
# recursive CTE): 16.7 s at 1× and Θ(n²·d) → ≥ 28 min at 10×.
SKIP_DUCK_ABOVE = {
    "q45_cosine_near_dup": 10,
    # the oracle's candidate stage is an ALL shared-shingle pairwise
    # join (the inter CTE) — measured at 100x: the DuckDB process was
    # OOM-killed at 107 GB RSS building the (pa, pb) group table while
    # Spark's banded+verified side sat at 5.7 GB. 30x is the last
    # comparable point; beyond it the rows record the Spark-side curve
    "q151_paragraph_near_dup": 30,
    # q154's oracle is an ALL-PAIRS cross join (n² window rows): the 1x
    # leg (25M pairs, ~30 s) is the comparable point; scaled rows
    # record the Spark-side one-pass-kernel curve only
    "q154_triplet_mining": 1,
    "q77_dbscan": 1,
    # same all-pairs recursive-CTE oracle shape as q77: Θ(n²) pair
    # candidates (4e8 distance evals at 10×) — the 1× row is the
    # comparable point; scaled rows record the Spark-side curve
    "q120_dbscan_blocked": 1,
    # oracle's within-cluster pair scan is an expression fold over
    # Θ(Σ|cluster|²) pairs: 6.4 s at 10×, quadratic per cluster → ~11 min
    # at 100× while the grouped GEMM finishes in seconds
    "q108_semantic_dedup": 10,
    # both pipelines' exact-verification oracles measured 15-22 s at
    # 100x and grow with the survivor cross-section; beyond 100x the
    # rows record the Spark-side curve (the oracle's last comparable
    # point is 100x: q105 0.28x, q112 0.30x)
    "q105_curation_pipeline": 100,
    "q112_incremental_dedup": 100,
    # measured comparable through 300x (0.98x there, 12.2 s vs 12.5 s);
    # the tri CTE explode grows linearly for both engines, so beyond
    # 300x the row records the Spark-side curve only
    "q114_ngram_language_id": 300,
    # measured r11: the 1000x oracle (650 M gram STRINGS through a
    # group-by-HAVING + back-join + two windows) spilled >25 GB of
    # duckdb_temp_storage and had not completed ONE timed run after
    # ~20 min when the disk budget ran out — 100x (7.98 s, 0.42x with
    # the gram layout) is the last comparable point; beyond it the row
    # records the Spark-side curve, whose shuffle keys stay 8 bytes
    "q134_exact_substring_dedup": 100,
    "q139_decontaminate_spans": 100,
    # q148's oracle builds the IDENTICAL 650 M gram-string frame as
    # q134's (same g CTE; one group-by + back-join on it) — the part
    # q134's r11 measurement showed spilling >25 GB before one timed
    # run; beyond 100x the row records the Spark-side curve (8-byte
    # hash keys, bucket-local under the gram layout)
    "q148_ngram_novelty": 100,
    # measured r11: at 100x the covered/kept anti-join (65 M grams ×
    # L-token UNNEST ranges) grew DuckDB past 44 GB RSS and died in
    # OutOfMemoryException ("bad allocation") before one timed run
    "q136_apply_span_dedup": 30,
    # clone-artifact quadratic for BOTH engines (clusters = factor
    # copies, pairs Θ(factor²) — the q45 convention). Measured curve
    # while comparable: 2.62x (1x) -> 0.36x (10x) -> 0.14x (30x):
    # banded LSH + pre-contracted CC WIDENS its lead with scale vs the
    # exact self-join + recursive CTE
    "q135_near_dup_canonicalize": 30,
}

# Tail rows whose DuckDB "oracle" is an O(1) invariant check (q76/q82:
# sub-ms constant aggregates) or a different execution model entirely
# (q93: batch interval-join SQL vs the full micro-batch streaming
# harness). A wall-clock ratio against those is meaningless; the row
# records the Spark-side scaling curve only.
ORACLE_NOT_COMPARABLE = {
    "q137_pq_quantization": (
        "oracle is an O(1) invariant row — the Spark side trains m=8 "
        "Lloyd codebooks, encodes every vector, AND re-derives every "
        "argmin through an independent numpy path; row records "
        "Spark-side scaling only"
    ),
    "q138_pq_adc_search": (
        "oracle is an O(1) invariant row — the Spark side trains PQ, "
        "ADC-scans all codes, exact-re-ranks the shortlist AND runs "
        "the in-query exact-kNN baseline for the rank/recall checks; "
        "row records Spark-side scaling only"
    ),
    "q141_ivfpq_search": (
        "oracle is an O(1) invariant row — the Spark side fits the "
        "coarse quantizer + PQ codebooks, encodes, ADC-scans the "
        "probed cells, exact-re-ranks AND runs the in-query exact-kNN "
        "baseline; row records Spark-side scaling only"
    ),
    "q145_signhash_ann": (
        "oracle is an O(1) invariant row — the Spark side hashes the "
        "corpus (GEMM signature kernel), Hamming-ranks, exact-re-ranks "
        "the shortlist AND runs the in-query exact-kNN baseline for "
        "the rank/recall checks; row records Spark-side scaling only"
    ),
    "q128_image_decode_stats": (
        "oracle is an injected-expectation closed form — DuckDB does "
        "NO image work while Spark PNG-encodes AND -decodes every "
        "payload through the real codec; row records Spark-side "
        "decode throughput scaling only"
    ),
    "q152_phash_image_near_dup": (
        "oracle computes the GENERATIVE truth (a window min over the "
        "closed-form img_key) — DuckDB does no image work while Spark "
        "PNG-encodes, strict-decodes, dHashes, bands, and verifies "
        "every payload; row records Spark-side pipeline scaling only"
    ),
    "q76_kmeans_fit": (
        "oracle is an O(1) invariant check — ratio not meaningful; "
        "row records Spark-side scaling only"
    ),
    "q82_lsh_knn": (
        "oracle is an O(1) invariant check — ratio not meaningful; "
        "row records Spark-side scaling only"
    ),
    "q93_stream_stream_join": (
        "oracle is batch interval-join SQL; Spark side times the full "
        "micro-batch streaming harness — row records Spark-side "
        "scaling only"
    ),
    "q103_simhash_near_dup": (
        "oracle is an invariant check (exact dups at hamming 0 — "
        "sub-0.1 s at every factor); row records the Spark side's "
        "near-linear scaling of the full banded SimHash (1.6 s at 1x "
        "-> 3.5 s at 100x)"
    ),
    "q111_clustered_layout": (
        "Spark side WRITES the range-clustered parquet copy and reads "
        "it back (the operator under test); oracle only filters the "
        "source table — row records Spark-side scaling only"
    ),
    "q115_ivf_partial_probe": (
        "oracle is an O(1) invariant check; the Spark side runs BOTH "
        "the partial-probe search AND an in-query exact-kNN baseline "
        "for the recall/rank invariants — row records Spark-side "
        "scaling only"
    ),
    "q118_knn_graph": (
        "oracle is an O(1) invariant check (count constants); the "
        "Spark side builds the FULL kNN graph (IVF self-search over "
        "every vector) plus the sampled exact-kNN recall check — row "
        "records the Spark-side build curve; at factor>1 n_cells is "
        "scaled ∝ n (cell size held ~constant, the production IVF "
        "posture) and candidate_edges records the measured probed-"
        "candidate total, which should grow ~linearly"
    ),
    "q161_audio_fingerprint": (
        "oracle computes the GENERATIVE truth closed-form from doc_id "
        "— DuckDB does no audio work while Spark synthesizes, frames "
        "and peak-detects every 16 KB PCM payload through the real "
        "binary pipeline; row records Spark-side throughput only"
    ),
    "q163_video_scene_cuts": (
        "oracle computes the GENERATIVE truth (planted cut list) "
        "closed-form from doc_id — DuckDB does no video work while "
        "Spark PNG-encodes, strict-decodes and dHashes 16 frames per "
        "doc and sweeps the lag window; row records Spark-side "
        "frame-pipeline throughput only"
    ),
    "q156_triplet_mining_ann": (
        "oracle is an invariant row (exact COUNT + pinned flags); the "
        "Spark side fits/probes the IVF index, runs the class-masked "
        "argmin over every probed cell AND the 20-anchor exact sample "
        "for the rank-domination/margin-agreement checks — row records "
        "the Spark-side mining curve (q118's n_cells ∝ n patch "
        "applies, candidate_pairs records the probed-pair volume; "
        "compare against q154's all-pairs curve)"
    ),
}

# Rows whose ratio is real but measures a deliberately conservative
# configuration — annotated, not nulled (r6 verdict task 7).
RATIO_CAVEATS = {
    "q157_weighted_sample": (
        "floor-bound (BASELINE.md floor budget): the Spark absolute is "
        "FLAT at ~0.18 s from 1x to 100x (one narrow scan + "
        "TakeOrderedAndProject = one action's scheduling floor) while "
        "DuckDB's absolute is 0.005-0.03 s — the ratio measures the "
        "0.16 s action floor, not plan quality; re-examine only if the "
        "Spark absolute regresses past ~1.5 s"
    ),
    "q131_int8_quantization": (
        "Spark higher-order functions are CodegenFallback (interpreted "
        "per element) while DuckDB's list ops are vectorized — the "
        "1.2 s absolute is that interpreter tax on 12.8M elements plus "
        "the 0.16 s action floor. The 100 TB posture swaps the same "
        "math into the Arrow/numpy kernel path (operators/gemm.py "
        "style) where quantization is a ~50 ms BLAS-free vector op "
        "per 200k-row batch; the expression form is kept registered "
        "because it is the oracle-exact, zero-dependency shape"
    ),
    "q129_quality_model_score": (
        "ratio measures the ORACLE-REPLAYABLE bucketizer (positional "
        "char-code polynomial both engines can state exactly); the "
        "production swap — xxhash64(tok) % V, same plan shape — "
        "measured 1.32 s at 100x (0.92x, beats DuckDB) and 21.6 s at "
        "1000x (1.93x at 5M docs / 125M tokens), min-of-3 fresh-plan. "
        "The delta is the per-char lambda tax paid only for oracle "
        "parity"
    ),
    "q149_bloom_decontamination": (
        "ratio measures the ORACLE-REPLAYABLE mode: portable ascii-fold "
        "gram keys let DuckDB reproduce the filter bit-for-bit "
        "(including false positives). Each token is char-folded once "
        "per document into a tid, (a*31 + ascii(c)) % 1000003, and each "
        "gram key is an integer fold of its 5-tid slice, the oracle's "
        "own CTE shape: per-char work is linear in the corpus text, and "
        "grams cost 5 integer steps each (30x documents, min-of-3 on "
        "4 cores: 9.4-11.2 s over three runs, against 90.5 s for the "
        "earlier fold once per distinct gram string). The production swap "
        "bloom_decontaminate(key_mode='xxhash64') is the same plan with "
        "gram key = xxhash64(slice) and no per-char work; the portable "
        "mode is kept registered because it is the oracle-exact shape"
    ),
    "q47_ivf_search_full_probe": (
        "ratio measures an ORACLE-FIDELITY configuration, not an ANN "
        "operating point: full probe (nprobe == n_cells) re-scans the "
        "whole corpus so the result is exactly brute-force kNN and the "
        "SQL oracle stays full-value — the engine pays k-means fit + "
        "every-cell probe while DuckDB brute-forces 10 query vectors. "
        "The ANN ratio row is q115 (partial probe, the real operating "
        "point)"
    ),
    "q124_embedding_outliers": (
        "scale-invariant wall (1.26 s at 1x, 1.37 s at 100x): the "
        "two-pass exact design pays 3 Spark actions (dim probe, "
        "centroid agg, dist+percentile plan) so the local wall is "
        "action-floor-dominated per BASELINE's measured ~0.16 s/action "
        "budget; the data term is negligible at these sizes, which is "
        "the point — the plan is two scans + one 64-value allreduce at "
        "any corpus size"
    ),
}


def tune_q77_eps(factor: int) -> float:
    """Constant-degree ε for the scaled DBSCAN rows.

    The fixture's sub-ε pair fraction at ε=1.18 (~0.7%) is mostly the
    random-pair tail of near-orthogonal 64-dim vectors, so ε-graph edges
    grow Θ(n²) under ANY honest scale-up of this distribution — that is
    a property of fixed-ε DBSCAN, not of an engine. Practitioners re-tune
    ε from the k-dist elbow at their data's scale; this mirrors that:
    pick ε_f as the (frac_1x / factor)-quantile of the base pairwise
    distance distribution, holding expected average degree constant
    (≈13.6 on this fixture). Cross-copy pairs after the per-copy random
    rotation follow the same near-orthogonal distance law, so the base
    quantile transfers to the scaled cloud."""
    import numpy as np

    import dask_cuml_spark.queries.pandas_udfs as pu

    t = pq.read_table(f"{SRC}/embeddings.parquet")
    flat = t.column("embedding").combine_chunks()
    vals = flat.flatten().to_numpy(zero_copy_only=False)
    v = vals.reshape(len(t), len(vals) // len(t)).astype(np.float32)
    sq = (v * v).sum(1)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (v @ v.T)
    iu = np.triu_indices(len(v), 1)
    d = np.sqrt(np.maximum(d2[iu], 0))
    base_frac = float((d < pu._Q77_EPS).mean())
    return float(np.quantile(d, base_frac / factor))

# Spark-side skips: q45 is Θ(n²) for BOTH engines (the blocked GEMM is
# ~100× faster than DuckDB's expression fold but still quadratic — 61 s
# at 30×, ~11 min at 100×). Beyond 30× the declared scale path is LSH /
# banded near-dup (q78/q82/q103), so the brute-force row is skipped
# rather than burning a bench slot proving a known quadratic.
SKIP_SPARK_ABOVE = {
    "q45_cosine_near_dup": 30,
    # same clone artifact as its DuckDB cap: candidate buckets densify
    # Θ(factor²) on replicated text for ANY engine
    "q135_near_dup_canonicalize": 30,
    # exact all-pairs mining is Θ(n²) by definition — 124 s at 30×
    # (22.5G pairs) is the measured wall and the whole motivation for
    # q156's ANN candidate side (3.17 s at 30×, linear); past 30× run
    # q156, the bounded production path
    "q154_triplet_mining": 30,
}


def time_duck(sf_dir: str, names: list[str]) -> dict[str, float]:
    con = duckdb_connection(sf_dir)
    out = {}
    try:
        for n in names:
            # per-query isolation (r11: the q136 100x oracle OOM'd
            # DuckDB — "bad allocation" after >40 GB — and the bare
            # exception killed the invocation WITH the finished Spark
            # timings; a failed oracle is a finding, not a crash)
            try:
                con.execute(ORACLES[n]).arrow()  # warm
                best = float("inf")
                for _ in range(3):  # min-of-3, same as the Spark side
                    t0 = time.perf_counter()
                    con.execute(ORACLES[n]).arrow()
                    best = min(best, time.perf_counter() - t0)
                out[n] = round(best, 4)
            except Exception as exc:  # noqa: BLE001 — keep the leg alive
                print(
                    f"duckdb {n} FAILED: {type(exc).__name__}: "
                    f"{str(exc)[:200]}",
                    file=sys.stderr,
                )
                out[n] = None
    finally:
        con.close()
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    factor = int(args[0]) if args else 10
    suite = HEADLINE
    if "--tail" in sys.argv:
        suite = TAIL
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            suite = a[len("--only="):].split(",")
    dst = f"/tmp/graft_scale{factor}"
    facts = None
    if suite is not HEADLINE:
        known = [TABLES_FOR.get(n) for n in suite]
        if all(known):
            facts = set().union(*known)
    t0 = time.perf_counter()
    build_scaled(dst, factor, facts)
    if time.perf_counter() - t0 > 1:
        print(
            f"built {factor}x dataset in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ and factor >= 300:
        # size partitions to the data via the rule, not a hand knob
        # (r9; the 300× q02 AGGREGATE_OUT_OF_MEMORY lesson)
        from dask_cuml_spark.plans.cost import suggest_shuffle_partitions

        paths = [
            f"{dst}/{t}.parquet"
            for t in (facts or FACT_SHIFTS)
            if os.path.exists(f"{dst}/{t}.parquet")
        ]
        parts = suggest_shuffle_partitions(*paths)
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(parts)
        print(f"shuffle partitions (rule): {parts}", file=sys.stderr)
    spark = get_spark("dask_cuml_spark-scalebench")
    if factor >= 300:
        global _GC_FACTOR_AT_LEAST
        _GC_FACTOR_AT_LEAST = factor
    from dask_cuml_spark.io import enable_table_cache

    enable_table_cache(True)
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALEBENCH.json"
    )
    # merge with prior factors so the ratio-vs-scale trend accumulates
    # across invocations (1x, 10x, 30x, ...)
    results = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f)
    for label, d, fac in [("1x", SRC, 1), (f"{factor}x", dst, factor)]:
        duck_names = suite if fac == 1 else [
            n for n in suite if fac <= SKIP_DUCK_ABOVE.get(n, 10**9)
        ]
        spark_names = suite if fac == 1 else [
            n for n in suite if fac <= SKIP_SPARK_ABOVE.get(n, 10**9)
        ]
        # q77 at factor>1 runs with the constant-degree ε for that scale
        # (see tune_q77_eps) — patched around the timing calls so the 1×
        # row and the correctness gate keep the registered ε.
        q77_eps = None
        if "q77_dbscan" in spark_names and fac > 1:
            import dask_cuml_spark.queries.pandas_udfs as pu

            q77_eps = tune_q77_eps(fac)
            saved_eps = pu._Q77_EPS
            pu._Q77_EPS = q77_eps
        # q118 at factor>1 holds CELL SIZE ~constant (n_cells ∝ n, the
        # production IVF posture — FAISS guidance n_cells ~ √n..n/256)
        # so the claimed-linear build curve is measured at a fixed
        # per-cell workload, not a quadratically densifying one. The
        # patch would change q47/q115's configuration too (they share
        # _fitted_ivf), so a scaled q118 run must be --only.
        # q120 at factor>1: constant-degree ε by closed form — blob
        # density is uniform in a 4-D unit box, so the ε holding the
        # expected neighbor count fixed scales as factor^(-1/4) (the
        # same practitioner re-tune tune_q77_eps does empirically for
        # the orthogonal cloud, but exact here by construction).
        q120_eps = None
        if "q120_dbscan_blocked" in spark_names and fac > 1:
            import dask_cuml_spark.queries.pandas_udfs as pu120

            q120_eps = round(0.5 * fac ** -0.25, 4)
            saved_q120_eps = pu120._Q120_EPS
            pu120._Q120_EPS = q120_eps
        q118_cells = None
        _ivf_consumers = {"q118_knn_graph", "q156_triplet_mining_ann"}
        if _ivf_consumers & set(spark_names) and fac > 1:
            assert not (
                {"q47_ivf_search_full_probe", "q115_ivf_partial_probe"}
                & set(spark_names)
            ), "run scaled q118/q156 via --only (n_cells patch is shared)"
            import dask_cuml_spark.queries.vector as vec

            # default posture: n_cells ∝ n (cell size held constant);
            # --q118-sqrt switches to the k ∝ √n production scaling
            # (IVFIndex n_cells='sqrt', r7 verdict task 7 — the Θ(n·k)
            # quantizer term drops from Θ(n²/cell) to Θ(n^1.5))
            q118_cells = "sqrt" if "--q118-sqrt" in sys.argv else 8 * fac
            saved_cells = vec._IVF_N_CELLS
            vec._IVF_N_CELLS = q118_cells
        try:
            s = time_spark(spark, d, spark_names)
            # candidate-edge accounting for the q118 row: measured sum
            # of probed-cell sizes over ALL queries (the graph build's
            # true pair-scan volume) — should grow ~linearly when cell
            # size is held constant. Uses the memoized index the timed
            # runs just built, so this costs two tiny jobs.
            if _ivf_consumers & set(spark_names):
                import dask_cuml_spark.queries.vector as vec
                from dask_cuml_spark.io import load_table
                from pyspark.sql import functions as F

                idx = vec._fitted_ivf(spark, d)
                # resolved cell count ('sqrt' resolves at fit time)
                q118_cells_resolved = idx.n_cells_
                csz = idx.cells_.groupBy("cell_id").agg(
                    F.count(F.lit(1)).alias("csz")
                )
                allq = load_table(spark, d, "embeddings").select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                )
                # q118 and q156 both probe nprobe=2, so one accounting
                # serves both rows (probed-cell sizes summed over ALL
                # queries/anchors = the true pair-scan volume)
                q118_cand = int(
                    idx.probes(allq, 2, "qv")
                    .join(csz, "cell_id")
                    .agg(F.sum("csz"))
                    .collect()[0][0]
                )
        finally:
            if q77_eps is not None:
                pu._Q77_EPS = saved_eps
            if q118_cells is not None:
                vec._IVF_N_CELLS = saved_cells
            if q120_eps is not None:
                pu120._Q120_EPS = saved_q120_eps
        k = time_duck(d, duck_names)
        # merge per-query so tail runs extend, not replace, prior rows
        results.setdefault(label, {})
        for n in suite:
            row = {
                "duckdb_sec": k.get(n),
                "spark_sec": s.get(n),
                "ratio": (
                    round(s[n] / k[n], 2)
                    if k.get(n) and s.get(n)
                    else None
                ),
            }
            if n not in duck_names:
                row["note"] = (
                    "duckdb oracle skipped: projected runtime above the "
                    "bench budget at this factor (see SKIP_DUCK_ABOVE)"
                )
            if n not in spark_names:
                row["note"] = (
                    "both engines skipped: super-linear brute-force shape "
                    "at this factor; see SKIP_SPARK_ABOVE comment"
                )
            if n in ORACLE_NOT_COMPARABLE:
                row["ratio"] = None
                row["note"] = ORACLE_NOT_COMPARABLE[n]
            if n in RATIO_CAVEATS:
                row["note"] = RATIO_CAVEATS[n]
            if n == "q118_knn_graph" and n in spark_names:
                row["n_cells"] = (
                    q118_cells_resolved if q118_cells is not None else 8
                )
                row["candidate_edges"] = q118_cand
            if n == "q156_triplet_mining_ann" and n in spark_names:
                row["n_cells"] = (
                    q118_cells_resolved if q118_cells is not None else 8
                )
                row["candidate_pairs"] = q118_cand
            if n == "q120_dbscan_blocked" and q120_eps is not None:
                row["eps"] = q120_eps
                row["note"] = (
                    "constant-degree eps (0.5 * factor^-0.25 for "
                    "uniform 4-D blob density; generator validated "
                    "against true-uniform sampling, degree 30.9 vs "
                    "30.8 at 100x); duckdb oracle is the q77-shaped "
                    "all-pairs recursive CTE — 1x is its comparable "
                    "point. The exact-strategy road-not-taken was "
                    "attempted and DNFs by design: the all-pairs "
                    "kernel's norm-based prune has no usable axis on "
                    "blob geometry and dies in Arrow allocation at 30x "
                    "emitting ~all Theta(n^2) candidates (see "
                    "bench_scale.py comment); the blocked path "
                    "materializes Theta(n*probed*cell) = 6.17M pairs "
                    "at 100x instead of 4e10"
                )
            if n == "q77_dbscan" and q77_eps is not None:
                row["eps"] = round(q77_eps, 4)
                row["note"] = (
                    "constant-degree eps (see tune_q77_eps); duckdb "
                    "oracle DNF above 1x: its all-pairs recursive CTE "
                    "is Theta(n^2 d) — 16.7 s at 1x, >= 28 min at 10x"
                )
            # the sqrt-cells q118 run records under its own key so the
            # n_cells ∝ n curve and the k ∝ √n operating point coexist
            if n == "q118_knn_graph" and q118_cells == "sqrt":
                results[label]["q118_knn_graph_sqrt_cells"] = row
            else:
                results[label][n] = row
        # q02 branch evidence (verdict r4 task 6): record which join
        # shape the cost gate picked, and when the eager-agg branch
        # fires, also time the road-not-taken so the win is measured,
        # not asserted.
        if "q02_revenue_by_nation" in spark_names:
            import dask_cuml_spark.queries.relational as rel
            from dask_cuml_spark.plans import cost

            row = results[label]["q02_revenue_by_nation"]
            row["branch"] = rel.q02_plan_branch(spark, d)
            if row["branch"] != "direct":
                # time the roads not taken so the gate's choice is
                # measured, not asserted (r4 task 6; extended r7 for
                # the three-branch gate)
                saved_e = cost.Q02_DIRECT_MAX_ORDERS_BYTES
                saved_b = cost.Q02_BCAST_MAX_CUSTOMER_BYTES
                try:
                    cost.Q02_DIRECT_MAX_ORDERS_BYTES = 1 << 60
                    row["direct_branch_spark_sec"] = time_spark(
                        spark, d, ["q02_revenue_by_nation"]
                    )["q02_revenue_by_nation"]
                    cost.Q02_DIRECT_MAX_ORDERS_BYTES = 1
                    if row["branch"] == "bcast-cmap":
                        cost.Q02_BCAST_MAX_CUSTOMER_BYTES = 0
                        row["eager_agg_branch_spark_sec"] = time_spark(
                            spark, d, ["q02_revenue_by_nation"]
                        )["q02_revenue_by_nation"]
                    else:
                        cost.Q02_BCAST_MAX_CUSTOMER_BYTES = 1 << 60
                        row["bcast_cmap_branch_spark_sec"] = time_spark(
                            spark, d, ["q02_revenue_by_nation"]
                        )["q02_revenue_by_nation"]
                finally:
                    cost.Q02_DIRECT_MAX_ORDERS_BYTES = saved_e
                    cost.Q02_BCAST_MAX_CUSTOMER_BYTES = saved_b
        # q120 exact road-not-taken: ATTEMPTED and recorded as a
        # finding instead of a number. strategy='exact' routes the same
        # blob data through _eps_pairs' all-pairs blocked GEMM, whose
        # in-kernel prune threshold is NORM-based (built for the
        # unit-norm embedding fixture); on blob geometry (norms 0.3 →
        # 20) the safe threshold collapses below every pair's dot
        # product, the kernel emits ~all Θ(n²) candidate rows, and the
        # run dies in Arrow allocation at 30× (3.6e9 pair rows) before
        # any timing exists. That failure mode IS the measurement: an
        # all-pairs formulation materializes Θ(n²) candidates on data
        # without a usable prune axis, while the cell-blocked path
        # materializes Θ(n·probed·cell) — 6.17M pairs at 100×
        # (pair-scan phase 7-17 s, full query ~55 s incl. the shared
        # CC). q77's 104.7 s / OOM-free exact row on ITS unit-norm data
        # remains the exact-path reference point.
        # checkpoint after EVERY leg (r11): the q134 1000x invocation
        # lost 30 min of Spark timings when the DuckDB leg died on a
        # full disk with everything still in memory
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()

    def med(label):
        # .get: auxiliary rows (q118's sqrt-cells record, duck-skipped
        # Spark-only rows) carry no ratio and must not crash the summary
        rs = sorted(
            v["ratio"]
            for v in results[label].values()
            if v.get("ratio")
        )
        return rs[len(rs) // 2]

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "spark_over_duckdb_median_ratio",
                "ratio_1x": med("1x"),
                f"ratio_{factor}x": med(f"{factor}x"),
                "queries": len(suite),
                "detail": "SCALEBENCH.json",
            }
        )
    )


if __name__ == "__main__":
    main()
