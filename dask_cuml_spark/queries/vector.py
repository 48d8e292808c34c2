"""Vector / neighbor / clustering operators (SURVEY.md §2A A1/A4/A10,
§2D D3/D9): brute-force kNN, centroid assignment, one Lloyd iteration,
cosine top-k, cosine near-dup self-join, kNN-classifier vote, multimodal
document×embedding join.

Reference parity: dask_cuml/neighbors/nearest_neighbors.py (brute-force
shards + global top-k merge) and dask_cuml/cluster/kmeans.py (per-GPU
partials + centroid allreduce) [SURVEY §3.1, §3.2] — here the "shard-local
top-k then merge" is exactly Spark's window-ranking after AQE, and the
centroid allreduce is a partial+final groupBy aggregate.

Scale notes: the query side is broadcast (few rows) so the candidate scan
is a single map stage — no shuffle of the big side; the window top-k
partitions by query_id. At 100 TB candidates, swap the crossJoin for the
LSH-bucketed variant in operators/knn.py.

All distances use functions.vector (double-precision fold — bitwise equal
to the DuckDB list-lambda oracle; verified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_cuml_spark.functions.vector import (
    dot,
    l2_sq,
    l2_sq_sql,
    rows_lit,
    sql_lit,
)
from dask_cuml_spark.io import load_table
from dask_cuml_spark.plans.cost import embeddings_strategy, session_state
from dask_cuml_spark.registry import register

#: the source of every embeddings-derived session state
_EMB = ("embeddings.parquet",)

# DuckDB lambda equivalents of functions.vector (kept textually in sync).
_SQL_L2SQ = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
)
_SQL_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)



def _par(df):
    """Spread the candidate side across all cores: the fixture is one
    parquet row-group (1 partition), which would serialize the whole
    broadcast-NLJ scan onto a single task (measured 4x win at sf0.1)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)

# ---------------------------------------------------------------------------
# q40 — brute-force kNN (A4): 20 queries × all vectors, global top-5 by
# (L2, id). Reference: FAISS per shard + distance-ordered merge.
# ---------------------------------------------------------------------------
@register(
    "q40_knn_bruteforce",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), pairs AS (
  SELECT query_id, neighbor_id,
         {_SQL_L2SQ.format(a="qv", b="cv")} AS dist_sq
  FROM q, c
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, ROUND(SQRT(dist_sq), 6) AS dist, rk
FROM (
  SELECT query_id, neighbor_id, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist_sq, neighbor_id) AS rk
  FROM pairs
) t
WHERE rk <= 5
""",
)
def q40_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 5: the shared operator's GEMM strategy — one BLAS call per
    # candidate Arrow batch, shuffle carries batches × |Q| × k rows
    # instead of |C| × |Q| pairs (2.4 s → sub-second at 100×); the
    # expression plan remains as strategy='expr' and the numpy parity
    # test covers both.
    from dask_cuml_spark.operators.knn import brute_force_knn

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    out = brute_force_knn(q, _par(c), k=5, exclude_same_id=True)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rk",
    )


# ---------------------------------------------------------------------------
# q41 — k-means centroid assignment (A1 predict step): argmin-distance to
# 10 given centroids (first 10 vectors), deterministic (dist, cid) order.
# ---------------------------------------------------------------------------
@register(
    "q41_centroid_assignment",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < 10
), pairs AS (
  SELECT e.vec_id, cent.centroid_id,
         {_SQL_L2SQ.format(a="e.embedding", b="cent.cv")} AS dist_sq
  FROM embeddings e, cent
)
SELECT vec_id, centroid_id, ROUND(SQRT(dist_sq), 6) AS dist
FROM (
  SELECT vec_id, centroid_id, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist_sq, centroid_id) AS rk
  FROM pairs
) t
WHERE rk = 1
""",
)
def q41_centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Assignment is a NARROW per-row argmin, not a join: collecting the
    # k centroids (model state, the k-means broadcast pattern) and
    # folding them as one literal table turns the join shape
    # (crossJoin ×k row expansion + row_number window = a k·n-row
    # shuffle) into a zero-shuffle select — measured 0.79 → 0.35 s at
    # sf0.1 and 1.75 → 1.23 s at 100×, and at 100 TB the shuffle it
    # deletes is k× the corpus. array_position takes the FIRST min, so
    # ties break to the lowest centroid_id exactly like the oracle's
    # ORDER BY dist_sq, centroid_id.
    from dask_cuml_spark.functions.vector import array_lit

    e = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        e.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    cents = sql_lit([[float(v) for v in r.embedding] for r in rows])
    ids = array_lit([r.vec_id for r in rows])
    dists = F.expr(f"transform({cents}, c -> {l2_sq_sql('embedding', 'c')})")
    md = F.array_min(dists)
    cid = F.element_at(ids, F.array_position(dists, md).cast("int"))
    return _par(e).select(
        "vec_id",
        cid.alias("centroid_id"),
        F.round(F.sqrt(md), 6).alias("dist"),
    )


# ---------------------------------------------------------------------------
# q42 — one Lloyd iteration (A1 update step): assignment → per-(centroid,
# dimension) mean. This is the reference's per-iteration allreduce as a
# partial+final aggregate (SURVEY §3.1 step 5).
# ---------------------------------------------------------------------------
@register(
    "q42_lloyd_iteration",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < 10
), assign AS (
  SELECT vec_id, centroid_id, embedding
  FROM (
    SELECT e.vec_id, cent.centroid_id, e.embedding,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQL_L2SQ.format(a="e.embedding", b="cent.cv")},
                      cent.centroid_id) AS rk
    FROM embeddings e, cent
  ) t WHERE rk = 1
), dims AS (
  SELECT centroid_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(UNNEST(embedding) AS DOUBLE) AS val
  FROM assign
)
SELECT centroid_id, pos, ROUND(AVG(val), 6) AS new_center,
       COUNT(*) AS n_members_dim
FROM dims
GROUP BY centroid_id, pos
""",
)
def q42_lloyd_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    w = Window.partitionBy("vec_id").orderBy("dist_sq", "centroid_id")
    assign = (
        _par(e).crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            "embedding",
            l2_sq("embedding", "cv").alias("dist_sq"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    dims = assign.select(
        "centroid_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "centroid_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    return dims.groupBy("centroid_id", "pos").agg(
        F.round(F.avg("val"), 6).alias("new_center"),
        F.count(F.lit(1)).alias("n_members_dim"),
    )


# ---------------------------------------------------------------------------
# q43 — cosine top-k similarity search (D3): unit-norm ⇒ cosine = dot.
# ---------------------------------------------------------------------------
@register(
    "q43_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), pairs AS (
  SELECT query_id, neighbor_id,
         {_SQL_DOT.format(a="qv", b="cv")} AS cos_sim
  FROM q, c
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 6) AS cos_sim, rk
FROM (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) t
WHERE rk <= 5
""",
)
def q43_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    pairs = (
        _par(c).crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dot("qv", "cv").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# q44 — multimodal row (D9): text + metadata + embedding carried through a
# join; array ops stay JVM-side.
# ---------------------------------------------------------------------------
@register(
    "q44_multimodal_join",
    oracle=f"""
SELECT d.doc_id, d.lang, d.n_chars, e.label,
       ROUND(CAST(e.embedding[1] AS DOUBLE), 6) AS e0,
       ROUND({_SQL_DOT.format(a="e.embedding", b="e.embedding")}, 6) AS norm_sq
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def q44_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        "label",
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
        F.round(dot("embedding", "embedding"), 6).alias("norm_sq"),
    )


# ---------------------------------------------------------------------------
# q45 — cosine near-dup self-join (D2 embedding variant): all pairs above
# a similarity threshold. Both engines compute bitwise-equal dots, so the
# threshold cut is deterministic.
# ---------------------------------------------------------------------------
@register(
    "q45_cosine_near_dup",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_SQL_DOT.format(a="a.embedding", b="b.embedding")}, 6) AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND {_SQL_DOT.format(a="a.embedding", b="b.embedding")} >= 0.35
""",
)
def q45_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dense all-pairs scan → blocked GEMM kernel (operators/gemm.py), the
    # per-partition Arrow/BLAS path: 14x faster than the expression fold
    # at sf0.1 and the shape that scales (A streams, B blocks broadcast).
    # float64 keeps the oracle's exact round-6 parity; the 100 TB
    # deployment flips dtype=np.float32 (half the replicate-shuffle
    # bytes, ~1e-6 relative error at the threshold — width test in
    # tests/test_operators.py).
    from dask_cuml_spark.operators.gemm import pairwise_similarity_above

    e = load_table(spark, sf_dir, "embeddings")
    pairs = pairwise_similarity_above(e, 0.35)
    return pairs.select(
        "id_a", "id_b", F.round("sim", 6).alias("cos_sim")
    )


# ---------------------------------------------------------------------------
# q46 — kNN classifier vote (A10): 5-NN majority label with deterministic
# (votes desc, label asc) tie-break.
# ---------------------------------------------------------------------------
@register(
    "q46_knn_classify",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, label
  FROM embeddings WHERE vec_id >= 20
), knn AS (
  SELECT query_id, neighbor_id, label
  FROM (
    SELECT query_id, neighbor_id, label,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY {_SQL_L2SQ.format(a="qv", b="cv")}, neighbor_id) AS rk
    FROM q, c
  ) t WHERE rk <= 5
), votes AS (
  SELECT query_id, label, COUNT(*) AS n_votes FROM knn GROUP BY query_id, label
)
SELECT query_id, label AS pred_label, n_votes
FROM (
  SELECT query_id, label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, label) AS rk
  FROM votes
) t WHERE rk = 1
""",
)
def q46_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "label",
    )
    wk = Window.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    knn = (
        _par(c).crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            l2_sq("qv", "cv").alias("dist_sq"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
    )
    votes = knn.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), "label"
    )
    return (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )


# ---------------------------------------------------------------------------
# q48 — k-means transform (A1 transform: full distance matrix to the k
# centroids — the reference's KMeans.transform output, long format).
# ---------------------------------------------------------------------------
@register(
    "q48_kmeans_transform",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < 10
)
SELECT e.vec_id, cent.centroid_id,
       ROUND(SQRT({_SQL_L2SQ.format(a="e.embedding", b="cent.cv")}), 6)
         AS dist
FROM embeddings e, cent
WHERE e.vec_id < 200
""",
)
def q48_kmeans_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return (
        _par(e.filter(F.col("vec_id") < 200))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            F.round(F.sqrt(l2_sq("embedding", "cv")), 6).alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# q47 — IVF index search, full probe (D3 scale path): coarse k-means
# cells + probe-then-rank. With nprobe == n_cells the result is EXACTLY
# brute-force kNN (self included), which gives the whole IVF machinery —
# coarse quantizer, cell assignment, probe selection, per-cell search,
# global merge — a full SQL oracle. Partial-probe recall is
# pytest-checked (tests/test_operators.py).
# ---------------------------------------------------------------------------
# 8 cells is the oracle-pinned fixture configuration (q47's full probe
# = exact kNN needs nprobe == n_cells == 8). bench_scale patches this
# ∝ scale factor for the q118 curve — production IVF holds CELL SIZE
# constant, not cell count (FAISS guidance: n_cells ~ √n to n/256).
_IVF_N_CELLS = 8


# codebook-training sample cap (r12: the r11 verdict's one weak item —
# pq_fit ran m Lloyd loops over the FULL corpus). 16_384 = 1024 train
# points per centroid at k=16, 4x FAISS's 256/centroid guidance; the
# 2_000-row sf0.1 fixture never hits it (codebooks bit-identical to the
# uncapped r11 fit), while the 100x/1000x scale legs train on a bounded
# deterministic hash-sample instead of 200k/2M vectors x ~40 passes.
_PQ_MAX_TRAIN_ROWS = 16_384


def _fitted_pq(spark: SparkSession, sf_dir: str, m: int = 8, k: int = 16):
    """The session's PQ codebooks over the embeddings fixture (the
    _fitted_ivf convention: a codebook is trained ONCE and encodes/
    serves many frames; re-running the m Lloyd driver loops per query
    times the fit, not the operator). Deterministic fit (first-k init,
    fixed iterations, hash-sampled above _PQ_MAX_TRAIN_ROWS) — a reuse
    returns bit-identical codebooks."""
    from dask_cuml_spark.operators.quantize import pq_fit

    def fit():
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        return pq_fit(e, m=m, k=k, max_train_rows=_PQ_MAX_TRAIN_ROWS)

    return session_state(spark, ("pq", m, k), sf_dir, _EMB, fit)


def _fitted_ivf(spark: SparkSession, sf_dir: str):
    """The session's IVF index over the embeddings fixture.

    An IVF index is built ONCE and queried many times; re-fitting the
    coarse quantizer per call is not how the operator is used, so the
    fitted index is session state — repeated bench / driver invocations
    time the search, not the fit. The fit itself is deterministic
    (first-k init, fixed iteration count)."""
    from dask_cuml_spark.operators.ivf import IVFIndex

    n_cells = _IVF_N_CELLS

    def fit():
        e = load_table(spark, sf_dir, "embeddings")
        return IVFIndex(n_cells=n_cells, kmeans_iters=3).fit(e)

    return session_state(spark, ("ivf", n_cells), sf_dir, _EMB, fit)


@register(
    "q47_ivf_search_full_probe",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), pairs AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_SQL_L2SQ.format(a="qv", b="c.embedding")} AS dist_sq
  FROM q, embeddings c
)
SELECT query_id, neighbor_id, ROUND(SQRT(dist_sq), 6) AS dist, rk
FROM (
  SELECT query_id, neighbor_id, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist_sq, neighbor_id) AS rk
  FROM pairs
) t
WHERE rk <= 5
""",
)
def q47_ivf_search_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = _fitted_ivf(spark, sf_dir).search(q, k=5, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("dist", 6).alias("dist"), "rk"
    )


# ---------------------------------------------------------------------------
# q115 — IVF search at the REAL operating point (nprobe ≪ n_cells): the
# configuration a production neighborhood-graph build would run, where
# probing p of c cells scans ~p/c of the corpus. q47 (full probe) keeps
# the full-value SQL oracle; this row proves the partial-probe search is
# well-formed and actually approximates exact kNN — q82-style provable
# invariants instead of a value oracle (the probe set depends on the
# k-means fit, which SQL can't replay cheaply): result shape, the
# self-point always found at rank 1 (a query's own cell is always its
# nearest probe), no approx result ever beating exact at the same rank,
# and recall vs in-query exact kNN above a pinned floor (measured ~0.6+
# at nprobe=2/8 on both fixtures; floor 0.40 leaves the same safety
# margin style as the LSH knee — see tests/test_lsh_margin.py ethos).
# ---------------------------------------------------------------------------
@register(
    "q115_ivf_partial_probe",
    oracle="""
SELECT CAST(10 AS BIGINT) AS n_queries,
       CAST(50 AS BIGINT) AS n_results,
       CAST(10 AS BIGINT) AS n_self_top1,
       CAST(0 AS BIGINT) AS n_rank_violations,
       1 AS recall_ok
""",
)
def q115_ivf_partial_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.knn import brute_force_knn

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    approx = (
        _fitted_ivf(spark, sf_dir)
        .search(q, k=5, nprobe=2)
        .localCheckpoint(eager=False)
    )
    exact = brute_force_knn(q, c, k=5, strategy="expr").localCheckpoint(eager=False)
    n_q = approx.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_results"),
        F.sum(
            ((F.col("rk") == 1) & (F.col("query_id") == F.col("neighbor_id")))
            .cast("long")
        ).alias("n_self_top1"),
    )
    # 1e-6 absolute epsilon: at 100× the cost gate flips the cell scan
    # to the GEMM kernel, whose summation order differs from the expr
    # baseline in the last ulps (the q82 lesson)
    rank = approx.join(
        exact.select("query_id", "rk", F.col("dist").alias("ed")),
        ["query_id", "rk"],
    ).agg(
        F.sum((F.col("dist") < F.col("ed") - 1e-6).cast("long")).alias(
            "n_rank_violations"
        )
    )
    hits = approx.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count(F.lit(1)).alias("_n_hits"))
    return (
        n_q.crossJoin(rank)
        .crossJoin(hits)
        .select(
            "n_queries",
            "n_results",
            "n_self_top1",
            "n_rank_violations",
            F.when(F.col("_n_hits") / F.col("n_results") >= 0.40, 1)
            .otherwise(0)
            .cast("int")
            .alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# q118 — kNN-GRAPH construction (D3 at corpus scale): top-k neighbors for
# EVERY vector, the neighborhood-graph primitive under SemDeDup-style
# clustering dedup and graph-based ANN. Built as IVF self-search with the
# whole table as the query side — the cogrouped GEMM path shuffles on
# cell_id only (queries are never broadcast or crossJoined), so edge
# candidates are Θ(n · nprobe · n/n_cells), not n² — and like q108's
# cluster count, production keeps CELL SIZE fixed (n_cells ∝ n, cells of
# a few thousand vectors), making the build linear in n; the fixture's
# n_cells=8 is pinned only so the fit is cheap and deterministic.
# strategy='gemm' is
# FORCED rather than auto: the expr fallback's per-pair interpreted fold
# is fine for a handful of queries but a self-search is |Q| = n (100M
# pair folds already at sf0.1); the gate keys on the candidate side and
# cannot see that. Invariants in the q115 style, with the exact-kNN
# rank/recall checks on a 20-query sample (exact all-pairs for every
# node is the n² this operator exists to avoid).
# ---------------------------------------------------------------------------
@register(
    "q118_knn_graph",
    oracle="""
SELECT (SELECT COUNT(*) FROM embeddings) AS n_nodes,
       (SELECT COUNT(*) * 5 FROM embeddings) AS n_edges,
       (SELECT COUNT(*) FROM embeddings) AS n_self_top1,
       CAST(0 AS BIGINT) AS n_rank_violations,
       1 AS recall_ok
""",
)
def q118_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.knn import brute_force_knn

    e = load_table(spark, sf_dir, "embeddings")
    allq = e.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    graph = (
        _fitted_ivf(spark, sf_dir)
        .search(allq, k=5, nprobe=2, strategy="gemm")
        .localCheckpoint(eager=False)
    )
    sample = allq.filter(F.col("query_id") < 20)
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    exact = brute_force_knn(sample, c, k=5, strategy="expr").localCheckpoint(eager=False)
    totals = graph.agg(
        F.count_distinct("query_id").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(
            ((F.col("rk") == 1) & (F.col("query_id") == F.col("neighbor_id")))
            .cast("long")
        ).alias("n_self_top1"),
    )
    samp = graph.filter(F.col("query_id") < 20)
    rank = samp.join(
        exact.select("query_id", "rk", F.col("dist").alias("ed")),
        ["query_id", "rk"],
    ).agg(
        F.sum((F.col("dist") < F.col("ed") - 1e-6).cast("long")).alias(
            "n_rank_violations"
        )
    )
    hits = samp.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count(F.lit(1)).alias("_n_hits"))
    # recall denominator is the FIXED sample size (advisor r6): dividing
    # by count_distinct over the hits join would drop zero-overlap
    # queries from the denominator and inflate measured recall
    nsq = sample.agg(F.count(F.lit(1)).alias("_n_sq"))
    return (
        totals.crossJoin(rank)
        .crossJoin(hits)
        .crossJoin(nsq)
        .select(
            "n_nodes",
            "n_edges",
            "n_self_top1",
            "n_rank_violations",
            F.when(F.col("_n_hits") / (F.col("_n_sq") * 5) >= 0.40, 1)
            .otherwise(0)
            .cast("int")
            .alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# q108 — semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540 —
# public method): embed → cluster → prune near-duplicate pairs INSIDE each
# cluster only. The clustering bounds the quadratic: candidate pairs are
# Θ(Σ|cluster|²), not Θ(n²) — with balanced clusters that is n²/k, and at
# 100 TB the per-cluster pair scan becomes a cogrouped GEMM per cluster id
# (operators/gemm.py kernel keyed by cluster instead of block id). The
# assignment step is the q41 shape (broadcast centroids, one narrow pass);
# deterministic first-k centroid init keeps the whole pipeline
# SQL-expressible, so the oracle replays it exactly.
# ---------------------------------------------------------------------------
@register(
    "q108_semantic_dedup",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < 16
), assign AS (
  SELECT vec_id, centroid_id, embedding
  FROM (
    SELECT e.vec_id, cent.centroid_id, e.embedding,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQL_L2SQ.format(a="e.embedding", b="cent.cv")},
                      cent.centroid_id) AS rk
    FROM embeddings e, cent
  ) t WHERE rk = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")} >= 0.35
)
SELECT s.vec_id, s.centroid_id AS cluster_id,
       CAST(d.vec_id IS NULL AS INTEGER) AS kept
FROM assign s LEFT JOIN drops d ON s.vec_id = d.vec_id
""",
)
def q108_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist_sq", "centroid_id")
    assign = (
        _par(e)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            "embedding",
            l2_sq("embedding", "cv").alias("dist_sq"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id", "embedding")
    )
    # Per-cluster pair scan through the grouped GEMM kernel: one dense
    # GEMM per cluster id, no replication (both sides share the key).
    # The expression-fold join (a ⋈ b ON centroid_id, dot >= τ) computes
    # the same pairs but was 6.5× slower at 10× scale — per-element
    # expression evaluation vs one BLAS call per cluster.
    from dask_cuml_spark.operators.gemm import (
        grouped_pairwise_similarity_above,
    )

    drops = (
        grouped_pairwise_similarity_above(
            assign, "centroid_id", 0.35, id_col="vec_id"
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return assign.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("centroid_id").alias("cluster_id"),
        F.col("_drop").isNull().cast("int").alias("kept"),
    )


# ---------------------------------------------------------------------------
# q124 — embedding-outlier curation (north-star "training-data
# pipeline", D3-adjacent): flag vectors whose distance from the corpus
# centroid exceeds the exact 99th percentile — the standard "drop the
# far tail before clustering/dedup" quality gate (mirrors the outlier
# pre-filter ahead of SemDeDup-style pipelines; q108 is the
# within-cluster dedup step, THIS is the global curation step before
# it). Two-pass exact design, the q12 convention, entirely in the
# plan (building the frame runs no job): pass 1 reduces the table to
# one centroid row (per-dimension avgs over the exploded coordinates,
# partially aggregated before the shuffle, so it moves ≤ d rows per
# partition, never the vectors), crossJoined back as a broadcast;
# pass 2 computes distances against it and one exact percentile row,
# crossJoined the same way. An empty table yields an empty centroid
# and so zero rows, with no special case. At 100 TB swap percentile
# for approx_percentile (the documented q12 substitute) and the plan
# is a pure two-scan pipeline; distances stay engine-portable
# (functions.vector double fold == the DuckDB list-lambda, verified
# bitwise) and the 6-dp round absorbs the engines' aggregation-order
# jitter in the centroid.
# ---------------------------------------------------------------------------
_Q124_PCT = 0.99


@register(
    "q124_embedding_outliers",
    oracle=f"""
WITH dims AS (
  SELECT i, AVG(CAST(e AS DOUBLE)) AS m
  FROM (SELECT UNNEST(embedding) AS e,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings)
  GROUP BY i
), c AS (
  SELECT LIST(m ORDER BY i) AS cen FROM dims
), d AS (
  SELECT vec_id,
         SQRT({_SQL_L2SQ.format(a="embedding", b="cen")}) AS dist
  FROM embeddings, c
), t AS (
  SELECT QUANTILE_CONT(dist, {_Q124_PCT}) AS thr FROM d
)
SELECT vec_id, ROUND(dist, 6) AS center_dist,
       CAST(ROUND(dist, 6) > ROUND(thr, 6) AS INT) AS is_outlier
FROM d, t
""",
)
def q124_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q124_outliers(load_table(spark, sf_dir, "embeddings"))


def _q124_outliers(e: DataFrame) -> DataFrame:
    # pass 1: one centroid row — the allreduce analogue as a partial+final
    # per-dimension agg; sorting the (dim, mean) structs puts the means
    # in dimension order
    dims = (
        e.selectExpr("posexplode(embedding) AS (i, v)")
        .groupBy("i")
        .agg(F.expr("avg(CAST(v AS DOUBLE)) AS m"))
    )
    cen = dims.agg(
        F.expr("array_sort(collect_list(struct(i, m))) AS _c")
    ).selectExpr("_c.m AS cen")
    dists = e.crossJoin(F.broadcast(cen)).selectExpr(
        "vec_id", f"sqrt({l2_sq_sql('embedding', 'cen')}) AS dist"
    )
    # pass 2: exact interpolated percentile (== DuckDB QUANTILE_CONT)
    # joined back as a broadcast single-row fold; approx_percentile is
    # the 100 TB substitute, same as q12's documented trade
    thr = dists.agg(F.expr(f"percentile(dist, {sql_lit(_Q124_PCT)}) AS thr"))
    # the flag compares the SAME 6-dp-rounded values the oracle rounds:
    # centroid aggregation order differs between engines
    # by float jitter, and an unrounded comparison at the exact p99
    # boundary could flip is_outlier while center_dist still matched
    return dists.crossJoin(F.broadcast(thr)).selectExpr(
        "vec_id",
        "round(dist, 6) AS center_dist",
        "CAST(round(dist, 6) > round(thr, 6) AS INT) AS is_outlier",
    )


# ---------------------------------------------------------------------------
# q125 — semantic dedup at the PRODUCTION posture (r9, verdict task 4):
# n_clusters='auto' sizes k with the data (k = max(16, n /
# rows_per_cluster)), holding expected cluster size constant so the
# within-cluster pair scan is Θ(n · rows_per_cluster) — the linear
# configuration SCALEBENCH measured to 1000× (2 M vectors, 54.9 s)
# where q108's fixed-k oracle config goes quadratic. The data-derived
# centroids make the assignment non-SQL-replayable, so the oracle is
# the q82/q115-style INVARIANT row — each flag is a property that must
# hold for ANY correct SemDeDup run, checked on an input salted with
# 10 exact duplicates (copies of vec_id<10 re-id'd +1_000_000):
#   n_rows            one output row per input vector (n + 10)
#   k_auto_ok         resolved k == max(16, (n+10)//rows_per_cluster)
#   cluster_range_ok  every cluster_id in [0, k)
#   lowest_id_kept_ok the lowest id in a cluster can have no lower-id
#                     neighbor — the keep-lowest rule must keep it
#   dups_dropped_ok   an exact copy lands in its twin's cluster
#                     (identical vectors ⇒ identical (dist², cid)
#                     ordering) with dot = 1 ≥ τ and a lower-id twin —
#                     every injected copy must be dropped
# rows_per_cluster=25 (not the 5000 default) so the fixture actually
# exercises data-sized k (510//25 = 20 > the 16 floor at sf0.01).
# ---------------------------------------------------------------------------
_Q125_RPC = 25
_Q125_NDUP = 10


@register(
    "q125_semantic_dedup_auto",
    oracle=f"""
SELECT (SELECT COUNT(*) + {_Q125_NDUP} FROM embeddings) AS n_rows,
       1 AS k_auto_ok,
       1 AS cluster_range_ok,
       1 AS lowest_id_kept_ok,
       1 AS dups_dropped_ok
""",
)
def q125_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") < _Q125_NDUP).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    aug = e.unionByName(copies)
    # ONE count serves both the auto-k resolution inside semantic_dedup
    # and the k_exp check below (r16: was two identical count jobs)
    n_aug = aug.count()
    out, km = semantic_dedup(
        aug,
        n_clusters="auto",
        rows_per_cluster=_Q125_RPC,
        return_model=True,
        n_rows=n_aug,
    )
    # one materialization feeds four aggregate consumers (the q115
    # convention); the frame is (id, cluster, kept) — never vectors
    out = out.localCheckpoint(eager=False)
    k_res = int(km.cluster_centers_.shape[0])
    k_exp = max(16, n_aug // _Q125_RPC)
    stats = out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cluster_id").alias("_cmin"),
        F.max("cluster_id").alias("_cmax"),
        F.sum(
            (
                (F.col("vec_id") >= 1_000_000) & (F.col("kept") == 1)
            ).cast("long")
        ).alias("_dup_kept"),
    )
    w = Window.partitionBy("cluster_id")
    low = out.withColumn("_mid", F.min("vec_id").over(w)).agg(
        F.sum(
            (
                (F.col("vec_id") == F.col("_mid")) & (F.col("kept") == 0)
            ).cast("long")
        ).alias("_low_dropped")
    )
    return stats.crossJoin(low).select(
        "n_rows",
        F.lit(int(k_res == k_exp)).alias("k_auto_ok"),
        ((F.col("_cmin") >= 0) & (F.col("_cmax") < k_res))
        .cast("int")
        .alias("cluster_range_ok"),
        (F.col("_low_dropped") == 0).cast("int").alias("lowest_id_kept_ok"),
        (F.col("_dup_kept") == 0).cast("int").alias("dups_dropped_ok"),
    )


# ---------------------------------------------------------------------------
# q131 — int8 scalar quantization of embeddings (D3 scale path: the
# FAISS-SQ8 practice — 4x memory compression before ANN serving; public
# method, e.g. FAISS ScalarQuantizer QT_8bit). Per vector: symmetric
# scale = max |x_i|, q_i = floor(x_i/scale*127 + 0.5) in [-127, 127].
# floor(y + 0.5), NOT round(): both engines' float ops here (cast,
# divide, multiply, add, floor) are correctly-rounded IEEE doubles, so
# q_i is bit-deterministic cross-engine, while round() half-way
# conventions differ (HALF_UP vs banker's) and would make parity hang
# on whether a tie ever occurs. Witnesses: exact integer sums of q_i
# and |q_i| plus the round-6 max reconstruction error (order-free max,
# elementwise-identical doubles).
#
# Plan: ONE narrow pass over the embeddings scan — no shuffle, no UDF,
# all higher-order codegen. At 100 TB the quantized table is the thing
# actually written; this query emits the per-vector witnesses instead
# so the kernel sits under the driver's full-value gate.
# ---------------------------------------------------------------------------
@register(
    "q131_int8_quantization",
    oracle="""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS scale
  FROM v
), q AS (
  SELECT vec_id, e, scale,
         -- zero-scale guard (advisor r10): an all-zero vector has
         -- scale=0; dividing by 1 instead yields qv=0, max_err=0 in
         -- both engines rather than engine-dependent 0/0 semantics
         list_transform(e, x -> floor(
           x / (CASE WHEN scale = 0 THEN 1 ELSE scale END) * 127 + 0.5
         )) AS qv
  FROM s
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(qv, q -> abs(q)), 'sum')
            AS BIGINT) AS q_abs_sum,
       ROUND(list_max(list_transform(range(1, len(e) + 1),
             i -> abs(e[i] - qv[i] * scale / 127))), 6) AS max_err
FROM q
ORDER BY vec_id
""",
)
def q131_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size-gated strategy: the interpreted-but-oracle-exact expression
    # form at fixture scale (so parity is proved on the expression
    # fold), the Arrow/numpy kernel above — same plan (one narrow pass,
    # zero shuffles), compiled per-element math instead of
    # CodegenFallback lambdas. Branch value parity is asserted by
    # tests/test_operators.py's strategy-agreement test.
    from dask_cuml_spark.operators.quantize import int8_quantize

    strategy = embeddings_strategy(sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    if strategy == "expr":
        # spread the interpreted lambdas across cores (the one-row-group
        # fixture note); at scale the scan already has many splits and a
        # round-robin reshuffle of the vectors was a measured 0.25 s
        # LOSS at 100x (0.74 s vs 0.48 s)
        e = _par(e)
    raw = int8_quantize(e, "vec_id", "embedding", strategy)
    return raw.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "q_sum",
        "q_abs_sum",
        F.round("max_err", 6).alias("max_err"),
    )
    # no presentation orderBy (the q130 rule: the compare is
    # order-insensitive and the sort was 0.55 s of the 1.49 s at 100x);
    # the oracle keeps its ORDER BY — DuckDB-side cost there is noise


# ---------------------------------------------------------------------------
# q137 — PRODUCT quantization of embeddings (FAISS IndexPQ, Jégou
# et al. 2011 "Product Quantization for Nearest Neighbor Search"): m=8
# contiguous subspaces, a k=16-centroid codebook per subspace trained
# with the existing Lloyd operator (deterministic first-k init), every
# vector encoded as 8 nibble codes — 16x memory compression vs the raw
# float32, the step BEYOND q131's SQ8 (4x) that IVF-PQ serving stacks
# on the q47/q115 index. Codebooks are data-derived (not
# SQL-replayable), so the oracle is the q125-style INVARIANT row — each
# flag a property ANY correct PQ run must satisfy, on an input salted
# with 10 exact duplicates (copies of vec_id<10 re-id'd +1_000_000):
#   n_rows               one code row per input vector (n + 10)
#   code_range_ok        every code in [0, k) for all m subspaces
#   argmin_ok            the expression-path assignment equals an
#                        INDEPENDENT numpy/BLAS re-derivation of the
#                        per-subspace argmin (broadcast codebooks,
#                        Arrow-batched — a different float path, so a
#                        codegen or slicing bug cannot self-certify)
#   twin_ok              identical vectors get identical codes (each
#                        injected copy matches its twin in all m)
#   inertia_monotone_ok  all m Lloyd fits have non-increasing
#                        inertia histories (the q76 guarantee, per
#                        subspace)
# Scale: training is model-state (m driver-reduced Lloyd loops, sample-
# sized in production); ENCODING — the corpus-wide pass — is m argmin
# expressions in ONE projection: zero shuffles, scan speed.
# ---------------------------------------------------------------------------
_Q137_M = 8
_Q137_K = 16
_Q137_NDUP = 10


@register(
    "q137_pq_quantization",
    oracle=f"""
SELECT (SELECT COUNT(*) + {_Q137_NDUP} FROM embeddings) AS n_rows,
       1 AS code_range_ok,
       1 AS argmin_ok,
       1 AS twin_ok,
       1 AS inertia_monotone_ok
""",
)
def q137_pq_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from dask_cuml_spark.operators.quantize import pq_encode

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") < _Q137_NDUP).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    aug = e.unionByName(copies)
    # codebooks train on the PLAIN corpus (session-memoized — the
    # _fitted_ivf convention; q138 serves off the same fit); the
    # twin-salted frame is what gets ENCODED, so every invariant below
    # still checks the real assignment path
    codebooks, models = _fitted_pq(spark, sf_dir, _Q137_M, _Q137_K)
    # persist: coded feeds FOUR subtree evaluations below (stats agg,
    # recheck scan, and both sides of the twins self-join) — without it
    # each consumer re-runs the m-argmin encode projection, whose
    # literal codebook expression alone is ~415 KB of plan (r16; guide
    # §7.2 duplicated subtrees)
    from dask_cuml_spark.plans.cost import persist_for_reuse

    coded = persist_for_reuse(pq_encode(aug, codebooks))
    # independent argmin re-derivation: numpy over broadcast codebooks
    # (different float path than the codegen expression fold)
    cb = np.stack(codebooks)  # (m, k, sub)
    sub = cb.shape[2]

    def recheck(it):
        for pdf in it:
            if pdf.empty:
                continue
            vecs = np.stack(
                [np.asarray(v) for v in pdf["embedding"]]
            ).astype(np.float64)
            codes = np.stack([np.asarray(c) for c in pdf["codes"]])
            bad = 0
            for s in range(_Q137_M):
                d = (
                    ((vecs[:, s * sub:(s + 1) * sub, None]
                      - cb[s].T[None, :, :]) ** 2)
                    .sum(axis=1)
                )
                # a code is correct when ITS centroid distance matches
                # the numpy minimum to within float noise — strict
                # argmin-index equality would flip spuriously on
                # near-equidistant centroids where the expression fold
                # (sequential sum) and numpy (pairwise sum) disagree in
                # the last ulp (q82's documented GEMM hazard; advisor
                # r11)
                chosen = d[np.arange(len(d)), codes[:, s]]
                dmin = d.min(axis=1)
                bad += int((chosen > dmin + 1e-9 * (1.0 + dmin)).sum())
            yield pd.DataFrame({"n": [len(pdf)], "bad": [bad]})

    checked = (
        coded.mapInPandas(recheck, "n long, bad long")
        .agg(
            F.sum("n").alias("_n_checked"),
            F.sum("bad").alias("_argmin_bad"),
        )
    )
    stats = coded.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.array_min("codes")).alias("_cmin"),
        F.max(F.array_max("codes")).alias("_cmax"),
    )
    twins = (
        coded.filter(F.col("vec_id") >= 1_000_000)
        .select(
            (F.col("vec_id") - 1_000_000).alias("vec_id"),
            F.col("codes").alias("_tc"),
        )
        .join(coded, "vec_id")
        .agg(
            F.sum(
                (F.col("codes") != F.col("_tc")).cast("long")
            ).alias("_twin_bad")
        )
    )
    monotone = all(
        all(
            a >= b - 1e-9
            for a, b in zip(km.inertia_history_, km.inertia_history_[1:])
        )
        for km in models
    )
    return stats.crossJoin(checked).crossJoin(twins).select(
        "n_rows",
        ((F.col("_cmin") >= 0) & (F.col("_cmax") < _Q137_K))
        .cast("int")
        .alias("code_range_ok"),
        (
            (F.col("_argmin_bad") == 0)
            & (F.col("_n_checked") == F.col("n_rows"))
        )
        .cast("int")
        .alias("argmin_ok"),
        (F.col("_twin_bad") == 0).cast("int").alias("twin_ok"),
        F.lit(int(monotone)).alias("inertia_monotone_ok"),
    )


# ---------------------------------------------------------------------------
# q138 — PQ ASYMMETRIC-DISTANCE search with exact RE-RANK (the
# production serving shape: FAISS IndexPQ.search for the shortlist +
# IndexRefineFlat for the final order; Jégou et al. 2011 §V). Per
# query, the m×k table LUT[s][j] = ||q_s − c_{s,j}||² is model-state
# (20 queries × 8×16 doubles); every database vector's approximate
# distance is m ARRAY LOOKUPS summed — the scan touches ONLY the 8-byte
# code array, never the embedding, which is why PQ scans billions of
# codes per node. The ADC top-SHORTLIST (50 = 10% of the fixture
# corpus) is then re-ranked with exact distances — candidate-sized
# work. Spark shape: LUTs ride a broadcast-joined queries frame; the
# re-rank joins embeddings for the 20×50 candidates only; top-k is the
# q40 window. Invariant oracle (q82's pattern — codebooks are
# data-derived):
#   n_queries/n_results  full k for every query
#   n_dup_pairs          no duplicate neighbor within a query
#   n_rank_violations    re-ranked distances can never BEAT the exact
#                        k-th distance at any rank (top-k from a
#                        candidate SUBSET — provable, q82's property;
#                        both sides use the same expr summation order)
#   recall_ok            recall@5 vs the exact in-query brute-force
#                        kNN ≥ 0.35 (measured 0.56 with shortlist 50;
#                        ADC alone reads 0.23 on this fixture — the
#                        near-orthogonal unit vectors are PQ's worst
#                        case, inter-neighbor margins ~50x smaller
#                        than quantization error — which is exactly
#                        why the serving shape re-ranks)
# ---------------------------------------------------------------------------
_Q138_K = 5
_Q138_NQ = 20
_Q138_SHORTLIST = 50
_Q138_RECALL_FLOOR = 0.35


@register(
    "q138_pq_adc_search",
    oracle=f"""
SELECT CAST({_Q138_NQ} AS BIGINT) AS n_queries,
       CAST({_Q138_NQ * _Q138_K} AS BIGINT) AS n_results,
       CAST(0 AS BIGINT) AS n_dup_pairs,
       CAST(0 AS BIGINT) AS n_rank_violations,
       1 AS recall_ok
""",
)
def q138_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.knn import brute_force_knn

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # serve off the stored PQ index when provisioned (r12: codes read
    # from the bucketed table FAISS-style instead of re-encoding the
    # corpus per invocation); otherwise the session-memoized fit+encode
    # (the oracle path — bit-identical codes, pytest-pinned)
    codebooks, _centers, coded, from_layout = _pq_serving(spark, sf_dir)
    # fresh path is session-memoized + checkpointed inside _pq_serving;
    # layout path is a plain table scan — no extra materialization here
    codes = coded.select("vec_id", "codes")

    # model-state: the 20 query vectors and their LUTs, built driver-side
    qrows = sorted(
        e.filter(F.col("vec_id") < _Q138_NQ).collect(),
        key=lambda r: r.vec_id,
    )
    cb = np.stack(codebooks)  # (m, k, sub)
    m, k, sub = cb.shape

    # ADC scan: m LUT lookups per code row (the embedding column never
    # loads). Size-gated like q131: the expr fold (oracle-mirroring)
    # at fixture scale, else the Arrow kernel emitting per-batch
    # top-shortlist only (bit-identical adist, strategy-agreement
    # pytest), so the window exchange carries batches x nq x 50 rows.
    from dask_cuml_spark.operators.quantize import adc_candidates

    # shortlist+1 at the kernel: each batch emits its top-(n+1), so the
    # union provably contains the global top-50 NON-SELF candidates
    # even when the query's own row (adist≈0, always rank 1) occupies a
    # per-batch slot — one spare row per (batch, query), not corpus work
    scored = adc_candidates(
        codes,
        [(qid, lut, None) for qid, lut in _pq_luts(qrows, cb)],
        shortlist=_Q138_SHORTLIST + 1,
        strategy=embeddings_strategy(sf_dir),
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    # self-match dropped BEFORE the rank cut (r14 — the advisor-r12
    # q145 fix applied here): cutting first spent one of the 50
    # shortlist slots on the trivial self row, leaving 49 true
    # candidates for the re-rank against a documented budget of 50
    shortlist = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q138_SHORTLIST)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank over candidates only (20×50 rows — the refine step)
    qf = e.filter(F.col("vec_id") < _Q138_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w2 = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    topk = (
        shortlist.join(F.broadcast(qf), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", l2_sq("qv", "cv").alias("dist"))
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _Q138_K)
        .localCheckpoint(eager=False)
    )

    # exclude_same_id matches the PQ shortlist's self-filter (the q40
    # convention) so recall@5 compares like-for-like — without it the
    # baseline spends one of its 5 slots on the trivial self-match and
    # recall's attainable ceiling drops to 0.8 (advisor r11)
    exact = brute_force_knn(
        qf, _par(cv), k=_Q138_K, strategy="expr", exclude_same_id=True
    ).localCheckpoint(eager=False)

    return _ann_invariants(
        topk, exact, int(_Q138_RECALL_FLOOR * _Q138_NQ * _Q138_K)
    )


def _ann_invariants(topk, exact, min_hits: int):
    """The q82/q138 invariant report over an approximate top-k vs the
    exact baseline (shared q138/q141): full k per query, no duplicate
    neighbors, PROVABLE rank domination (top-k from a candidate SUBSET
    can never beat the exact k-th distance at any rank; topk.dist is
    squared L2, brute_force_knn's is sqrt'd — compared in one unit),
    and a recall floor in absolute hit count.

    Both inputs are ≤ nq×k rows BY CONSTRUCTION (rk <= k filters), so
    the four check aggregates run driver-side over two bounded Arrow
    collects (the q137 monotone-flag convention; guide §5 — the driver
    does no DATA work, only model-state-sized verification). The
    previous all-Spark form spent ~10 AQE query stages on joins and
    crossJoins over ≤100-row frames — pure scheduling overhead.
    Values and schema are identical, including sum-over-empty-join
    being NULL."""
    spark = topk.sparkSession
    tp = topk.select("query_id", "neighbor_id", "dist", "rk").toPandas()
    ex = exact.select("query_id", "neighbor_id", "dist", "rk").toPandas()
    n_queries = int(tp["query_id"].nunique())
    n_results = int(len(tp))
    n_dup_pairs = int(
        (tp.groupby(["query_id", "neighbor_id"]).size() > 1).sum()
    )
    rank = tp.merge(
        ex.assign(ed=ex["dist"] * ex["dist"])[["query_id", "rk", "ed"]],
        on=["query_id", "rk"],
    )
    n_rank_violations = (
        int((rank["dist"] < rank["ed"] - 1e-9).sum()) if len(rank) else None
    )
    hits = tp.merge(
        ex[["query_id", "neighbor_id"]], on=["query_id", "neighbor_id"]
    )
    recall_ok = int(len(hits) >= min_hits)
    return rows_lit(
        spark,
        [(n_queries, n_results, n_dup_pairs, n_rank_violations, recall_ok)],
        "n_queries long, n_results long, n_dup_pairs long, "
        "n_rank_violations long, recall_ok int",
    )


# ---------------------------------------------------------------------------
# PQ serving layout (layouts 'pq'): the posture
# FAISS calls "build the index" — a real serving stack encodes the
# corpus ONCE at ingest and every search reads 8-byte codes from a
# stored table; q138/q141 re-encoding the corpus per invocation was the
# r11 verdict's flagged layout opportunity. Two tables, fingerprint-
# keyed on the source parquet (operators/layout.layout_tag):
#   dcs_pqcodes{m}x{k}_{tag}  (vec_id, cell_id, codes) bucketBy(cell_id)
#                             — cell_id from the q47/q115 coarse
#                             quantizer, so IVF-PQ probes read ONLY the
#                             buckets holding probed cells (parquet
#                             bucket pruning: a literal cell_id IN (...)
#                             filter shows SelectedBucketsCount < total)
#   dcs_pqmodel{m}x{k}_{tag}  the model sidecar: m*k PQ centroids +
#                             n_cells coarse centroids (a few hundred
#                             rows — collected driver-side at serve
#                             time, replacing the m Lloyd refits)
# Catalog-gated like the other three layouts: a fresh session (the
# driver's oracle gate) never has the tables and runs the plain
# fit+encode path; both fits are deterministic, so stored codes equal
# freshly-encoded ones bit-for-bit (pytest-pinned).
# ---------------------------------------------------------------------------
def _pq_tables(sf_dir: str) -> tuple[str, str]:
    from dask_cuml_spark.layouts import layout_tables

    return layout_tables("pq", sf_dir)


def _pq_model(rows):
    """(codebooks, coarse_centers) from the stored model rows."""
    import numpy as np

    pq = sorted((r for r in rows if r.kind == "pq"), key=lambda r: (r.s, r.j))
    iv = sorted((r for r in rows if r.kind == "ivf"), key=lambda r: r.j)
    codebooks = [
        np.array([r.center for r in pq if r.s == s])
        for s in range(max(r.s for r in pq) + 1)
    ]
    return codebooks, np.array([r.center for r in iv])


def _pq_serving(spark: SparkSession, sf_dir: str):
    """(codebooks, coarse_centers, codes_df, from_layout) — the serving
    inputs, from the stored index when provisioned (model sidecar is a
    few hundred collected rows; codes are a bucketed table scan),
    otherwise the deterministic in-session fit+encode (the oracle
    path; bit-identical outputs, pytest-pinned)."""
    codes_tbl, model_tbl = _pq_tables(sf_dir)
    if spark.catalog.tableExists(codes_tbl) and spark.catalog.tableExists(
        model_tbl
    ):
        codebooks, centers = _pq_model(spark.table(model_tbl).collect())
        return codebooks, centers, spark.table(codes_tbl), True
    codebooks, _models = _fitted_pq(spark, sf_dir)
    idx = _fitted_ivf(spark, sf_dir)
    # the in-session encode is checkpointed session state — the
    # _fitted_ivf convention: a PQ index is encoded ONCE and searched
    # many times, so repeat invocations (bench steady-state) time the
    # SEARCH, not a re-encode; a fresh driver session still pays and
    # proves the full encode path
    def encode():
        e = load_table(spark, sf_dir, "embeddings")
        return _pq_codes(e, codebooks, idx.centers_).localCheckpoint()

    kind = ("pq_codes", idx.n_cells)
    coded = session_state(spark, kind, sf_dir, _EMB, encode)
    return codebooks, idx.centers_, coded, False


def _pq_codes(e: DataFrame, codebooks, centers) -> DataFrame:
    """(vec_id, cell_id, codes): each vector of ``e`` PQ-encoded and
    assigned its nearest coarse cell — the stored pq layout's rows."""
    from dask_cuml_spark.operators.quantize import (
        _assignment_expr_on,
        pq_encode,
    )

    return pq_encode(e.select("vec_id", "embedding"), codebooks).select(
        "vec_id",
        _assignment_expr_on(F.col("embedding"), centers).alias("cell_id"),
        "codes",
    )


def _pq_luts(qrows, cb) -> list:
    """(query_id, lut) rows: LUT[s][j] = ||q_s − c_{s,j}||² — the
    asymmetric-distance tables, model-state built driver-side (shared
    q138/q141)."""
    import numpy as np

    m, k, sub = cb.shape
    out = []
    for r in qrows:
        qv = np.asarray(r.embedding, dtype=np.float64)
        lut = [
            [
                float(((qv[s * sub:(s + 1) * sub] - cb[s][j]) ** 2).sum())
                for j in range(k)
            ]
            for s in range(m)
        ]
        out.append((int(r.vec_id), lut))
    return out



# ---------------------------------------------------------------------------
# q141 — IVF-PQ search (FAISS IndexIVFPQ, Jégou et al. 2011 §VI — the
# capstone the r11 verdict named: both halves already exist, this
# composes them into the standard billion-scale serving index). Coarse
# quantizer (q47/q115's IVF) routes each query to its nprobe nearest
# cells; inside the PROBED CELLS ONLY, ADC over the stored 8-byte PQ
# codes picks a shortlist; exact re-rank (IndexRefineFlat) orders the
# final top-k. Spark shape:
#   - probe selection + LUTs are model-state, built driver-side from
#     the serving sidecar (20 queries x n_cells distances in numpy);
#   - the candidate scan is a LITERAL cell_id IN (probed) filter — on
#     the stored layout (layouts 'pq': codes bucketBy(cell_id)) parquet
#     bucket pruning means non-probed buckets are never READ
#     (SelectedBucketsCount < total, plan-pinned) — followed by a
#     broadcast join of the (query, cell, LUT) probe rows: the corpus
#     side never shuffles;
#   - per-query shortlist via the q40 window (WindowGroupLimit bounds
#     the exchange to shortlist rows per partition), candidate-sized
#     exact re-rank, final top-k.
# At 100 TB this is the only ANN shape that works: the scan touches
# nprobe/n_cells of an 8-byte-per-vector table and nothing else.
# Invariant oracle (q138's pattern — codebooks are data-derived):
# full k per query, no dup neighbors, PROVABLE rank domination vs the
# in-query exact kNN (probed-cell candidates are a subset of the
# corpus), recall@5 floor vs exact (self-excluded both sides).
# ---------------------------------------------------------------------------
_Q141_K = 5
_Q141_NQ = 20
_Q141_NPROBE = 4
_Q141_SHORTLIST = 50
_Q141_RECALL_FLOOR = 0.35


@register(
    "q141_ivfpq_search",
    oracle=f"""
SELECT CAST({_Q141_NQ} AS BIGINT) AS n_queries,
       CAST({_Q141_NQ * _Q141_K} AS BIGINT) AS n_results,
       CAST(0 AS BIGINT) AS n_dup_pairs,
       CAST(0 AS BIGINT) AS n_rank_violations,
       1 AS recall_ok
""",
)
def q141_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.knn import brute_force_knn

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebooks, centers, coded, _from_layout = _pq_serving(spark, sf_dir)
    cb = np.stack(codebooks)
    m = cb.shape[0]

    qrows = sorted(
        e.filter(F.col("vec_id") < _Q141_NQ).collect(),
        key=lambda r: r.vec_id,
    )
    # coarse routing, driver-side: exact (dist², cell) order — the same
    # tie-break ivf.probes uses
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    d2 = ((Q[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    nprobe = min(_Q141_NPROBE, len(centers))
    lut_by_id = dict(_pq_luts(qrows, cb))
    lut_rows = []
    for qi, r in enumerate(qrows):
        order = np.lexsort((np.arange(len(centers)), d2[qi]))[:nprobe]
        lut_rows.append(
            (int(r.vec_id), lut_by_id[r.vec_id], [int(c) for c in order])
        )
    probed_cells = sorted({c for _q, _l, cells in lut_rows for c in cells})

    # cell-local ADC scan: the literal IN prunes buckets on the stored
    # layout (row groups otherwise); the codes side never shuffles.
    # Same size gate as q138: expr fold (oracle-mirroring) at fixture
    # scale, else the per-batch-top-shortlist Arrow kernel (each query
    # scores only its probed cells in both strategies)
    from dask_cuml_spark.operators.quantize import adc_candidates

    # shortlist+1 at the kernel — q138's union argument: the self row
    # can occupy one per-batch slot, the spare keeps the global
    # non-self top-50 provably inside the emitted union
    scored = adc_candidates(
        coded.filter(F.col("cell_id").isin(probed_cells)),
        lut_rows,
        shortlist=_Q141_SHORTLIST + 1,
        cell_col="cell_id",
        strategy=embeddings_strategy(sf_dir),
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    # self-match dropped BEFORE the rank cut (r14, the q145 fix) so the
    # re-rank sees the full 50-candidate budget, not 49
    shortlist = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q141_SHORTLIST)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank over candidates only (nq x shortlist rows)
    qf = e.filter(F.col("vec_id") < _Q141_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w2 = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    topk = (
        shortlist.join(F.broadcast(qf), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", l2_sq("qv", "cv").alias("dist"))
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _Q141_K)
        .localCheckpoint(eager=False)
    )
    exact = brute_force_knn(
        qf, _par(cv), k=_Q141_K, strategy="expr", exclude_same_id=True
    ).localCheckpoint(eager=False)
    return _ann_invariants(
        topk, exact, int(_Q141_RECALL_FLOOR * _Q141_NQ * _Q141_K)
    )


# ---------------------------------------------------------------------------
# q145 — binary sign-hash ANN search (SRP-LSH serving: Charikar 2002
# random-hyperplane signatures + XOR/POPCNT Hamming ranking + exact
# re-rank). The THIRD quantized serving shape beside int8 SQ (q131) and
# PQ/ADC (q138/q141), and the cheapest: the ranking scan reads 16 bytes
# per row (two packed 64-bit words) and needs no LUTs at all — at 100 TB
# this is the "binary pre-filter in front of the re-ranker" tier of a
# FAISS-style serving stack (IndexBinaryFlat + refine). nbits=128:
# measured re-ranked recall@5 is 0.76 at sf0.01 / 0.57 at sf0.1 vs 0.53 /
# 0.44 at 64 bits, against the 0.35 invariant floor (near-orthogonal
# unit fixtures — the same hard case q138 documents). Size-gated like
# q138: the expr XOR+POPCNT explode at fixture scale (whole-stage
# codegen), else the per-batch-top-shortlist Arrow kernel so the window
# exchange carries batches x nq x 50 rows, never n x nq.
# Oracle: the q82/q138 invariant pattern (planes are model-state, bits
# pytest-pinned via numpy replay + partitioning invariance).
# ---------------------------------------------------------------------------
_Q145_K = 5
_Q145_NQ = 20
_Q145_SHORTLIST = 50
_Q145_NBITS = 128
_Q145_RECALL_FLOOR = 0.35


@register(
    "q145_signhash_ann",
    oracle=f"""
SELECT CAST({_Q145_NQ} AS BIGINT) AS n_queries,
       CAST({_Q145_NQ * _Q145_K} AS BIGINT) AS n_results,
       CAST(0 AS BIGINT) AS n_dup_pairs,
       CAST(0 AS BIGINT) AS n_rank_violations,
       1 AS recall_ok
""",
)
def q145_signhash_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.binhash import (
        hamming_candidates,
        hyperplanes,
        sign_signatures,
        signatures_of,
    )
    from dask_cuml_spark.operators.knn import brute_force_knn

    e = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "embedding"
    )
    qrows = sorted(
        e.filter(f"vec_id < {_Q145_NQ}").collect(), key=lambda r: r.vec_id
    )
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    planes = hyperplanes(_Q145_NBITS, Q.shape[1], _SIG_SEED)
    # query signatures driver-side through the SAME function the kernel
    # runs, so query and database bits share one code path
    qsigs = signatures_of(Q, planes)
    queries = [
        (int(r.vec_id), [int(w) for w in qsigs[i]])
        for i, r in enumerate(qrows)
    ]

    # serve off the stored signature table when provisioned (the
    # layouts 'signs' entry — FAISS IndexBinaryFlat posture: hash the
    # corpus once, scan 16 bytes/row forever); otherwise the
    # session-memoized kernel hash (the oracle path, bit-identical —
    # planes are seed-derived so the stored and fresh bits share one
    # derivation, pytest-pinned)
    sigs, _from_layout = _sig_serving(spark, sf_dir, planes, _SIG_SEED)
    scored = hamming_candidates(
        sigs,
        queries,
        # +1: the self row can hold one per-batch kernel slot — the
        # spare keeps the global non-self top-50 inside the union
        shortlist=_Q145_SHORTLIST + 1,
        strategy=embeddings_strategy(sf_dir),
    )
    w = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
    # self-match dropped BEFORE the rank cut (advisor r12): the query's
    # own row always ranks first (ham=0), so cutting first would leave
    # only _Q145_SHORTLIST-1 true candidates for the re-rank
    shortlist = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q145_SHORTLIST)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank over candidates only (nq x shortlist rows)
    qf = e.filter(F.col("vec_id") < _Q145_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w2 = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    topk = (
        shortlist.join(F.broadcast(qf), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", l2_sq("qv", "cv").alias("dist"))
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _Q145_K)
        .localCheckpoint(eager=False)
    )
    exact = brute_force_knn(
        qf, _par(cv), k=_Q145_K, strategy="expr", exclude_same_id=True
    ).localCheckpoint(eager=False)
    return _ann_invariants(
        topk, exact, int(_Q145_RECALL_FLOOR * _Q145_NQ * _Q145_K)
    )


# ---------------------------------------------------------------------------
# stored binary signature index (layouts 'signs') — FAISS
# IndexBinaryFlat's add/search split: the layout build is the
# one-time "add" (GEMM-hash the corpus, persist 16 bytes/row);
# _sig_serving() routes q145 to the stored table when provisioned,
# else to the session-memoized fresh hash (the driver's oracle path).
# No bucketing: a binary index is brute-force Hamming-scanned by
# design — the layout's whole job is that the search scan reads the
# two packed words instead of the 64-float embedding (16 vs 256+
# bytes/row), with the per-batch-top-k kernel bounding the exchange.
# Planes are seed-derived model-state (binhash.hyperplanes), so stored
# and fresh signatures share one derivation — no model sidecar needed,
# the (nbits, seed) pair is part of the table name.
# ---------------------------------------------------------------------------
_SIG_SEED = 7  # the stored signature index's plane seed


def _sig_tables(sf_dir: str) -> tuple[str]:
    from dask_cuml_spark.layouts import layout_tables

    return layout_tables("signs", sf_dir)


def _sig_serving(
    spark: SparkSession, sf_dir: str, planes, seed: int = _SIG_SEED
):
    """(signatures_df, from_layout) — stored table when provisioned,
    else the kernel hash as session state (the _fitted_ivf convention:
    build once, search many; a fresh driver session pays and proves
    the full kernel path).

    ``seed`` MUST be the seed the passed planes were derived with: the
    stored table holds only the (_Q145_NBITS, _SIG_SEED) bits and the
    state's kind carries both, so other planes never serve those bits."""
    nbits = planes.shape[0]
    (tbl,) = _sig_tables(sf_dir)
    stored = (nbits, seed) == (_Q145_NBITS, _SIG_SEED)
    if stored and spark.catalog.tableExists(tbl):
        return spark.table(tbl), True

    def sign():
        e = load_table(spark, sf_dir, "embeddings")
        return _signatures(e, planes).localCheckpoint()

    kind = ("sigs", nbits, seed)
    return session_state(spark, kind, sf_dir, _EMB, sign), False


def _signatures(e: DataFrame, planes) -> DataFrame:
    """(vec_id, sig): each vector of ``e`` sign-hashed under ``planes``
    — the stored signs layout's rows."""
    from dask_cuml_spark.operators.binhash import sign_signatures

    e = _par(e.select("vec_id", "embedding"))
    return sign_signatures(e, "vec_id", "embedding", planes)


# ---------------------------------------------------------------------------
# Serving-only surfaces (r13 verdict task 3). The SCALEBENCH
# end-to-end rows for q138/q141/q145 time the whole query — including
# the in-query invariant machinery (the eager exact-GEMM baseline +
# _ann_invariants) that exists to make the driver oracle
# self-certifying, not to serve traffic. These functions assemble the
# SEARCH PATH ALONE — the plan a deployed index actually runs per
# query batch: stored-layout scan → shortlist → exact re-rank —
# mirroring the query bodies line-for-line (q138/q141/q145 above;
# since r14 the bodies too drop the self-match BEFORE the shortlist
# cut, so there is no divergence left — every shortlist holds its
# full candidate budget). bench_serving.py provisions the pq/signs
# layouts and times
# these; `invariants=True` re-runs the query's own certification
# (exact baseline + _ann_invariants) OUTSIDE any timer, and
# tests/test_operators.py pins all three green at fixture scale.
# ---------------------------------------------------------------------------
def _serving_rerank(e, shortlist, nq: int, k: int):
    """Exact re-rank + top-k over a (query_id, neighbor_id) shortlist
    — the shared refine step (candidate-sized work)."""
    qf = e.filter(f"vec_id < {nq}").selectExpr(
        "vec_id AS query_id", "embedding AS qv"
    )
    cv = e.selectExpr("vec_id AS neighbor_id", "embedding AS cv")
    return (
        shortlist.join(F.broadcast(qf), "query_id")
        .join(cv, "neighbor_id")
        .selectExpr(
            "query_id", "neighbor_id", f"{l2_sq_sql('qv', 'cv')} AS dist"
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY dist, neighbor_id) AS rk",
        )
        .filter(f"rk <= {k}")
    )


def _serving_shortlist(scored, order_col: str, shortlist_n: int):
    return (
        scored.filter("neighbor_id != query_id")
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            f"ORDER BY {order_col}, neighbor_id) AS rk",
        )
        .filter(f"rk <= {shortlist_n}")
        .selectExpr("query_id", "neighbor_id")
    )


def _serving_certify(spark, e, topk, nq: int, k: int, floor: float):
    """The query's own invariant report over a serving top-k (exact
    brute-force baseline + _ann_invariants) — run OUTSIDE timers.
    Adds an ``n_recall_hits`` column (absolute exact-neighbor hits) so
    callers at non-fixture scales can RECORD recall rather than gate
    on the fixture-scale floor: a FIXED 50-candidate shortlist over a
    1000x corpus decays recall by design (the q138 docstring's
    near-orthogonal worst case — production scales shortlist/nprobe
    with corpus), while full-k / no-dups / rank-domination are
    scale-invariant and stay hard assertions everywhere."""
    from dask_cuml_spark.operators.knn import brute_force_knn

    qf = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    exact = brute_force_knn(
        qf, _par(cv), k=k, strategy="expr", exclude_same_id=True
    ).localCheckpoint(eager=False)
    t = topk.localCheckpoint(eager=False)
    hits = t.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count(F.lit(1)).alias("n_recall_hits"))
    return _ann_invariants(t, exact, int(floor * nq * k)).crossJoin(hits)


def pq_adc_serving_topk(
    spark: SparkSession, sf_dir: str, shortlist: int | None = None
) -> DataFrame:
    """q138's search path alone: LUT build (model-state) → ADC
    shortlist over the stored codes → exact re-rank. ``shortlist``
    overrides the registered fixed budget — the recall-held serving
    rows (bench_serving --held-recall, r14) scale it with the corpus
    the way a production index does."""
    import numpy as np

    from dask_cuml_spark.operators.quantize import adc_candidates

    n = _Q138_SHORTLIST if shortlist is None else shortlist
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebooks, _centers, coded, _from_layout = _pq_serving(spark, sf_dir)
    qrows = sorted(
        e.filter(F.col("vec_id") < _Q138_NQ).collect(),
        key=lambda r: r.vec_id,
    )
    cb = np.stack(codebooks)
    scored = adc_candidates(
        coded.select("vec_id", "codes"),
        [(qid, lut, None) for qid, lut in _pq_luts(qrows, cb)],
        # +1: q138's kernel-union argument — the self row may hold one
        # per-batch slot; _serving_shortlist filters it pre-cut
        shortlist=n + 1,
        strategy=embeddings_strategy(sf_dir),
    )
    short = _serving_shortlist(scored, "adist", n)
    return _serving_rerank(e, short, _Q138_NQ, _Q138_K)


def ivfpq_serving_topk(
    spark: SparkSession,
    sf_dir: str,
    shortlist: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """q141's search path alone: driver-side coarse routing → literal
    cell_id IN bucket-pruned ADC inside probed cells → exact re-rank.
    ``shortlist``/``nprobe`` override the registered fixed operating
    point — the recall-held serving rows (bench_serving --held-recall,
    r14) scale both with the corpus the way a production IVF index
    does."""
    import numpy as np

    from dask_cuml_spark.operators.quantize import adc_candidates

    n = _Q141_SHORTLIST if shortlist is None else shortlist
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebooks, centers, coded, _from_layout = _pq_serving(spark, sf_dir)
    cb = np.stack(codebooks)
    qrows = sorted(
        e.filter(F.col("vec_id") < _Q141_NQ).collect(),
        key=lambda r: r.vec_id,
    )
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    d2 = ((Q[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    np_ = min(
        _Q141_NPROBE if nprobe is None else nprobe, len(centers)
    )
    lut_by_id = dict(_pq_luts(qrows, cb))
    lut_rows = []
    for qi, r in enumerate(qrows):
        order = np.lexsort((np.arange(len(centers)), d2[qi]))[:np_]
        lut_rows.append(
            (int(r.vec_id), lut_by_id[r.vec_id], [int(c) for c in order])
        )
    probed_cells = sorted({c for _q, _l, cells in lut_rows for c in cells})
    scored = adc_candidates(
        coded.filter(F.col("cell_id").isin(probed_cells)),
        lut_rows,
        # +1: same kernel-union spare as the query body
        shortlist=n + 1,
        cell_col="cell_id",
        strategy=embeddings_strategy(sf_dir),
    )
    short = _serving_shortlist(scored, "adist", n)
    return _serving_rerank(e, short, _Q141_NQ, _Q141_K)


def signhash_serving_topk(
    spark: SparkSession, sf_dir: str, shortlist: int | None = None
) -> DataFrame:
    """q145's search path alone: query signatures driver-side →
    XOR+POPCNT Hamming shortlist over the stored signs → exact
    re-rank. ``shortlist`` overrides the registered fixed budget — the
    recall-held serving rows (bench_serving --held-recall, r14) scale
    it with the corpus the way a production index does."""
    import numpy as np

    from dask_cuml_spark.operators.binhash import (
        hamming_candidates,
        hyperplanes,
        signatures_of,
    )

    e = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "embedding"
    )
    qrows = sorted(
        e.filter(f"vec_id < {_Q145_NQ}").collect(), key=lambda r: r.vec_id
    )
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    planes = hyperplanes(_Q145_NBITS, Q.shape[1], _SIG_SEED)
    qsigs = signatures_of(Q, planes)
    queries = [
        (int(r.vec_id), [int(w) for w in qsigs[i]])
        for i, r in enumerate(qrows)
    ]
    sigs, _from_layout = _sig_serving(spark, sf_dir, planes, _SIG_SEED)
    n = _Q145_SHORTLIST if shortlist is None else shortlist
    scored = hamming_candidates(
        sigs,
        queries,
        # +1: same kernel-union spare as the query body
        shortlist=n + 1,
        strategy=embeddings_strategy(sf_dir),
    )
    short = _serving_shortlist(scored, "ham", n)
    return _serving_rerank(e, short, _Q145_NQ, _Q145_K)


SERVING_TOPK = {
    "q138_pq_adc_search": (
        pq_adc_serving_topk,
        ("pq",),
        _Q138_NQ,
        _Q138_K,
        _Q138_RECALL_FLOOR,
    ),
    "q141_ivfpq_search": (
        ivfpq_serving_topk,
        ("pq",),
        _Q141_NQ,
        _Q141_K,
        _Q141_RECALL_FLOOR,
    ),
    "q145_signhash_ann": (
        signhash_serving_topk,
        ("signs",),
        _Q145_NQ,
        _Q145_K,
        _Q145_RECALL_FLOOR,
    ),
}


# ---------------------------------------------------------------------------
# q154 — triplet / hard-negative mining (FaceNet, Schroff et al. 2015
# §3.2 — the mining step of every embedding-model training pipeline):
# per anchor, the NEAREST same-label vector (the accessible positive,
# self excluded) and the NEAREST different-label vector (the hardest
# negative), plus the semi-hard margin verdict
# d_pos + α < d_neg — the signal triplet selection actually consumes
# (violations are the triplets worth training on).
#
# Two strategies, one contract (the q138 size-gate convention, but the
# gate here is PAIR COUNT, not source bytes — the all-pairs frame is
# what explodes):
#   expr (≤2M pairs — the driver's oracle gate always lands here):
#     one broadcast crossJoin + l2_sq expression fold (IEEE order ≡
#     the oracle's SQL fold, the q40-proven identity), then a
#     MAP-SIDE-COMBINABLE groupBy (anchor, same_label) →
#     min(struct(d2, bid)) — the lexicographic struct min IS the SQL
#     (d2, bid) row_number(1), with NO window anywhere: the shuffle
#     carries ≤ 2 rows per anchor after partial aggregation.
#   kernel (above the gate): operators/knn.classwise_nearest — ONE
#     corpus stream (a per-label kNN loop re-scans the corpus
#     2·|labels| times; measured 11.8 s loop → 2.6 s one-pass at
#     sf0.1): anchors task-broadcast below a BYTE bound (rows×dim×8,
#     advisor r14 — one Arrow collect + ONE broadcast, no per-block
#     broadcast loop), the gemm blocked-cogroup shape above it (both
#     axes hashed into blocks, one task per block pair, nothing
#     through the driver). Each candidate block computes dense d²
#     stripes against the anchors, masks twice (same-label minus self
#     / different-label) and emits per-block argmins — ≤ 2 rows per
#     (anchor, block) into the final min(struct) agg.
# Both exact strategies are Θ(n²) FLOPs by definition; the BOUNDED
# production pass is q156 (classwise_nearest_ann — IVF shortlist
# candidate side, Θ(n·nprobe·cell_size), agreement pinned there).
# Full-value oracle: DuckDB runs the identical fold + (d2, bid)
# windows; margin verdicts compare ROUND(·,6) values both sides, so
# the flag is deterministic wherever the distances hash-match (they
# do — the q40 convention).
# ---------------------------------------------------------------------------
_Q154_MARGIN = 0.2
_Q154_EXPR_MAX_PAIRS = 2_000_000


@register(
    "q154_triplet_mining",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
), pairs AS (
  SELECT a.vec_id AS aid, b.vec_id AS bid,
         (a.label = b.label) AS same,
         {_SQL_L2SQ.format(a="a.embedding", b="b.embedding")} AS d2
  FROM e a, e b
  WHERE a.vec_id <> b.vec_id
), best AS (
  SELECT aid, same, bid, d2,
         ROW_NUMBER() OVER (PARTITION BY aid, same
                            ORDER BY d2, bid) AS rk
  FROM pairs
)
SELECT p.aid AS vec_id,
       p.bid AS pos_id, ROUND(SQRT(p.d2), 6) AS d_pos,
       n.bid AS neg_id, ROUND(SQRT(n.d2), 6) AS d_neg,
       CAST(ROUND(SQRT(p.d2), 6) + {_Q154_MARGIN}
            < ROUND(SQRT(n.d2), 6) AS INTEGER) AS margin_ok
FROM (SELECT aid, bid, d2 FROM best WHERE same AND rk = 1) p
JOIN (SELECT aid, bid, d2 FROM best WHERE NOT same AND rk = 1) n
  USING (aid)
""",
)
def q154_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null vectors/labels are unminable and excluded at the SHARED
    # entry — identically in both strategies (the advisor-r11
    # auto-gate-divergence class: the expr path would fold null
    # distances into the struct min while the kernel's np.array would
    # crash); the oracle applies the same predicate
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .filter(
            F.col("embedding").isNotNull() & F.col("label").isNotNull()
        )
    )
    n = e.count()
    if n * (n - 1) <= _Q154_EXPR_MAX_PAIRS:
        a = e.select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("al"),
            F.col("embedding").alias("av"),
        )
        b = e.select(
            F.col("vec_id").alias("bid"),
            F.col("label").alias("bl"),
            F.col("embedding").alias("bv"),
        )
        agg = (
            _par(a)
            .crossJoin(F.broadcast(b))
            .filter(F.col("aid") != F.col("bid"))
            .select(
                "aid",
                (F.col("al") == F.col("bl")).alias("same"),
                F.struct(
                    l2_sq("av", "bv").alias("d2"),
                    F.col("bid").alias("bid"),
                ).alias("s"),
            )
            .groupBy("aid", "same")
            .agg(F.min("s").alias("m"))
            # two consumers (pos/neg splits) over an anchor-sized frame
            # — the unconditional-pin class; localCheckpoint, not
            # cache (the q152 bench-honesty rule)
            .localCheckpoint(eager=False)
        )
        pos = agg.filter(F.col("same")).select(
            F.col("aid").alias("vec_id"),
            F.col("m.bid").alias("pos_id"),
            F.round(F.sqrt("m.d2"), 6).alias("d_pos"),
        )
        neg = agg.filter(~F.col("same")).select(
            F.col("aid").alias("vec_id"),
            F.col("m.bid").alias("neg_id"),
            F.round(F.sqrt("m.d2"), 6).alias("d_neg"),
        )
    else:
        from dask_cuml_spark.operators.knn import classwise_nearest

        both = classwise_nearest(_par(e)).localCheckpoint(eager=False)
        pos = both.filter(F.col("same")).select(
            "vec_id",
            F.col("neighbor_id").alias("pos_id"),
            F.round(F.sqrt("dist_sq"), 6).alias("d_pos"),
        )
        neg = both.filter(~F.col("same")).select(
            "vec_id",
            F.col("neighbor_id").alias("neg_id"),
            F.round(F.sqrt("dist_sq"), 6).alias("d_neg"),
        )
    return pos.join(neg, "vec_id").select(
        "vec_id",
        "pos_id",
        "d_pos",
        "neg_id",
        "d_neg",
        (F.col("d_pos") + F.lit(_Q154_MARGIN) < F.col("d_neg"))
        .cast("int")
        .alias("margin_ok"),
    )


# ---------------------------------------------------------------------------
# q156 — triplet mining with an ANN candidate side (round 15; the r14
# verdict's one scale-killer closed): q154's exact strategies are
# Θ(n²) FLOPs by construction — honest, but 124 s at 30× (22.5G
# pairs). The production mining pass bounds the candidate side with
# the IVF machinery instead: operators/knn.classwise_nearest_ann runs
# q118's self-search plan (anchors explode to their nprobe nearest
# cells, cell members cogroup on the 8-byte cell_id, anchors never
# broadcast/crossJoined) with the SAME class-masked argmin kernel, so
# candidate pairs are Θ(n · nprobe · cell_size) and — with production
# cell sizing (n_cells ∝ n) — the pass is linear in n.
#
# Approximation is one-sided and measured, never silent: every
# candidate considered is a true corpus member, so an ANN distance can
# never BEAT the exact path's (n_violations pins 0 against an exact
# 20-anchor sample, the q115/q118 rank-domination pattern); anchors
# whose probed cells miss a side yield no row (coverage floors pinned
# — measured 1.000 at every fixture SF); and the semi-hard margin
# verdict d_pos + α < d_neg — the signal training actually consumes —
# agrees with the exact path's (floor 0.95; measured 1.000 at every
# SF: the ANN/exact distance ratio is tiny — p95 ~1.09 — so a verdict
# flip needs an exact margin within ~9% of α, which the fixture's
# near-uniform cosine spectrum makes vanishingly rare; NOT a
# class-gap effect — FIXTURES.md documents label carries no geometric
# signal here).
# Invariant oracle (the q115/q118 convention): the probe set depends
# on the k-means fit, which SQL cannot replay cheaply.
# ---------------------------------------------------------------------------
_Q156_NPROBE = 2


@register(
    "q156_triplet_mining_ann",
    oracle="""
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL) AS n_anchors,
       CAST(0 AS BIGINT) AS n_violations,
       1 AS pos_coverage_ok,
       1 AS neg_coverage_ok,
       1 AS margin_agree_ok
""",
)
def q156_triplet_mining_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.knn import classwise_nearest_ann

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .filter(
            F.col("embedding").isNotNull() & F.col("label").isNotNull()
        )
    )
    ann = classwise_nearest_ann(
        e, _fitted_ivf(spark, sf_dir), nprobe=_Q156_NPROBE
    ).localCheckpoint(eager=False)

    n_anchors = e.agg(F.count(F.lit(1)).alias("n_anchors"))
    cov = ann.agg(
        F.sum(F.col("same").cast("long")).alias("_n_pos"),
        F.sum((~F.col("same")).cast("long")).alias("_n_neg"),
    )

    # exact side for the 20-anchor sample via the q154 expr shape with
    # the SAMPLE broadcast (20×n pairs — scale-safe at any factor)
    a = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("al"),
        F.col("embedding").alias("av"),
    )
    b = e.select(
        F.col("vec_id").alias("bid"),
        F.col("label").alias("bl"),
        F.col("embedding").alias("bv"),
    )
    exact = (
        _par(b)
        .crossJoin(F.broadcast(a))
        .filter(F.col("aid") != F.col("bid"))
        .select(
            "aid",
            (F.col("al") == F.col("bl")).alias("same"),
            F.struct(
                l2_sq("av", "bv").alias("d2"), F.col("bid").alias("bid")
            ).alias("s"),
        )
        .groupBy("aid", "same")
        .agg(F.min("s").alias("m"))
        .select(
            F.col("aid").alias("vec_id"),
            "same",
            F.col("m.d2").alias("xd2"),
        )
        .localCheckpoint(eager=False)
    )
    samp = ann.filter(F.col("vec_id") < 20).join(
        exact, ["vec_id", "same"]
    ).localCheckpoint(eager=False)
    # rank domination: ANN considers only true corpus members, so its
    # best can never beat the exact best (1e-6 ulp slack, q115's)
    viol = samp.agg(
        F.sum(
            (F.sqrt("dist_sq") < F.sqrt("xd2") - 1e-6).cast("long")
        ).alias("n_violations")
    )
    # semi-hard margin verdict agreement on the sample (FaceNet's
    # selection signal): verdict_ann == verdict_exact for >= 95%
    verd = (
        samp.groupBy("vec_id")
        .agg(
            F.min(F.when(F.col("same"), F.col("dist_sq"))).alias("ap"),
            F.min(F.when(~F.col("same"), F.col("dist_sq"))).alias("an"),
            F.min(F.when(F.col("same"), F.col("xd2"))).alias("xp"),
            F.min(F.when(~F.col("same"), F.col("xd2"))).alias("xn"),
        )
        .filter(
            F.col("ap").isNotNull()
            & F.col("an").isNotNull()
            & F.col("xp").isNotNull()
            & F.col("xn").isNotNull()
        )
        .select(
            (
                (
                    F.round(F.sqrt("ap"), 6) + F.lit(_Q154_MARGIN)
                    < F.round(F.sqrt("an"), 6)
                )
                == (
                    F.round(F.sqrt("xp"), 6) + F.lit(_Q154_MARGIN)
                    < F.round(F.sqrt("xn"), 6)
                )
            ).cast("long").alias("ag")
        )
        .agg(F.avg("ag").alias("_agree"), F.count(F.lit(1)).alias("_nv"))
    )
    return (
        n_anchors.crossJoin(cov)
        .crossJoin(viol)
        .crossJoin(verd)
        .select(
            "n_anchors",
            "n_violations",
            F.when(F.col("_n_pos") / F.col("n_anchors") >= 0.90, 1)
            .otherwise(0)
            .cast("int")
            .alias("pos_coverage_ok"),
            F.when(F.col("_n_neg") / F.col("n_anchors") >= 0.90, 1)
            .otherwise(0)
            .cast("int")
            .alias("neg_coverage_ok"),
            F.when(F.col("_agree") >= 0.95, 1)
            .otherwise(0)
            .cast("int")
            .alias("margin_agree_ok"),
        )
    )


# ---------------------------------------------------------------------------
# q162 — hybrid retrieval via reciprocal-rank fusion (round 16;
# Cormack, Clarke & Buettcher, SIGIR 2009: RRF outperforms Condorcet
# and individual rank-learning fusion): the table-stakes 2026 RAG
# shape — fuse a SPARSE Okapi-BM25 ranking (q155's machinery, same
# terms) with a DENSE embedding ranking (query-by-example: the
# embedding of doc _Q162_QV) over the D9 multimodal join key
# (documents.doc_id = embeddings.vec_id).
# RRF(d) = Σ_legs 1/(C + rank_leg(d)), C = 60 (the paper's constant),
# over the union of the two per-leg top-_Q162_LEG_K lists.
#
# Determinism/full-value oracle: each leg ranks by its ROUND(...,6)
# score with a doc_id tie-break (the q155/q157 engine-stability
# lesson), ranks are small exact integers, and each RRF contribution
# is ONE correctly-rounded double division 1/(60+rk) — identical in
# both engines — summed over ≤2 order-independent terms (IEEE
# addition is commutative). Adjacent-rank fused-score gaps are
# ≥ 1/(C+K−1) − 1/(C+K) ≈ 8.4e-5 at leg depth 50, four orders above
# the ROUND(...,9) grid, so the rounded ordering is stable.
#
# Fusion plan shape: NO join — each leg's (doc_id, rank) list (≤50
# rows) flows through ONE union + tiny hash aggregate (a full-outer
# join of the legs would force a shuffle join plan for nothing), then
# one TakeOrderedAndProject(_Q162_TOPK). At 100 TB the legs dominate:
# BM25 is Θ(postings(q)) served / one-scan plain, dense is a
# broadcast-1-query scan → map-side top-k; the fusion itself touches
# ≤ 2·_Q162_LEG_K rows regardless of corpus size.
#
# Multi-layout serving (the r15 verdict's "first multi-layout
# consumer"): a provisioned session serves the sparse leg from the
# STORED postings index (q155's branch — no corpus scan) AND the
# dense leg from the STORED binary-signature index (q145's signs
# layout: 16-byte/row hamming scan → top-_Q162_SHORTLIST shortlist →
# exact re-rank) in ONE query. The served dense leg re-ranks with the
# exact dot, so it equals the plain leg whenever the true top-50
# survives the shortlist — pinned exactly-equal on the fixture
# (serving-identity pytest); at scale shortlist recall is the
# measured knob and Θ(shortlist) the refine cost. Fresh sessions (the
# driver's gate) always run the plain exact legs, which the DuckDB
# oracle replays in full.
# ---------------------------------------------------------------------------
_Q162_QV = 0  # query-by-example: whose embedding is the dense query
_Q162_LEG_K = 50  # per-leg ranking depth feeding the fusion
_Q162_RRF_C = 60  # Cormack-Clarke RRF constant
_Q162_TOPK = 20
# Signs-served dense-leg hamming shortlist. Sized ≥ the fixture corpus
# (500 vectors) so the served leg's exact re-rank sees EVERY candidate
# there — identity with the plain leg is structural, not an empirical
# recall accident (measured: on this fixture's near-uniform cosine
# spectrum, SRP hamming top-200 covers only 84% of the true dot top-50;
# top-400 covers 100%). The layout machinery is still the real serving
# path: 16-byte/row stored-signature scan → hamming top-S → Θ(S) exact
# re-rank. Production sizes S to a measured recall target instead —
# recall is the knob, never silent (the q145 posture).
_Q162_SHORTLIST = 1000


def _q162_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dense_rk): the dense leg — corpus ranked by exact
    cosine (dot on the unit-norm fixture) against ONE broadcast query
    vector, restricted to ids present in documents (the D9 join),
    rank on the ROUND(...,6) score. Served from the stored signature
    index when provisioned (shortlist + exact re-rank → identical
    list when the shortlist covers the true top-K; q145's layout)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    d_ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_did")
    )
    qf = e.filter(F.col("vec_id") == _Q162_QV).select(
        F.col("embedding").alias("qv")
    )
    (sig_tbl,) = _sig_tables(sf_dir)
    if spark.catalog.tableExists(sig_tbl):
        # signs-served: hamming shortlist off the 16-byte/row stored
        # signatures, then exact re-rank over candidate rows only
        import numpy as np

        from dask_cuml_spark.operators.binhash import (
            hamming_candidates,
            hyperplanes,
            signatures_of,
        )

        qrow = e.filter(F.col("vec_id") == _Q162_QV).first()
        Q = np.asarray(qrow["embedding"], dtype=np.float64)[None, :]
        planes = hyperplanes(_Q145_NBITS, Q.shape[1], 7)
        qsig = [int(w) for w in signatures_of(Q, planes)[0]]
        scored = hamming_candidates(
            spark.table(sig_tbl),
            [(int(_Q162_QV), qsig)],
            shortlist=_Q162_SHORTLIST,
            strategy=embeddings_strategy(sf_dir),
        )
        wsh = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
        short = (
            scored.withColumn("_r", F.row_number().over(wsh))
            .filter(F.col("_r") <= _Q162_SHORTLIST)
            .select("neighbor_id")
        )
        cand = e.join(
            F.broadcast(short), e.vec_id == F.col("neighbor_id")
        ).select("vec_id", "embedding")
    else:
        cand = _par(e)
    sc = (
        cand.join(d_ids, cand.vec_id == d_ids._did, "left_semi")
        .crossJoin(F.broadcast(qf))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot("embedding", "qv"), 6).alias("cos_sim"),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), "doc_id")
    return (
        sc.orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_Q162_LEG_K)
        .withColumn("dense_rk", F.row_number().over(w))
        .select("doc_id", "dense_rk")
    )


@register(
    "q162_hybrid_rrf_retrieval",
    oracle=f"""
WITH stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
  FROM documents
), tok AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
         t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE t.term IN ('vector', 'fast', 'dup')
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, dl, term
), dfr AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN(1 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2
              * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))
         ), 6) AS score
  FROM tf JOIN dfr USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
), bm AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
              AS INTEGER) AS bm25_rk
  FROM scored ORDER BY score DESC, doc_id LIMIT {_Q162_LEG_K}
), qv AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {_Q162_QV}
), dn0 AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_aggregate(list_transform(list_zip(e.embedding, qv.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'), 6) AS cos_sim
  FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id
  CROSS JOIN qv
), dn AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
              AS INTEGER) AS dense_rk
  FROM dn0 ORDER BY cos_sim DESC, doc_id LIMIT {_Q162_LEG_K}
), fused AS (
  SELECT doc_id,
         MAX(CASE WHEN leg = 'bm' THEN rk_leg END) AS bm25_rk,
         MAX(CASE WHEN leg = 'dn' THEN rk_leg END) AS dense_rk,
         ROUND(SUM(CAST(1 AS DOUBLE) / ({_Q162_RRF_C} + rk_leg)), 9)
           AS rrf_score
  FROM (SELECT doc_id, 'bm' AS leg, bm25_rk AS rk_leg FROM bm
        UNION ALL
        SELECT doc_id, 'dn' AS leg, dense_rk AS rk_leg FROM dn)
  GROUP BY doc_id
)
SELECT doc_id, bm25_rk, dense_rk, rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
            AS INTEGER) AS rk
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {_Q162_TOPK}
""",
)
def q162_hybrid_rrf_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dask_cuml_spark.queries.text import (
        _Q155_TERMS,
        _bm25_from_postings,
        _postings_tables,
        bm25_rank,
    )

    # sparse leg — postings-served when provisioned (q155's branch)
    ptbl, stbl = _postings_tables(sf_dir)
    if spark.catalog.tableExists(ptbl) and spark.catalog.tableExists(stbl):
        bm = _bm25_from_postings(
            spark, sf_dir, _Q155_TERMS, top_k=_Q162_LEG_K
        )
    else:
        bm = bm25_rank(
            load_table(spark, sf_dir, "documents"),
            _Q155_TERMS,
            top_k=_Q162_LEG_K,
        )
    bm = bm.select("doc_id", F.col("rk").alias("bm25_rk"))
    dn = _q162_dense_rank(spark, sf_dir)

    # fusion: union + ONE tiny hash aggregate over ≤ 2·LEG_K rows (no
    # join — a full-outer of the legs would compile to a shuffle join)
    contribs = bm.select(
        "doc_id",
        F.lit("bm").alias("_leg"),
        F.col("bm25_rk").alias("_rk"),
    ).unionByName(
        dn.select(
            "doc_id",
            F.lit("dn").alias("_leg"),
            F.col("dense_rk").alias("_rk"),
        )
    )
    fused = contribs.groupBy("doc_id").agg(
        F.max(F.when(F.col("_leg") == "bm", F.col("_rk"))).alias(
            "bm25_rk"
        ),
        F.max(F.when(F.col("_leg") == "dn", F.col("_rk"))).alias(
            "dense_rk"
        ),
        F.round(
            F.sum(
                F.lit(1.0)
                / (F.lit(float(_Q162_RRF_C)) + F.col("_rk").cast("double"))
            ),
            9,
        ).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_Q162_TOPK)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "bm25_rk", "dense_rk", "rrf_score", "rk")
    )
