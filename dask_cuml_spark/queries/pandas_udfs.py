"""Pandas-UDF substrate (SURVEY.md §2B B13/B14/B15): the dask_cudf
map_partitions / groupby().apply / grouped custom aggregation trio, as
Arrow-batched Spark equivalents — mapInPandas, applyInPandas, and a
GROUPED_AGG pandas_udf. Each is SQL-oracled by re-expressing the Python
logic relationally, so the driver's strong check covers the UDF path too.

Also: the formerly oracle-less iterative/approximate fits (full KMeans,
DBSCAN, MinHash-LSH, LSH-kNN, LogisticRegression). Round 3 gives every
one a DuckDB oracle (the driver records err:no_oracle rather than a
rows-only check, so these were invisible to the hard gate — VERDICT r2):
  * q77 DBSCAN and q78 MinHash are FULL-VALUE oracled — the eps-graph
    connected components via a recursive CTE, and the near-dup pair set
    via exact shingle-Jaccard (LSH recall is 100% on the fixture, so
    candidates ⊇ true pairs and the verify stage makes output ≡ truth);
  * q76/q82/q83 emit provable invariants (Lloyd monotonicity, LSH
    rank-domination + recall bound, LBFGS loss ≤ prior entropy) in the
    q94–q99 style, with numeric parity additionally pytest-checked
    against numpy (tests/test_operators.py, tests/test_ml_estimators.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dask_cuml_spark.io import load_table
from dask_cuml_spark.plans.cost import session_state
from dask_cuml_spark.registry import register


# ---------------------------------------------------------------------------
# q72 — map_partitions (B13): per-batch pandas transform, the
# dask_cudf.map_partitions(fn) shape. Arithmetic is IEEE-identical to the
# SQL expression, so the oracle is exact.
# ---------------------------------------------------------------------------
@register(
    "q72_map_partitions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * (1 - l_discount), 6) AS net_price,
       CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'retail' END AS order_kind
FROM lineitem
WHERE l_partkey % 10 = 0
""",
)
def q72_map_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 10 == 0
    )
    schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", l.schema["l_linenumber"].dataType),
            StructField("net_price", DoubleType()),
            StructField("order_kind", StringType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "l_orderkey": pdf["l_orderkey"],
                    "l_linenumber": pdf["l_linenumber"],
                    "net_price": (
                        pdf["l_extendedprice"] * (1 - pdf["l_discount"])
                    ).round(6),
                    "order_kind": pd.Series(
                        ["bulk" if q >= 25 else "retail" for q in pdf["l_quantity"]]
                    ),
                }
            )
            yield out

    return l.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity"
    ).mapInPandas(fn, schema)


# ---------------------------------------------------------------------------
# q73 — groupby().apply grouped map (B14): per-group z-normalization via
# applyInPandas — the canonical dask_cudf/SNIPPETS grouped-map pattern.
# Oracle re-expresses it as window aggregates.
# ---------------------------------------------------------------------------
@register(
    "q73_grouped_normalize",
    oracle="""
SELECT c_custkey, c_mktsegment,
       ROUND((c_acctbal - AVG(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / STDDEV_SAMP(c_acctbal) OVER (PARTITION BY c_mktsegment), 6)
         AS bal_z
FROM customer
""",
)
def q73_grouped_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_mktsegment", StringType()),
            StructField("bal_z", DoubleType()),
        ]
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["c_acctbal"]
        # ddof=1 == STDDEV_SAMP; mean/std in float64 like the SQL side
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "bal_z": ((v - v.mean()) / v.std(ddof=1)).round(6),
            }
        )

    return (
        c.select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(normalize, schema)
    )


# ---------------------------------------------------------------------------
# q74 — grouped custom aggregation (B15): GROUPED_AGG pandas_udf
# (discount-weighted mean price per returnflag). Oracle = the same
# weighted mean in SQL.
# ---------------------------------------------------------------------------
@register(
    "q74_grouped_agg_udf",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_discount) / SUM(l_discount), 6)
         AS disc_weighted_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q74_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    l = load_table(spark, sf_dir, "lineitem")

    @pandas_udf("double")
    def wmean(price: pd.Series, disc: pd.Series) -> float:
        # plain float64 sums — same accumulation the SQL oracle performs
        return float((price * disc).sum() / disc.sum())

    return l.groupBy("l_returnflag").agg(
        F.round(wmean("l_extendedprice", "l_discount"), 6).alias(
            "disc_weighted_price"
        )
    )


# ---------------------------------------------------------------------------
# q75 — pivot (dask_cudf/cuDF pivot; value_counts matrix form): manual
# conditional-agg pivot keeps it engine-portable and shuffle-minimal.
# ---------------------------------------------------------------------------
@register(
    "q75_pivot",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_F,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_O
FROM lineitem
GROUP BY l_returnflag
""",
)
def q75_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("n_F"),
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0)).alias("n_O"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)),
            2,
        ).alias("qty_F"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)),
            2,
        ).alias("qty_O"),
    )


# ---------------------------------------------------------------------------
# q76 — full KMeans fit (A1, iterative): 3 deterministic Lloyd iterations
# from first-k init. Invariant oracle (q94-style): Lloyd's objective
# sequence J(assign_t, centers_t), closed by the final-centers SSE, is
# provably non-increasing (each E-step and M-step only lowers it), every
# vector gets a cluster in [0, k), and the centers are finite. Numpy
# parity of the centroids themselves is pytest-checked.
# ---------------------------------------------------------------------------
@register(
    "q76_kmeans_fit",
    oracle="""
SELECT 8 AS k, 64 AS dim,
       (SELECT COUNT(*) FROM embeddings) AS n_assigned,
       CAST(0 AS BIGINT) AS n_bad_cluster,
       0 AS n_inertia_increases,
       1 AS centers_finite
""",
)
def q76_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.kmeans import KMeans

    e = load_table(spark, sf_dir, "embeddings")
    model = KMeans(k=8, max_iter=3, tol=0.0).fit(e)
    chain = model.inertia_history_ + [model.inertia_]
    n_increases = sum(
        1
        for a, b in zip(chain, chain[1:])
        if b > a * (1 + 1e-9)
    )
    k = len(model.cluster_centers_)
    assigned = model.predict(e)
    return assigned.agg(
        F.lit(k).alias("k"),
        F.lit(int(model.cluster_centers_.shape[1])).alias("dim"),
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum(
            ((F.col("cluster") < 0) | (F.col("cluster") >= k)).cast("int")
        ).alias("n_bad_cluster"),
        F.lit(int(n_increases)).alias("n_inertia_increases"),
        F.lit(
            int(bool(np.isfinite(model.cluster_centers_).all()))
        ).alias("centers_finite"),
    )


# ---------------------------------------------------------------------------
# q77 — DBSCAN (A13), FULL-VALUE oracle: the entire labeling is
# deterministic given the eps-graph — cores by degree, clusters =
# connected components of the core-core graph labeled by min core id
# (DuckDB: recursive CTE computing min reachable core), borders attach
# min core-neighbor label, rest noise (-1). The distance predicate uses
# the same double-fold form as functions.vector (verified bitwise-equal
# across engines), so the eps boundary is engine-stable.
# ---------------------------------------------------------------------------
# DuckDB lambda equivalent of functions.vector.l2_sq (textually in sync
# with queries/vector.py::_SQL_L2SQ).
_DUCK_L2SQ = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
)
_Q77_EPS = 1.18  # keeps the closest-pair tail on near-orthogonal vectors
_Q77_MIN_PTS = 3


@register(
    "q77_dbscan",
    oracle=f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE {_DUCK_L2SQ.format(a="a.embedding", b="b.embedding")}
        <= {_Q77_EPS} * {_Q77_EPS}
), core AS MATERIALIZED (
  SELECT id_a AS id FROM pairs
  GROUP BY id_a HAVING COUNT(*) + 1 >= {_Q77_MIN_PTS}
), core_edges AS MATERIALIZED (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN core ca ON p.id_a = ca.id JOIN core cb ON p.id_b = cb.id
), reach(id, lab) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.id_a, r.lab FROM core_edges e JOIN reach r ON e.id_b = r.id
), comp AS (
  SELECT id, MIN(lab) AS label FROM reach GROUP BY id
), border AS (
  SELECT p.id_a AS id, MIN(c.label) AS label
  FROM pairs p JOIN comp c ON p.id_b = c.id
  WHERE p.id_a NOT IN (SELECT id FROM core)
  GROUP BY p.id_a
), lab AS (
  SELECT id, label FROM comp UNION ALL SELECT id, label FROM border
)
SELECT e.vec_id, CAST(COALESCE(l.label, -1) AS BIGINT) AS cluster
FROM embeddings e LEFT JOIN lab l ON e.vec_id = l.id
""",
)
def q77_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dbscan import dbscan

    e = load_table(spark, sf_dir, "embeddings")
    # eps=1.18 on unit-norm near-orthogonal vectors (pair distances
    # concentrate ~sqrt(2)): keeps the ~1% closest-pair tail, so the
    # neighbor graph stays sparse (eps=1.40 admitted ~44% of all pairs
    # and label propagation dominated the runtime).
    return dbscan(e, eps=_Q77_EPS, min_pts=_Q77_MIN_PTS)


# ---------------------------------------------------------------------------
# q120 — DBSCAN with the CELL-BLOCKED ε-join (the scale path PLANS.md
# promises for q77; r6 verdict task 6). The fixture embeddings are
# near-orthogonal BY DESIGN (no density structure — every IVF cell is
# ε-reachable from everywhere, so blocking can't prune there; see
# _eps_pairs_cell_blocked's docstring), so this query runs the operator
# on data DBSCAN is actually for: 16 well-separated uniform blobs at
# the corners of a 4-D hypercube (spacing 10 ≫ ε), derived
# DETERMINISTICALLY from vec_id — blob corner from the low 4 bits,
# jitter from a CASCADE of quadratic maps h_{i+1} = (h_i² + c_i) mod P
# over the large prime P = 1000003 (dim i uses h_{i+1}/P) — so DuckDB
# replays the generator exactly and the oracle is FULL-VALUE (the q97
# make_blobs pattern). Generator design was validated against the
# ε-degree of true uniform sampling (30.9 vs 30.8 at the 100× operating
# point): a mod-997 draft cycled and stamped exact duplicate points at
# scale; a linear Weyl draft made every same-δ id pair share one
# displacement vector (a lattice); a single-quadratic draft left all
# dims linear in (v², v) — a rank-2 sheet in the 4-D torus. Each gave
# ~5-6× the uniform ε-degree. The cascade makes each dim an
# independent-grade nonlinear mix. The 1/P quantization makes
# ε-boundary ties impossible by arithmetic: within-blob d² = (Σm²)/P²
# with integer m, and Σm² = P²·ε² = P²/4 has no integer solution
# (P odd). Max intermediate: first step v² ≤ 4e12, later (P−1)² ≈ 1e12
# — far inside int64.
# ---------------------------------------------------------------------------
_Q120_EPS = 0.5  # ≈10 ε-neighbors/point at the fixture's 31-point blobs
_Q120_MIN_PTS = 3
_Q120_DIM = 4
_Q120_P = 1000003  # jitter modulus — large prime (see block comment)
_Q120_C = [241309, 514229, 741103, 937307]  # cascade offsets per dim
# bench_scale patches this to 'exact' to time the road-not-taken (the
# all-pairs blocked-GEMM ε-join) on the same blob data at scale
_Q120_STRATEGY = "cells"


def _q120_point_exprs():
    out = []
    h = F.col("vec_id")
    for i in range(_Q120_DIM):
        h = (h * h + F.lit(_Q120_C[i])) % _Q120_P
        out.append(
            F.shiftright(F.col("vec_id") % 16, i)
            .bitwiseAND(F.lit(1))
            .cast("double")
            * 10.0
            + h.cast("double") / float(_Q120_P)
        )
    return out


def _q120_sql_dims() -> str:
    h, dims = "vec_id", []
    for i in range(_Q120_DIM):
        h = f"(({h}) * ({h}) + {_Q120_C[i]}) % {_Q120_P}"
        dims.append(
            f"    CAST(((vec_id % 16) >> {i}) & 1 AS DOUBLE) * 10.0"
            f" + CAST({h} AS DOUBLE) / {_Q120_P}.0 AS x{i}"
        )
    return ",\n".join(dims)


_Q120_SQL_DIMS = _q120_sql_dims()
_Q120_SQL_D2 = " + ".join(
    f"(a.x{i} - b.x{i}) * (a.x{i} - b.x{i})" for i in range(_Q120_DIM)
)


@register(
    "q120_dbscan_blocked",
    oracle=f"""
WITH RECURSIVE pts AS MATERIALIZED (
  SELECT vec_id,
{_Q120_SQL_DIMS}
  FROM embeddings
), pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
  WHERE {_Q120_SQL_D2} <= {_Q120_EPS} * {_Q120_EPS}
), core AS MATERIALIZED (
  SELECT id_a AS id FROM pairs
  GROUP BY id_a HAVING COUNT(*) + 1 >= {_Q120_MIN_PTS}
), core_edges AS MATERIALIZED (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN core ca ON p.id_a = ca.id JOIN core cb ON p.id_b = cb.id
), reach(id, lab) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.id_a, r.lab FROM core_edges e JOIN reach r ON e.id_b = r.id
), comp AS (
  SELECT id, MIN(lab) AS label FROM reach GROUP BY id
), border AS (
  SELECT p.id_a AS id, MIN(c.label) AS label
  FROM pairs p JOIN comp c ON p.id_b = c.id
  WHERE p.id_a NOT IN (SELECT id FROM core)
  GROUP BY p.id_a
), lab AS (
  SELECT id, label FROM comp UNION ALL SELECT id, label FROM border
)
SELECT e.vec_id, CAST(COALESCE(l.label, -1) AS BIGINT) AS cluster
FROM embeddings e LEFT JOIN lab l ON e.vec_id = l.id
""",
)
def q120_dbscan_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dbscan import dbscan

    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(*_q120_point_exprs()).alias("embedding")
    )
    return dbscan(
        pts, eps=_Q120_EPS, min_pts=_Q120_MIN_PTS, strategy=_Q120_STRATEGY
    )


# ---------------------------------------------------------------------------
# q78 — MinHash-LSH near-dup (D2), FULL-VALUE oracle: the pipeline's
# output is candidate pairs that pass an EXACT Jaccard >= 0.5 verify, so
# whenever LSH recall is 100% the result ≡ the brute-force shingle-
# Jaccard pair set, which DuckDB computes directly (shared-shingle join,
# the q35 pattern at 3-word-gram granularity). On the fixtures the
# near-dup pairs all have Jaccard >= 0.9, deep inside the 16-hash/4-band
# S-curve — verified candidate-superset at sf0.01/0.1 (precision is 1 by
# construction). A recall drop from any signature/banding regression
# flips this red, which is exactly the point.
# ---------------------------------------------------------------------------
@register(
    "q78_minhash_near_dup",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                               i -> array_to_string(toks[i:i+2], ' ')))
           AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
""",
)
def q78_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dedup import minhash_near_dup

    d = load_table(spark, sf_dir, "documents")
    # b=12, r=3 banding: p=0.99 recall knee at J=0.683 (see
    # minhash_lsh_candidates docstring + tests/test_lsh_margin.py)
    out = minhash_near_dup(d, n=3, num_hashes=36, bands=12, threshold=0.5)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# q135 — near-dup cluster CANONICALIZATION (r10 verdict task 8; the
# SlimPajama / The Pile posture): q78's verified near-dup PAIRS
# under-delete transitive chains (A~B, B~C ⇒ {A,B,C} is ONE duplicate
# cluster even when A~C misses the threshold), so production dedup runs
# connected components over the pair graph and keeps ONE canonical doc
# per cluster (lowest id — deterministic). Spark side: the exact same
# LSH pipeline as q78 feeding operators/components.connected_components
# (the staged CC extracted from dbscan — driver union-find at
# model-state sizes, partition-local pre-contraction + pointer-jumping
# at scale). FULL-VALUE oracle: DuckDB recomputes the exact
# shingle-Jaccard pair set (q78's CTE) and resolves components by
# recursive min-label reachability (q77's pattern) — transitivity,
# keep-lowest minimality, and cluster membership are all re-proven
# against string truth on every driver run.
# ---------------------------------------------------------------------------
@register(
    "q135_near_dup_canonicalize",
    oracle="""
WITH RECURSIVE tok AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                               i -> array_to_string(toks[i:i+2], ' ')))
           AS shingle
  FROM tok
), sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
), edges AS MATERIALIZED (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), nodes AS MATERIALIZED (
  SELECT DISTINCT id_a AS id FROM edges
), reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.id_a, r.lab FROM edges e JOIN reach r ON e.id_b = r.id
)
SELECT id AS doc_id,
       CAST(MIN(lab) AS BIGINT) AS canonical_id,
       CAST(id = MIN(lab) AS INT) AS is_canonical
FROM reach GROUP BY id
ORDER BY doc_id
""",
)
def q135_near_dup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.components import connected_components
    from dask_cuml_spark.operators.dedup import minhash_near_dup

    d = load_table(spark, sf_dir, "documents")
    # q78's exact configuration — its full-value oracle already proves
    # this pair set ≡ the exact shingle-Jaccard pairs on the fixture
    pairs = minhash_near_dup(
        d, n=3, num_hashes=36, bands=12, threshold=0.5
    ).select("id_a", "id_b")
    labels = connected_components(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").cast("long").alias("canonical_id"),
        (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# q82 — LSH approximate kNN (A4 scale path), invariant oracle computed
# against the exact brute-force kNN IN-QUERY (the q40 result):
#   * rank domination — an approximate top-k drawn from a candidate
#     SUBSET can never beat the exact k-th distance at any rank, so
#     lsh_dist[rk] >= exact_dist[rk] per query, provably;
#   * recall@5 over 20 queries >= 0.30 (measured 0.42 on the fixture —
#     seeded hyperplanes make it deterministic; the bound is the alarm
#     threshold for bucketing regressions);
#   * every query returns a full k and no duplicate neighbors.
# ---------------------------------------------------------------------------
@register(
    "q82_lsh_knn",
    oracle="""
SELECT CAST(20 AS BIGINT) AS n_queries,
       CAST(100 AS BIGINT) AS n_results,
       CAST(0 AS BIGINT) AS n_rank_violations,
       CAST(0 AS BIGINT) AS n_dup_pairs,
       1 AS recall_ok
""",
)
def q82_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.knn import brute_force_knn, lsh_knn

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    # both result frames are k·|queries| rows (100 here) but feed four
    # invariant checks — localCheckpoint materializes each expensive
    # pipeline (bucket join / brute-force GEMM) exactly once, then ALL
    # checks run as ONE lazy plan over the two tiny checkpointed frames
    # (round-4: the previous 4 driver actions + eager collect cost
    # ~0.15 s scheduling each; the driver's own materialize is the one
    # action this query needs)
    lsh = lsh_knn(q, c, dim=64, k=5, n_planes=6, n_tables=4).localCheckpoint(eager=False)
    # strategy='expr': the rank-domination check compares the LSH side's
    # expression-fold distances against this baseline's at equality
    # boundaries, so both must use the SAME summation order (the GEMM
    # strategy differs in the last ulp — 12 spurious violations at
    # sf0.01 when it became the default in round 5)
    exact = brute_force_knn(q, c, k=5, strategy="expr").localCheckpoint(eager=False)
    hits = lsh.join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).agg(F.count(F.lit(1)).alias("_n_hits"))
    rank = lsh.join(
        exact.select("query_id", "rk", F.col("dist").alias("ed")),
        ["query_id", "rk"],
    ).agg(
        F.count(F.lit(1)).alias("n_results"),
        F.sum((F.col("dist") < F.col("ed") - 1e-9).cast("long")).alias(
            "n_rank_violations"
        ),
    )
    n_q = lsh.agg(F.count_distinct(F.col("query_id")).alias("n_queries"))
    dups = (
        lsh.groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )
    return (
        n_q.crossJoin(rank)
        .crossJoin(hits)
        .crossJoin(dups)
        .select(
            "n_queries",
            "n_results",
            "n_rank_violations",
            "n_dup_pairs",
            F.when(
                F.col("_n_hits") / F.col("n_results") >= 0.30, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# q83 — LogisticRegression predict (A7), invariant oracle: binary target
# returnflag=='R' from lineitem numerics. Provable facts about the LBFGS
# fit: MLlib initializes the intercept at the prior log-odds, so the
# objective history STARTS at the class-prior entropy and line-searched
# LBFGS only decreases it → final loss <= prior entropy; train accuracy
# of the fitted model >= the majority-class share minus float eps
# (empirically it ties — the features don't separate returnflag, which
# the invariant is robust to); predictions land in {0, 1}.
# ---------------------------------------------------------------------------


@register(
    "q83_logreg_predict",
    oracle="""
SELECT (SELECT COUNT(*) FROM lineitem) AS n_scored,
       CAST(0 AS BIGINT) AS n_bad_pred,
       1 AS loss_no_worse_than_prior,
       1 AS acc_ge_majority
""",
)
def q83_logreg_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.mllib_wrappers import (
        LogisticRegressionWrapper,
    )

    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "is_return", (F.col("l_returnflag") == "R").cast("int")
    )
    # A classifier is fit once and scored many times — the query's
    # subject is PREDICT. The deterministic LBFGS fit (fixed data, fixed
    # init, fixed iteration cap) is session state, the q47-IVF pattern:
    # repeated bench/driver invocations time scoring, while any cold
    # session (the driver's correctness run) still fits.
    model = session_state(
        spark,
        ("logreg",),
        sf_dir,
        ("lineitem.parquet",),
        lambda: LogisticRegressionWrapper(max_iter=20).fit(
            l, ["l_quantity", "l_discount", "l_tax"], "is_return"
        ),
    )
    hist = model.model_.summary.objectiveHistory
    loss_ok = int(hist[-1] <= hist[0] * (1 + 1e-9))
    scored = model.predict(l)
    # single lazy aggregate (no eager collect): the majority-class
    # comparison is an expression over aggregates in the same pass
    acc = F.avg((F.col("prediction") == F.col("is_return")).cast("double"))
    pos = F.avg(F.col("is_return").cast("double"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum((~F.col("prediction").isin(0, 1)).cast("long")).alias(
            "n_bad_pred"
        ),
        F.lit(loss_ok).alias("loss_no_worse_than_prior"),
        F.when(acc >= F.greatest(pos, 1 - pos) - 1e-9, 1)
        .otherwise(0)
        .alias("acc_ge_majority"),
    )


# ---------------------------------------------------------------------------
# q112 stored corpus index (layouts 'q112', the layout the q112
# docstring always promised): the corpus side's (doc_id, band,
# band_hash) bucket frame and (doc_id, shingles) sets precomputed ONCE
# and saved as bucketed tables — per-run signature work drops to
# Θ(|new batch|). Same catalog-gated mechanism as q02/q121:
# fingerprinted table identity (operators/layout.layout_tag — never
# collides across fixtures, never serves stale data), fresh driver
# sessions never have it so the oracle path is untouched. The index
# params (n, num_hashes, bands) are part of the table name: an index
# built under different LSH params must never be silently served.
# ---------------------------------------------------------------------------
_Q112_PARAMS = dict(n=3, num_hashes=36, bands=12, threshold=0.5)
_Q112_BUCKETS = 16


def _q112_index_tables(sf_dir: str) -> tuple[str, str]:
    """(bands table, shingles table)."""
    from dask_cuml_spark.layouts import layout_tables

    shingles, bands = layout_tables("q112", sf_dir)
    return bands, shingles


# ---------------------------------------------------------------------------
# q112 — incremental near-dup (D2, the daily-ingest shape): documents with
# even ids play the existing corpus, odd ids the new batch; flag each new
# doc that near-duplicates ANY earlier (lower-id) doc. The candidate join
# is bands(new) ⋈ bands(all) — Θ(|new| × bucket hit rate), never
# corpus × corpus — and in production the corpus bucket frame is
# precomputed and stored clustered by (band, band_hash) (operators/
# layout.cluster_write), so the probe is a pruned scan. FULL-VALUE
# oracle: exact all-pairs shingle Jaccard restricted to new-doc targets,
# so every driver run re-proves LSH recall on the incremental path too.
# ---------------------------------------------------------------------------
@register(
    "q112_incremental_dedup",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                               i -> array_to_string(toks[i:i+2], ' ')))
           AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id AND b.doc_id % 2 = 1
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
""",
)
def q112_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dedup import minhash_incremental

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    # stored corpus index when provisioned (layouts 'q112'): only the
    # new batch is shingled+signed per run — value-identical,
    # catalog-gated, absent in fresh sessions so the oracle path is
    # unchanged
    bt, st = _q112_index_tables(sf_dir)
    stored = {}
    if spark.catalog.tableExists(bt) and spark.catalog.tableExists(st):
        stored = dict(
            corpus_bands=spark.table(bt),
            corpus_shingles=spark.table(st),
        )
    out = minhash_incremental(corpus, new, **_Q112_PARAMS, **stored)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# q128 — multimodal decode under the driver's hard gate (r9 verdict task
# 6): the q44 oracle proves the documents×embeddings join, but the decode
# kernels (operators/multimodal) were pytest-only. q127-style injected
# expectations close that: each doc_id deterministically yields a REAL
# PNG payload (gray for even ids, RGB for odd — both of the decoder's
# luma paths) whose pixel values are a closed form of doc_id, the Spark
# side ENCODES then actually DECODES the bytes (operators/multimodal
# _png_encode -> extract_image_stats over Arrow-batched mapInPandas),
# and the DuckDB oracle states the decoded witnesses directly from the
# same closed form — so any corruption in the PNG chunk framing, zlib
# round-trip, scanline handling, RGB ITU-R 601 fixed-point luma, or the
# histogram binning breaks value parity. Witnesses are exact integers
# (luma SUM + bin COUNTS, never a float mean) so the check is
# fp-convention-free. Plan shape: two narrow maps, zero shuffles —
# decode runs at scan speed at 100 TB (the q44 scale row measures the
# same kernel at 500k real PNGs).
#
# Image spec (BIGINT math on both engines): w = 8 + d%5, h = 8 + d%3;
# gray pixel[i] = (d+i)%256 row-major; RGB channels r,g,b =
# (d+3i)%256, (d+3i+1)%256, (d+3i+2)%256 with luma =
# (r*19595 + g*38470 + b*7471 + 32768) >> 16 (PIL convert('L')'s exact
# fixed-point arithmetic — multimodal._png_decode matches it so PIL and
# pure-Python workers agree bit-for-bit).
# ---------------------------------------------------------------------------
_Q128_HIST_SQL = ",\n  ".join(
    f"length(list_filter(lumas, x -> x // 32 = {j})) AS h{j}"
    for j in range(8)
)

@register(
    "q128_image_decode_stats",
    oracle=f"""
WITH px AS (
  SELECT doc_id,
         8 + doc_id % 5 AS width,
         8 + doc_id % 3 AS height,
         CASE WHEN doc_id % 2 = 1 THEN
           list_transform(
             range((8 + doc_id % 5) * (8 + doc_id % 3)),
             i -> (((doc_id + 3*i) % 256) * 19595
                   + ((doc_id + 3*i + 1) % 256) * 38470
                   + ((doc_id + 3*i + 2) % 256) * 7471
                   + 32768) >> 16)
         ELSE
           list_transform(
             range((8 + doc_id % 5) * (8 + doc_id % 3)),
             i -> (doc_id + i) % 256)
         END AS lumas
  FROM documents
)
SELECT doc_id, width, height,
  CAST(list_aggregate(lumas, 'sum') AS BIGINT) AS luma_sum,
  {_Q128_HIST_SQL}
FROM px
ORDER BY doc_id
""",
)
def q128_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.multimodal import (
        _png_encode,
        extract_image_stats,
    )

    # spread the codec work across all cores: the fixture's few row
    # groups would otherwise pin the encode+decode passes to 4 tasks
    # (measured 24.2 s -> 15.8 s at 100x; the residual is the pure-
    # Python codec itself, ~32k docs/s across 32 cores); the shuffled
    # payload is doc_id alone, so this costs ~8 bytes/row
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # columnar output assembly (r17): the payload encode is
            # inherently per-row; the frame is built from flat column
            # arrays, not a list of per-row dicts
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for dd in ids:
                dd = int(dd)
                w, h = 8 + dd % 5, 8 + dd % 3
                i = np.arange(w * h, dtype=np.int64)
                if dd % 2 == 1:
                    arr = (
                        np.stack(
                            [
                                (dd + 3 * i) % 256,
                                (dd + 3 * i + 1) % 256,
                                (dd + 3 * i + 2) % 256,
                            ],
                            axis=1,
                        )
                        .reshape(h, w, 3)
                        .astype(np.uint8)
                    )
                else:
                    arr = ((dd + i) % 256).reshape(h, w).astype(np.uint8)
                payloads.append(_png_encode(arr))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    payloads = d.mapInPandas(gen, "doc_id long, payload binary")
    # decode_mode="png": the strict pure-Python PNG branch — a payload
    # that isn't a well-formed PNG raises instead of falling back to
    # the stub, so this query cannot silently pass on broken encode
    stats = extract_image_stats(payloads, decode_mode="png")
    return stats.select(
        "doc_id",
        "width",
        "height",
        "luma_sum",
        *[
            F.element_at("luma_hist", j + 1).alias(f"h{j}")
            for j in range(8)
        ],
    )
    # no presentation orderBy (the r10 rule: the driver's compare is
    # order-insensitive; a sort of the full witness stream is pure
    # display cost — plan-pinned shuffle-free by test_plan_quality)


# ---------------------------------------------------------------------------
# q151 — paragraph-level MinHash NEAR-dedup (round 13; the r12
# verdict's suggested shape: q150's RefinedWeb granularity crossed
# with q78's MinHash machinery — SlimPajama (Cerebras 2023) dedups
# with MinHash-LSH at Jaccard 0.8 precisely because boilerplate
# passages are NEAR copies, not byte copies; τ=0.8 here is that
# published threshold). A paragraph (q150's fixed 20-token block;
# newline split in production) is near-dup when an EARLIER paragraph —
# global (doc_id, idx) order — has bigram-shingle Jaccard ≥ 0.8; the
# query reports per-doc counts and the near-dup fraction.
#
# Spark shape (everything reused from operators/dedup.py, applied at
# paragraph granularity via a composite pid = doc_id·2^20 + idx — the
# pid ORDER is exactly the (doc_id, idx) order; the 20-bit shift
# supports doc_id < 2^43 (≈8.8e12 docs — comfortably past a 100 TB
# corpus) and <2^20 blocks/doc (20M tokens), enforced in-plan by a
# raise_error guard on the pid expression (r14 — advisor asked that
# the bound be asserted, not just documented);
# the first cut's 2^32 shift would have silently wrapped at
# doc_id ≥ 2^31, inside real-corpus range):
#   paragraphs → distinct bigram hashes (8-byte, the q32/q119
#   collision class; the oracle recomputes Jaccard on the STRINGS,
#   re-proving the shortcut per run) → minhash_signatures(pre_hashed)
#   → banding → bucket-join candidates → EXACT Jaccard verify
#   (candidate-sized work) → later-pid flags → per-doc agg.
#
# Parameter provenance (all three measured on the fixtures, not
# guessed):
#   shingles = BIGRAMS within the block — unigrams degenerate on the
#     fixture's ~30-word vocabulary (the global min word hash lands in
#     ~2% of ALL paragraphs, so every banding scheme buckets Θ(n²)
#     candidates; measured 20.7M candidate pairs from 15.8k paragraphs
#     before the fix);
#   τ = 0.8 — SlimPajama's threshold; ALSO the fixture's measured true
#     pair spectrum is continuous down to exactly J=0.5 (pairs AT the
#     0.5 boundary), so a τ=0.5 gate cannot be met by any AND-banding
#     and the OR-construction (r=1) re-degenerates to Θ(n²) on this
#     vocabulary (measured: the 100× leg filled the disk);
#   b=18, r=2 — knee at J=(1/18)^(1/2·...)≈0.23, and at the WEAKEST
#     possible true pair (exactly J=0.8) the miss probability is
#     (1−0.8²)^18 = 0.36^18 ≈ 1.0e−8 — four orders tighter than the
#     accepted q78 margin (p=0.9998), with junk pairs (measured
#     J≈0.01 between random fixture paragraphs) colliding at ~18·J²
#     ≈ 2e−3 per pair, so the candidate frame stays near-true-sized.
# Precision is 1 by construction (exact verify). The driver oracle
# re-proves full recall against string truth on every run.
# ---------------------------------------------------------------------------
_Q151_P = 20
_Q151_TAU = 0.8
_Q151_HASHES = 36


@register(
    "q151_paragraph_near_dup",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), blocks AS (
  SELECT doc_id, i AS idx,
         toks[(i*{_Q151_P}+1):(i*{_Q151_P}+{_Q151_P})] AS bt
  FROM tok,
       UNNEST(range(0, CAST(ceil(len(toks) / {_Q151_P}.0) AS BIGINT)))
         AS t(i)
), sh AS (
  SELECT DISTINCT doc_id, idx,
         UNNEST(list_transform(range(1, GREATEST(len(bt) - 1, 1) + 1),
                               j -> array_to_string(bt[j:j+1], ' ')))
           AS shingle
  FROM blocks
), sizes AS (
  SELECT doc_id, idx, COUNT(*) AS n FROM sh GROUP BY 1, 2
), inter AS (
  SELECT a.doc_id AS da, a.idx AS ia, b.doc_id AS db, b.idx AS ib,
         COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.shingle = b.shingle
   AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.idx < b.idx))
  GROUP BY 1, 2, 3, 4
), dup AS (
  SELECT DISTINCT i.db AS doc_id, i.ib AS idx
  FROM inter i
  JOIN sizes sa ON i.da = sa.doc_id AND i.ia = sa.idx
  JOIN sizes sb ON i.db = sb.doc_id AND i.ib = sb.idx
  WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= {_Q151_TAU}
), counts AS (
  SELECT doc_id, COUNT(*) AS n_paras FROM blocks GROUP BY 1
), nd AS (
  SELECT doc_id, COUNT(*) AS n_near_dup FROM dup GROUP BY 1
)
SELECT c.doc_id, CAST(c.n_paras AS BIGINT) AS n_paras,
       CAST(COALESCE(nd.n_near_dup, 0) AS BIGINT) AS n_near_dup,
       ROUND(COALESCE(nd.n_near_dup, 0)::DOUBLE / c.n_paras, 6)
         AS near_dup_frac
FROM counts c LEFT JOIN nd ON c.doc_id = nd.doc_id
""",
)
def q151_paragraph_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    )
    toks = F.col("toks")
    n = F.array_size(toks)
    nblocks = F.ceil(n.cast("double") / _Q151_P).cast("int")
    blocks = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nblocks - 1),
                lambda i: F.struct(
                    i.cast("bigint").alias("idx"),
                    # bigram shingles WITHIN the block (2-token slices
                    # of the doc token array, truncating at the block
                    # edge exactly like the oracle's bt[j:j+1] slice);
                    # unigram shingles degenerate on the fixture's
                    # ~30-word vocabulary — the global min word hash
                    # lands in most paragraphs and r=1 banding then
                    # buckets Θ(n²) candidate pairs (measured: the
                    # sf0.1 drive ran away). Bigrams disperse the min
                    # over a vocab² space; the oracle uses the SAME
                    # bigram shingles, so semantics stay string-true.
                    F.array_distinct(
                        F.transform(
                            F.sequence(
                                F.lit(0),
                                F.greatest(
                                    F.least(
                                        n - i * _Q151_P, F.lit(_Q151_P)
                                    )
                                    - 2,
                                    F.lit(0),
                                ),
                            ),
                            lambda j: F.xxhash64(
                                F.slice(toks, i * _Q151_P + j + 1, 2)
                            ),
                        )
                    ).alias("sh"),
                ),
            )
        ).alias("b"),
    ).select(
        "doc_id",
        F.col("b.idx").alias("idx"),
        # the int64-safety bound is ENFORCED, not just documented
        # (advisor r13): out-of-range ids would silently corrupt pid
        # ordering and the `pid div 2^20` doc_id recovery, so the plan
        # raises instead. Two integer comparisons per paragraph row —
        # negligible, and not prunable because pid is always consumed.
        F.when(
            (F.col("doc_id") >= 0)
            & (F.col("doc_id") < F.lit(1 << 43))
            & (F.col("b.idx") < F.lit(1 << 20)),
            F.col("doc_id") * F.lit(1 << 20) + F.col("b.idx"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "q151 pid packing needs 0 <= doc_id < 2^43 and "
                    "< 2^20 blocks/doc"
                )
            )
        )
        .alias("pid"),
        F.col("b.sh").alias("sh"),
    )
    # blocks feeds FOUR consumers (signature agg, both verify sides,
    # per-doc paragraph counts) — without the persist the explode +
    # per-block shingle expression re-runs for each (r16; the same
    # multi-consumer persist minhash_near_dup has carried since r1)
    from dask_cuml_spark.plans.cost import persist_for_reuse

    blocks = persist_for_reuse(blocks)
    sigs = minhash_signatures(
        blocks.select("pid", "sh"),
        id_col="pid",
        shingle_col="sh",
        num_hashes=_Q151_HASHES,
        pre_hashed=True,
    )
    cand = minhash_lsh_candidates(
        sigs, id_col="pid", bands=18, rows_per_band=2
    )
    # exact verify on the 8-byte shingle-hash arrays — candidate-sized
    # work only (operators/dedup.jaccard_verify, q78's verify stage)
    verified = jaccard_verify(
        cand,
        blocks.select("pid", "sh"),
        id_col="pid",
        shingle_col="sh",
        threshold=_Q151_TAU,
    )
    flagged = verified.select(
        F.greatest("id_a", "id_b").alias("pid")
    ).distinct()
    # pid order ≡ (doc_id, idx) order, so greatest() flags the LATER
    # paragraph of each verified pair — first occurrence survives
    per_doc = blocks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras")
    )
    nd = flagged.select(
        # exact integer div — pid = doc_id·2^20 + idx stays in bigint
        F.expr("pid div 1048576").alias("doc_id")
    ).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_near_dup"))
    return per_doc.join(nd, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_near_dup", F.lit(0)).alias("n_near_dup"),
        F.round(
            F.coalesce("n_near_dup", F.lit(0)).cast("double")
            / F.col("n_paras"),
            6,
        ).alias("near_dup_frac"),
    )


# ---------------------------------------------------------------------------
# q152 — perceptual-hash IMAGE near-dedup (round 14; the r13 verdict's
# named gap: every text granularity has a dedup family, images had
# none). The production shape is the standard image-pipeline dedup
# (dHash/pHash + Hamming banding — e.g. the DataComp/LAION dedup
# stacks): decode → 64-bit dHash (operators/multimodal.dhash_signatures,
# Krawetz 2013) → exact-signature collapse → banded Hamming candidate
# pairs over DISTINCT signatures only (operators/dedup.
# banded_hamming_pairs, the q103 pigeonhole machinery) → earliest-doc
# canonical → per-doc flags.
#
# Why collapse BEFORE banding: replica-heavy corpora (the whole point
# of dedup) put thousands of identical signatures in one band bucket —
# the self-join is Θ(group²) on raw rows but Θ(distinct²-bounded,
# candidate-sized) after the collapse, and the collapse itself is a
# map-side-combinable groupBy on an 8-byte key (q150's first-occurrence
# pattern applied to images). Per-doc flags then come back via one
# sig-keyed join — the corpus never self-joins.
#
# Fixture payloads are q128-style closed-form PNGs, built so the
# NEAR-dup truth is generative and DuckDB-checkable end-to-end:
#   img_key = doc_id % 17 picks one of 17 splitmix-mixed 8x9 base
#   patterns; each doc renders its base at a doc-dependent scale
#   (pixel replication, (sy,sx) in {1..3}²) and brightness offset
#   (+9·(doc_id%7), clip-free by construction: base <= 191, off <= 54).
#   dHash is PROVABLY invariant to both (gradient comparisons survive
#   a constant shift; replication scales every block sum by sy*sx), so
#   same-key docs — different bytes, different dims, different
#   brightness — collide at hamming 0, while cross-key signatures are
#   measured >= 20 bits apart (pytest-pinned margin vs the tau=6 gate;
#   6 of 136 cross pairs share a band and exercise the verify-REJECT
#   path). Truth: a doc is a near-dup iff an earlier doc shares its
#   img_key — the full-value oracle below computes exactly that from
#   the closed form, so the whole pipeline (PNG encode → strict decode
#   → rational-arithmetic dHash → banding → verify → canonicalize) is
#   re-proved against generative truth on every driver run.
# Semantics note: canon_id is the earliest doc within SINGLE-HOP
# Hamming-tau of this doc's signature (first-occurrence rule, q150's);
# transitive-closure canonicalization is q135's connected-components
# job and composes on top of the verified pairs unchanged.
# ---------------------------------------------------------------------------
_Q152_KEYS = 17
_Q152_BANDS = 8
_Q152_TAU = 6


def _q152_base(key: int):
    """8x9 base luma pattern for an image key — splitmix64-finalized
    per cell (a linear congruential form measured hamming-0 collisions
    across keys; the mixed form measures min cross-key distance 20)."""
    import numpy as np

    M = (1 << 64) - 1

    def mix(x: int) -> int:
        x &= M
        x = (x ^ (x >> 33)) * 0xFF51AFD7ED558CCD & M
        x = (x ^ (x >> 33)) * 0xC4CEB9FE1A85EC53 & M
        return x ^ (x >> 33)

    out = np.zeros((8, 9), dtype=np.int64)
    for r in range(8):
        for c in range(9):
            out[r, c] = 32 + (
                mix(
                    key * 0x9E3779B97F4A7C15
                    + r * 0xBF58476D1CE4E5B9
                    + c * 0x94D049BB133111EB
                )
                % 160
            )
    return out


@register(
    "q152_phash_image_near_dup",
    oracle=f"""
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY doc_id % {_Q152_KEYS}) AS canon_id,
       CAST(doc_id > MIN(doc_id) OVER (PARTITION BY doc_id % {_Q152_KEYS})
            AS INTEGER) AS is_near_dup
FROM documents
""",
)
def q152_phash_image_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.dedup import banded_hamming_pairs
    from dask_cuml_spark.operators.multimodal import (
        _png_encode_gray,
        dhash_signatures,
    )

    # q128's core-spreading: the codec passes are the only heavy stage
    # and the fixture's few row groups would pin them to 4 tasks; the
    # shuffled payload is doc_id alone (~8 bytes/row)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bases = {k: _q152_base(k) for k in range(_Q152_KEYS)}
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                dd = int(doc_id)
                b = bases[dd % _Q152_KEYS]
                if dd % 5 == 2:
                    # TRUE near-dup (not byte-structural-identical): a
                    # single adjacent-cell swap moves the dHash 1-3
                    # bits (measured 1-3 across all 17 keys,
                    # pytest-pinned) — still <= tau=6, so the
                    # generative truth is unchanged, while the driver
                    # gate now exercises the banding + verify-ACCEPT
                    # path at hamming > 0, not just exact collisions;
                    # cross-key margins erode by <= 3 (measured: still
                    # 20 >> tau)
                    b = b.copy()
                    b[3, 4], b[3, 5] = b[3, 5], b[3, 4]
                sy, sx = 1 + dd % 3, 1 + (dd // 3) % 3
                off = (dd % 7) * 9
                img = (
                    np.repeat(np.repeat(b, sy, axis=0), sx, axis=1) + off
                ).astype(np.uint8)
                rows.append({"doc_id": dd, "payload": _png_encode_gray(img)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(gen, "doc_id long, payload binary")
    # strict PNG decode: a malformed payload raises instead of falling
    # back to the stub (the q128 rule — dedup on stubbed bits would
    # silently pass on broken encode). Pinned via localCheckpoint, NOT
    # persist_for_reuse: the sig frame is per-doc-sized (16 B/row —
    # the unconditional-pin class), and cache() here would be
    # plan-keyed across invocations, letting a repeat run skip the
    # codec pass entirely — measured 0.7 s "warm" vs 14.3 s honest at
    # 100x, a benchmark artifact, not a serving plan
    sigs = dhash_signatures(payloads, decode_mode="png").localCheckpoint(
        eager=False
    )
    # exact-signature collapse: one map-side-combinable groupBy — a
    # 10M-replica image arrives at the reducer pre-collapsed
    rep = sigs.groupBy("sig").agg(
        F.min("doc_id").alias("sig_min")
    ).localCheckpoint(eager=False)
    # banded Hamming pairs over DISTINCT signatures only (id = each
    # signature's earliest doc, so pair order == earliest-doc order)
    pairs = banded_hamming_pairs(
        rep.select(F.col("sig_min").alias("doc_id"), "sig"),
        id_col="doc_id",
        sig_col="sig",
        bands=_Q152_BANDS,
        max_hamming=_Q152_TAU,
    )
    # earliest doc within single-hop tau of each signature: its own
    # first owner, lowered by any neighbor signature with an earlier
    # one (id_a < id_b in pairs, so only the id_a side can lower)
    low = pairs.groupBy(F.col("id_b").alias("sig_min")).agg(
        F.min("id_a").alias("nbr_min")
    )
    eff = rep.join(low, "sig_min", "left").select(
        "sig",
        F.least(
            F.col("sig_min"), F.coalesce("nbr_min", F.col("sig_min"))
        ).alias("canon_id"),
    )
    # per-doc flags via one sig-keyed join (AQE broadcasts eff when
    # small — 17 rows here; replica-heavy corpora keep it tiny at any
    # scale, unique-heavy ones get a plain 8-byte-key hash join)
    return sigs.join(eff, "sig").select(
        "doc_id",
        "canon_id",
        (F.col("doc_id") > F.col("canon_id")).cast("int").alias(
            "is_near_dup"
        ),
    )


# ---------------------------------------------------------------------------
# q161 — AUDIO fingerprinting over binary PCM columns (round 15; the
# task brief's D9 names "image/AUDIO/video as opaque binary columns"
# — images have q44/q128/q152, this is audio's first operator). The
# container ships no audio libs, so — exactly as the brief instructs
# — payloads are deterministic synthetic int16-LE PCM generated
# closed-form from doc_id (the q128/q152 generative-truth pattern),
# while every Spark-side piece is REAL: binary columns, Arrow-batched
# narrow maps, numpy framing/energy, strict malformed-payload raises
# (operators/multimodal.audio_fingerprints). The fingerprint is the
# Wang 2003 (Shazam) constellation idea at its deterministic core:
# energy-peak POSITIONS in a framed representation, folded base-131.
#
# Waveform (8192 samples = 64 frames × 128): integer noise
# ((doc_id + n) % 7 − 3, energy ≤ 1152/frame) everywhere, plus
# K = 3 + doc_id%3 square-wave bursts (amplitude A = 1000 +
# (doc_id%50)·10, period 4) at frames p_k = (doc_id·31 +
# k·(5 + doc_id%7)) % 64 — provably DISTINCT (k ≤ 4, stride ≤ 11 →
# (k₁−k₂)·stride ≤ 44 < 64) and separated from the noise floor by
# ~5 orders of magnitude, so the max/2 energy threshold recovers
# exactly the K planted positions. Full-value oracle: DuckDB derives
# the same positions and fold closed-form from doc_id (131^i ≤ 3e8
# and every term ≤ 2e10 — double-exact well under 2^53).
# ---------------------------------------------------------------------------
_Q161_FRAME_W = 128
_Q161_N_FRAMES = 64


@register(
    "q161_audio_fingerprint",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         list_sort(list_transform(
           range(3 + doc_id % 3),
           k -> (doc_id * 31 + k * (5 + doc_id % 7)) % {_Q161_N_FRAMES}
         )) AS pos
  FROM documents
)
SELECT doc_id,
       CAST({_Q161_FRAME_W * _Q161_N_FRAMES} AS BIGINT) AS n_samples,
       CAST(len(pos) AS INTEGER) AS n_peaks,
       CAST(list_sum(list_transform(
         range(len(pos)), i -> (pos[i + 1] + 1) * (131 ** i)
       )) AS BIGINT) AS fp
FROM p
""",
)
def q161_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.multimodal import audio_fingerprints

    fw, nf = _Q161_FRAME_W, _Q161_N_FRAMES
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = fw * nf
        idx = np.arange(n, dtype=np.int64)
        frame_pos = np.arange(fw, dtype=np.int64)
        square = np.where(frame_pos % 4 < 2, 1, -1).astype(np.int64)
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                dd = int(doc_id)
                x = ((dd + idx) % 7 - 3).astype(np.int64)  # noise
                k_n = 3 + dd % 3
                stride = 5 + dd % 7
                amp = 1000 + (dd % 50) * 10
                for k in range(k_n):
                    p = (dd * 31 + k * stride) % nf
                    x[p * fw : (p + 1) * fw] += amp * square
                rows.append(
                    {
                        "doc_id": dd,
                        "payload": x.astype("<i2").tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(gen, "doc_id long, payload binary")
    return audio_fingerprints(
        payloads, frame_w=fw, n_frames=nf
    ).select("doc_id", "n_samples", "n_peaks", "fp")


# ---------------------------------------------------------------------------
# q163 — VIDEO scene-cut / shot-boundary detection (round 16; closes
# the D9 brief's third modality — images q44/q128/q152, audio q161,
# video previously had only frame SAMPLING). A "video" is an ordered
# sequence of binary frame payloads keyed (doc_id, frame_idx); a cut
# falls where consecutive frames' 64-bit dHash signatures differ by
# more than tau bits (operators/multimodal.scene_cut_flags — the
# pairwise frame-differencing formulation of Zhang et al. 1993,
# "Automatic partitioning of full-motion video", with the perceptual
# hash standing in for the pixel histogram).
#
# Generative truth (the q152/q161 pattern — no video codecs in the
# container, so frames are closed-form PNGs; every Spark-side piece
# is REAL: PNG encode → STRICT decode → rational-arithmetic dHash →
# lag window → bit_count): each doc is 16 frames split into shots by
# n_cuts = 1 + doc_id%3 planted cuts at frames
# c_k = ((doc_id·13 + k·(4 + doc_id%5)) % 15) + 1  (provably
# distinct: k ≤ 2, stride ∈ [4,8], (k₁−k₂)·stride ≢ 0 mod 15).
# Frames within a shot render ONE 8×9 pattern at a doc-dependent
# pixel-replication scale with a PER-FRAME brightness offset — bytes
# differ frame to frame, signatures don't (dHash's two provable
# invariances, exercised on every frame). Detection is provable in
# BOTH directions, not probabilistic: rows 0-1 of every pattern are a
# monotone "parity strip" whose gradient direction encodes shot
# parity, so CONSECUTIVE shots differ in ≥ 16 signature bits (> τ=6)
# no matter what the splitmix-mixed rows 2-7 do, while within-shot
# distance is exactly 0. The oracle replays the planted cut list
# closed-form from doc_id; cuts_fp folds the ascending cut positions
# base-131 (the q161 fold — int64-exact at ≤ 3 cuts).
# ---------------------------------------------------------------------------
_Q163_N_FRAMES = 16
_Q163_TAU = 6


def _q163_pattern(dd: int, shot: int):
    """8×9 shot pattern: rows 0-1 = the shot-parity monotone strip
    (the provable ≥16-bit cross-cut margin), rows 2-7 splitmix-mixed
    per (doc, shot, cell) — q152's mixing (a linear form measured
    cross-key hamming-0 collisions; the finalizer doesn't)."""
    import numpy as np

    M = (1 << 64) - 1

    def mix(x: int) -> int:
        x &= M
        x = (x ^ (x >> 33)) * 0xFF51AFD7ED558CCD & M
        x = (x ^ (x >> 33)) * 0xC4CEB9FE1A85EC53 & M
        return x ^ (x >> 33)

    out = np.zeros((8, 9), dtype=np.int64)
    cols = np.arange(9, dtype=np.int64)
    strip = 40 + cols * 10 if shot % 2 == 0 else 120 - cols * 10
    out[0] = strip
    out[1] = strip
    for r in range(2, 8):
        for c in range(9):
            out[r, c] = 32 + (
                mix(
                    dd * 0x9E3779B97F4A7C15
                    + shot * 0xD6E8FEB86659FD93
                    + r * 0xBF58476D1CE4E5B9
                    + c * 0x94D049BB133111EB
                )
                % 160
            )
    return out


@register(
    "q163_video_scene_cuts",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         list_sort(list_transform(
           range(1 + doc_id % 3),
           k -> ((doc_id * 13 + k * (4 + doc_id % 5)) % 15) + 1
         )) AS cuts
  FROM documents
)
SELECT doc_id,
       CAST({_Q163_N_FRAMES} AS INTEGER) AS n_frames,
       CAST(len(cuts) AS INTEGER) AS n_cuts,
       CAST(list_sum(list_transform(
         range(len(cuts)), i -> (cuts[i + 1] + 1) * (131 ** i)
       )) AS BIGINT) AS cuts_fp
FROM p
""",
)
def q163_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from dask_cuml_spark.operators.multimodal import (
        _png_encode_gray,
        scene_cut_flags,
    )

    nf = _Q163_N_FRAMES
    # explode to (doc, frame) BEFORE spreading so the codec map — the
    # only heavy stage — parallelizes over frames, not docs (q128's
    # core-spreading; the shuffled payload is 12 bytes/row)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(nf - 1))
            ).alias("frame_idx"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat_cache: dict = {}
        cut_cache: dict = {}
        for pdf in it:
            # columnar output assembly (r17, as q128): per-row encode,
            # flat column arrays out
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            fis = pdf["frame_idx"].to_numpy(dtype=np.int32)
            payloads = []
            for dd, f in zip(ids, fis):
                dd, f = int(dd), int(f)
                cuts = cut_cache.get(dd)
                if cuts is None:
                    stride = 4 + dd % 5
                    cuts = sorted(
                        ((dd * 13 + k * stride) % 15) + 1
                        for k in range(1 + dd % 3)
                    )
                    cut_cache[dd] = cuts
                shot = sum(1 for c in cuts if c <= f)
                pat = pat_cache.get((dd, shot))
                if pat is None:
                    pat = _q163_pattern(dd, shot)
                    pat_cache[(dd, shot)] = pat
                sy, sx = 1 + dd % 2, 1 + (dd // 2) % 2
                off = (f % 5) * 7  # per-FRAME brightness: bytes vary
                img = (
                    np.repeat(np.repeat(pat, sy, axis=0), sx, axis=1)
                    + off
                ).astype(np.uint8)
                payloads.append(_png_encode_gray(img))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fis, "payload": payloads}
            )

    frames = d.mapInPandas(
        gen, "doc_id long, frame_idx int, payload binary"
    )
    flags = scene_cut_flags(
        frames, tau=_Q163_TAU, decode_mode="png"
    )
    agg = flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.sum(F.col("is_cut").cast("int")).cast("int").alias("n_cuts"),
        F.array_sort(
            F.collect_list(F.when(F.col("is_cut"), F.col("frame_idx")))
        ).alias("_cuts"),
    )
    # fold ascending cut positions base-131: Horner over the REVERSED
    # list ≡ Σ (pos_i + 1)·131^i (the q161 fold, int64-exact)
    return agg.select(
        "doc_id",
        "n_frames",
        "n_cuts",
        F.aggregate(
            F.reverse(F.col("_cuts")),
            F.lit(0).cast("long"),
            lambda acc, x: acc * F.lit(131).cast("long")
            + x.cast("long")
            + F.lit(1).cast("long"),
        ).alias("cuts_fp"),
    )
