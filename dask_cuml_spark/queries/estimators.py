"""Declared queries for the estimator surface that round 1 left
pytest-only (VERDICT r1 "What's missing" #2): ElasticNet/Lasso (A8),
RandomForest (A9), train_test_split (A17), make_blobs (A18), plus the
k-means|| parity fit (A1 init parity) and streaming dropDuplicates.

Oracle strategy — two tiers, both hash-checked by the driver:
  * full-value oracles where the operator's math is expressible in both
    engines (q96: the multiplicative-hash split IS plain integer
    arithmetic; q98: streaming dedup ≡ batch DISTINCT);
  * invariant oracles for iterative/seeded fits (q94/q95/q97/q99): the
    Spark side computes PROVABLE properties of the fitted model (e.g.
    "the ElasticNet solution's penalized objective is no worse than the
    OLS solution's" — true because the optimizer minimizes exactly that
    objective) and emits them as integers; the oracle states the
    expected constants. Weaker than value parity, but each invariant is
    chosen to be scale-independent and failure means a real bug, not
    noise. [P `cuml/dask/linear_model/`, `cuml/dask/ensemble/`,
    dask-ml train_test_split, `cuml/dask/datasets/`,
    `dask_cuml/cluster/kmeans.py` k-means|| init]
"""

from __future__ import annotations

import tempfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_cuml_spark.io import load_table, source_schema
from dask_cuml_spark.plans.cost import session_state
from dask_cuml_spark.registry import register

# ---------------------------------------------------------------------------
# q94 — ElasticNet vs OLS (A8): fit both on (l_quantity, l_discount,
# l_tax) → l_extendedprice and verify two optimality facts:
#   * OLS minimizes RSS            → rss(ols) <= rss(enet)   (provable)
#   * obj(enet) <= obj(ols) for obj = RSS/(2n) + raw-space penalty —
#     EMPIRICAL for this fixture, not provable: even with
#     standardization=False Spark ML optimizes the objective on the
#     std-scaled label, so the effective penalty differs from the raw
#     form checked here by a label-std factor (~1e4 for
#     l_extendedprice); the inequality holds comfortably on the fixture
#     and guards against optimizer regressions (ADVICE r2).
# Tolerances are relative (1e-9) — both sides are driver-side doubles
# computed from Spark aggregates.
# ---------------------------------------------------------------------------
_Q94_FEATURES = ["l_quantity", "l_discount", "l_tax"]
_Q94_ALPHA = 1.0
_Q94_L1 = 0.5


@register(
    "q94_elasticnet_vs_ols",
    oracle="""
SELECT 3 AS n_features,
       1 AS ols_rss_no_worse,
       1 AS enet_obj_no_worse,
       1 AS coefs_finite
""",
)
def q94_elasticnet_vs_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.linear import LinearRegression
    from dask_cuml_spark.operators.mllib_wrappers import ElasticNetWrapper

    l = load_table(spark, sf_dir, "lineitem").select(
        *_Q94_FEATURES, "l_extendedprice"
    )
    ols = LinearRegression().fit(l, _Q94_FEATURES, "l_extendedprice")
    enet = ElasticNetWrapper(
        alpha=_Q94_ALPHA,
        l1_ratio=_Q94_L1,
        max_iter=200,
        standardization=False,
    ).fit(l, _Q94_FEATURES, "l_extendedprice")

    def resid_sq(coef: np.ndarray, intercept: float):
        pred = F.lit(float(intercept))
        for c, w in zip(_Q94_FEATURES, coef):
            pred = pred + F.col(c) * float(w)
        resid = F.col("l_extendedprice") - pred
        return resid * resid

    def penalty(coef: np.ndarray) -> float:
        l1 = float(np.abs(coef).sum())
        l2 = float((coef**2).sum())
        return _Q94_ALPHA * (_Q94_L1 * l1 + (1 - _Q94_L1) / 2 * l2)

    # both models' RSS in ONE pass; the objective comparison is an
    # expression over the aggregates (round-4: was 3 driver actions)
    pen_ols, pen_enet = penalty(ols.coef_), penalty(enet.coef_)
    finite = np.isfinite(enet.coef_).all() and np.isfinite(ols.coef_).all()
    n = F.count(F.lit(1)).cast("double")
    rss_ols = F.sum(resid_sq(ols.coef_, ols.intercept_))
    rss_enet = F.sum(resid_sq(enet.coef_, enet.intercept_))
    return l.agg(
        F.lit(len(_Q94_FEATURES)).alias("n_features"),
        F.when(rss_ols <= rss_enet * (1 + 1e-9), 1)
        .otherwise(0)
        .alias("ols_rss_no_worse"),
        F.when(
            rss_enet / (2 * n) + pen_enet
            <= (rss_ols / (2 * n) + pen_ols) * (1 + 1e-9),
            1,
        )
        .otherwise(0)
        .alias("enet_obj_no_worse"),
        F.lit(int(bool(finite))).alias("coefs_finite"),
    )


# ---------------------------------------------------------------------------
# q95 — RandomForest classifier (A9): seeded fit on the embedding head
# dims → label; score a held-out id range. Invariants: every held-out
# row is scored exactly once, and every prediction lies in the TRAINING
# label domain (the forest can only vote for seen classes).
# ---------------------------------------------------------------------------
@register(
    "q95_random_forest",
    oracle="""
SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 100) AS n_scored,
       0 AS n_out_of_domain
""",
)
def q95_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.mllib_wrappers import RandomForestWrapper

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        *[
            F.element_at("embedding", i + 1).cast("double").alias(f"x{i}")
            for i in range(4)
        ],
    )
    feature_cols = [f"x{i}" for i in range(4)]
    train = e.filter(F.col("vec_id") >= 100)
    test = e.filter(F.col("vec_id") < 100)
    rf = RandomForestWrapper(
        task="classification", num_trees=10, max_depth=4, seed=7
    ).fit(train, feature_cols, "label")
    pred = rf.predict(test, output_col="pred")
    domain = train.select(
        F.col("label").cast("double").alias("pred")
    ).distinct()
    return pred.agg(
        F.count(F.lit(1)).alias("n_scored")
    ).crossJoin(
        pred.join(F.broadcast(domain), "pred", "left_anti").agg(
            F.count(F.lit(1)).alias("n_out_of_domain")
        )
    )


# ---------------------------------------------------------------------------
# q96 — train/test split (A17), FULL-value oracle: the multiplicative-
# hash split is plain integer arithmetic, so DuckDB reproduces the exact
# row assignment — per-split counts and balance stats hash-match.
# ---------------------------------------------------------------------------
@register(
    "q96_train_test_split",
    oracle="""
SELECT CASE WHEN ((c_custkey % 10000) * 2654435761) % 10000 < 2500
            THEN 'test' ELSE 'train' END AS split,
       COUNT(*) AS n,
       ROUND(AVG(c_acctbal), 6) AS avg_bal,
       MIN(c_custkey) AS min_key,
       MAX(c_custkey) AS max_key
FROM customer
GROUP BY 1
""",
)
def q96_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.preprocessing import train_test_split

    c = load_table(spark, sf_dir, "customer")
    train, test = train_test_split(
        c, "c_custkey", test_fraction=0.25, method="multiplicative"
    )
    both = train.withColumn("split", F.lit("train")).unionByName(
        test.withColumn("split", F.lit("test"))
    )
    return both.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# q97 — make_blobs (A18): distributed generation, then recover the
# structure: exact per-label counts (labels are id % centers —
# partitioning-independent) and per-center mean recovery within a bound
# that standard-normal noise exceeds with probability < 1e-80
# (|mean - center| < 0.5 with se ≈ 0.045).
# ---------------------------------------------------------------------------
@register(
    "q97_make_blobs",
    oracle="""
SELECT * FROM (VALUES (0, 500, 1), (1, 500, 1), (2, 500, 1), (3, 500, 1))
  AS t(label, n_points, means_ok)
""",
)
def q97_make_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.datasets import make_blobs

    centers, dims = 4, 4
    blobs = make_blobs(
        spark,
        n_samples=2000,
        n_features=dims,
        centers=centers,
        cluster_std=1.0,
        seed=7,
    )
    # the true centers make_blobs drew (same seed, driver-side O(k·d))
    rng = np.random.default_rng(7)
    true = rng.uniform(-10.0, 10.0, size=(centers, dims))
    agg = blobs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_points"),
        *[
            F.avg(F.element_at("features", d + 1)).alias(f"m{d}")
            for d in range(dims)
        ],
    )
    ok = F.lit(True)
    for c in range(centers):
        for d in range(dims):
            ok = ok & F.when(
                F.col("label") == c,
                F.abs(F.col(f"m{d}") - float(true[c][d])) < 0.5,
            ).otherwise(F.lit(True))
    return agg.select(
        F.col("label").cast("int").alias("label"),
        "n_points",
        ok.cast("int").alias("means_ok"),
    )


# ---------------------------------------------------------------------------
# q98 — streaming deduplication: dropDuplicates over a replayed document
# stream ≡ batch DISTINCT — a full-value oracle for streaming state
# (promoted from a round-1 pytest per VERDICT "Next round" #8).
# ---------------------------------------------------------------------------
@register(
    "q98_stream_dedup",
    oracle="""
SELECT lang, COUNT(DISTINCT text) AS n_distinct_texts
FROM documents
GROUP BY lang
""",
)
def q98_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.streaming import _state_partitions, auto_state_partitions

    schema = source_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    deduped = (
        stream.select("lang", "text")
        .dropDuplicates(["lang", "text"])
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_distinct_texts"))
    )
    name = f"dedup_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt, _state_partitions(
        spark, auto_state_partitions(sf_dir, table="documents")
    ):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# q99 — k-means|| parity fit (A1 init parity with the reference's
# scalable init): seeded MLlib KMeans. Invariants: every vector gets a
# cluster in [0, k), and the fitted inertia beats the k=1 optimum (the
# global mean) — k-means|| + Lloyd not improving on one centroid would
# mean the fit is broken. The fit is session state (plans/cost): an
# index/model is fit once and queried many times.
# ---------------------------------------------------------------------------


@register(
    "q99_kmeans_parallel_fit",
    oracle="""
SELECT (SELECT COUNT(*) FROM embeddings) AS n_assigned,
       0 AS n_bad_cluster,
       1 AS beats_single_center
""",
)
def q99_kmeans_parallel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.mllib_wrappers import KMeansMLlib

    k = 8
    e = load_table(spark, sf_dir, "embeddings")
    m = session_state(
        spark,
        ("kmeans", k),
        sf_dir,
        ("embeddings.parquet",),
        lambda: KMeansMLlib(k=k, max_iter=10, seed=1).fit(e),
    )
    inertia = float(m.model_.summary.trainingCost)
    # k=1 optimum: SSE to the global mean = Σ‖x‖² − n·‖mean‖², computed
    # dimension-agnostically in-plan (round-4: was first() + collect + a
    # final agg = 3 driver actions): per-dim sums via posexplode → one
    # small shuffle on the dim id; ‖mean‖² = Σ(s_d/n)² = Σ s_d² / n².
    stats = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(
            F.aggregate(
                F.transform(
                    "embedding", lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
        ).alias("ss"),
    )
    dim_sums = (
        e.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg(F.sum(F.col("v").cast("double")).alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).alias("sum_s_sq"))
    )
    assigned = m.predict(e).select("vec_id", "cluster")
    checks = assigned.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum(
            ((F.col("cluster") < 0) | (F.col("cluster") >= k)).cast("int")
        ).alias("n_bad_cluster"),
    )
    sse_single = F.col("ss") - F.col("sum_s_sq") / F.col("n")
    return (
        checks.crossJoin(stats)
        .crossJoin(dim_sums)
        .select(
            "n_assigned",
            "n_bad_cluster",
            F.when(F.lit(inertia) <= sse_single * (1 + 1e-9), 1)
            .otherwise(0)
            .alias("beats_single_center"),
        )
    )


# ---------------------------------------------------------------------------
# q101 — make_classification (A18, third generator — VERDICT r2 missing
# #3): distributed generation, then recover the planted structure:
# per-class counts are exact (label = id % n_classes, partitioning-
# independent), per-class means of the informative dims land within 0.5
# of the hypercube centroid (se ≈ 0.045 at 500/class; violation prob
# < 1e-80), and the non-informative dims have near-zero class means.
# ---------------------------------------------------------------------------
@register(
    "q101_make_classification",
    oracle="""
SELECT * FROM (VALUES (0, 500, 1, 1), (1, 500, 1, 1),
                      (2, 500, 1, 1), (3, 500, 1, 1))
  AS t(label, n_points, means_ok, noise_ok)
""",
)
def q101_make_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.datasets import make_classification

    n_classes, n_informative, n_features = 4, 3, 6
    df = make_classification(
        spark,
        n_samples=2000,
        n_features=n_features,
        n_informative=n_informative,
        n_classes=n_classes,
        class_sep=2.0,
        seed=11,
    )
    # the centroids the generator drew (same seed, driver-side O(k·d))
    rng = np.random.default_rng(11)
    verts = rng.choice([-1.0, 1.0], size=(n_classes, n_informative))
    centroids = verts * 2.0
    agg = df.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_points"),
        *[
            F.avg(F.element_at("features", d + 1)).alias(f"m{d}")
            for d in range(n_features)
        ],
    )
    means_ok = F.lit(True)
    for c in range(n_classes):
        for d in range(n_informative):
            means_ok = means_ok & F.when(
                F.col("label") == c,
                F.abs(F.col(f"m{d}") - float(centroids[c][d])) < 0.5,
            ).otherwise(F.lit(True))
    noise_ok = F.lit(True)
    for d in range(n_informative, n_features):
        noise_ok = noise_ok & (F.abs(F.col(f"m{d}")) < 0.5)
    return agg.select(
        F.col("label").cast("int").alias("label"),
        "n_points",
        means_ok.cast("int").alias("means_ok"),
        noise_ok.cast("int").alias("noise_ok"),
    )


# ---------------------------------------------------------------------------
# q102 — adjusted Rand index (A19): FULL-VALUE oracle — ARI between two
# deterministic labelings of customer (market segment vs nationkey%5)
# is closed-form from the contingency table, which DuckDB computes in
# plain SQL with the same double-precision expression tree (all
# intermediate sums are exact integers in double at these scales, so
# summation order is immaterial). The whole computation is one in-plan
# aggregate (operators.metrics.adjusted_rand_frame): building the frame
# runs no job. Self-ARI == 1.0 exactly (sum_ij == max_index ⇒ the ratio
# is 1) is the built-in sanity invariant.
# ---------------------------------------------------------------------------
@register(
    "q102_adjusted_rand",
    oracle="""
WITH l AS (
  SELECT c_mktsegment AS a, c_nationkey % 5 AS b FROM customer
), cont AS (
  SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS n FROM l GROUP BY a, b
), ra AS (
  SELECT a, SUM(n) AS na FROM cont GROUP BY a
), cb AS (
  SELECT b, SUM(n) AS nb FROM cont GROUP BY b
), s AS (
  SELECT (SELECT SUM(n * (n - 1) / 2.0) FROM cont) AS sum_ij,
         (SELECT SUM(na * (na - 1) / 2.0) FROM ra) AS sum_a,
         (SELECT SUM(nb * (nb - 1) / 2.0) FROM cb) AS sum_b,
         (SELECT SUM(n) FROM cont) AS n
)
SELECT ROUND((sum_ij - sum_a * sum_b / (n * (n - 1) / 2.0))
           / ((sum_a + sum_b) / 2.0 - sum_a * sum_b / (n * (n - 1) / 2.0)),
           6) AS ari,
       1 AS self_ari_ok,
       CAST(n AS BIGINT) AS n_rows
FROM s
""",
)
def q102_adjusted_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.metrics import adjusted_rand_frame, ari_sql

    c = load_table(spark, sf_dir, "customer")
    labeled = c.select(
        F.col("c_mktsegment").alias("a"),
        (F.col("c_nationkey") % 5).alias("b"),
    )
    # the (a, a) contingency cells ARE a's marginal, so self-ARI reads
    # the same sums with sum_ij = sum_b = sum_a
    self_ari = ari_sql("sum_a", "sum_a", "sum_a", "n")
    return adjusted_rand_frame(labeled, "a", "b").select(
        F.expr("round(ari, 6) AS ari"),
        F.expr(f"CAST({self_ari} = 1D AS INT) AS self_ari_ok"),
        F.expr("CAST(n AS BIGINT) AS n_rows"),
    )


# ---------------------------------------------------------------------------
# q146 — STRATIFIED train/test split (A17's second half: cuml's
# train_test_split(..., stratify=) — q96 covers the plain hash split,
# whose per-stratum counts are only binomially close to the target;
# stratified mode guarantees floor(4/5 · n_stratum) train rows EXACTLY
# per stratum). FULL-VALUE oracle: the assignment is pure integer
# arithmetic — multiplicative-hash bucket order, two-level prefix-sum
# rank, rational 4/5 cutoff — so DuckDB reproduces every row's label
# via the equivalent one-window formulation; the Spark side NEVER runs
# a stratum-sized window (operators/preprocessing.py scale notes), and
# the agreement of the two formulations is itself part of what the
# oracle proves. A pytest additionally pins the exact per-stratum
# proportions (the cuml semantics).
# ---------------------------------------------------------------------------
@register(
    "q146_stratified_split",
    oracle="""
WITH r AS (
  SELECT doc_id, lang,
         ((doc_id % 4096) * 2654435761) % 4096 AS bucket
  FROM documents
), rk AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS g,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM r
)
SELECT doc_id, lang,
       CASE WHEN g <= (4 * n) // 5 THEN 'train' ELSE 'test' END AS split
FROM rk
""",
)
def q146_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.preprocessing import (
        stratified_split_labels,
    )

    d = load_table(spark, sf_dir, "documents")
    return stratified_split_labels(
        d, "doc_id", "lang", train_num=4, train_den=5
    )
