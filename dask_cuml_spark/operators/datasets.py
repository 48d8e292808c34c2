"""Synthetic dataset generators (reference: cuml/dask/datasets —
make_blobs / make_regression; SURVEY.md §2A A18).

spark.range(n) + seeded rand()/randn() column expressions: fully
distributed generation, no driver materialization — n rows at any scale
is one narrow stage.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_cuml_spark.functions.vector import array_lit


def make_blobs(
    spark: SparkSession,
    n_samples: int = 1000,
    n_features: int = 8,
    centers: int = 4,
    cluster_std: float = 1.0,
    center_box: tuple[float, float] = (-10.0, 10.0),
    seed: int = 42,
) -> DataFrame:
    """(id, features array<double>, label) — gaussian blobs around fixed
    random centers. Centers are driver-side (O(k·d)); points distributed."""
    rng = np.random.default_rng(seed)
    ctrs = rng.uniform(center_box[0], center_box[1], size=(centers, n_features))
    df = spark.range(n_samples).withColumn(
        "label", (F.col("id") % centers).cast("int")
    )
    feature = F.array(
        *[
            F.element_at(
                array_lit([ctrs[c][d] for c in range(centers)]),
                F.col("label") + 1,
            )
            + F.randn(seed + d) * cluster_std
            for d in range(n_features)
        ]
    )
    return df.withColumn("features", feature)


def make_classification(
    spark: SparkSession,
    n_samples: int = 1000,
    n_features: int = 8,
    n_informative: int = 4,
    n_classes: int = 2,
    class_sep: float = 2.0,
    seed: int = 42,
) -> DataFrame:
    """(id, features array<double>, label) — classification data in the
    cuml.dask.datasets.make_classification spirit (SURVEY §2A A18):
    class centroids on scaled hypercube vertices in the informative
    subspace, gaussian noise everywhere, non-informative dims pure noise.
    Simplified vs sklearn (no redundant/repeated linear combos), which is
    documented API surface, not a numeric-parity target. Label assignment
    is id % n_classes — deterministic and partitioning-independent;
    generation is one narrow distributed stage, centroids driver-side
    O(k·d)."""
    if n_informative > n_features:
        raise ValueError("n_informative must be <= n_features")
    rng = np.random.default_rng(seed)
    # hypercube vertices (±1 per informative dim), scaled by class_sep
    verts = rng.choice([-1.0, 1.0], size=(n_classes, n_informative))
    centroids = verts * class_sep
    df = spark.range(n_samples).withColumn(
        "label", (F.col("id") % n_classes).cast("int")
    )
    cols = []
    for d in range(n_informative):
        center_d = F.element_at(
            array_lit([centroids[c][d] for c in range(n_classes)]),
            F.col("label") + 1,
        )
        cols.append(center_d + F.randn(seed + 10_000 + d))
    for d in range(n_informative, n_features):
        cols.append(F.randn(seed + 10_000 + d))
    return df.withColumn("features", F.array(*cols))


def make_regression(
    spark: SparkSession,
    n_samples: int = 1000,
    n_features: int = 4,
    noise: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """(id, x0..x{k-1}, y) with known coefficients coef_ attached as
    DataFrame metadata-by-convention (returned via .attrs-style tuple)."""
    rng = np.random.default_rng(seed)
    coef = rng.uniform(-5, 5, size=n_features)
    df = spark.range(n_samples)
    for d in range(n_features):
        df = df.withColumn(f"x{d}", F.randn(seed + 1000 + d))
    y = F.lit(0.0)
    for d in range(n_features):
        y = y + F.col(f"x{d}") * float(coef[d])
    df = df.withColumn("y", y + F.randn(seed + 2000) * noise)
    df.coef_ = coef  # type: ignore[attr-defined]
    return df
