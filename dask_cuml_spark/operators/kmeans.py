"""KMeans (reference: dask_cuml/cluster/kmeans.py — Lloyd's algorithm,
per-GPU shard partials with centroid allreduce per iteration; SURVEY.md
§2A A1, §3.1).

Spark-first translation of the MNMG loop:
  - centroids live on the driver (O(k·d) model state) and are broadcast
    into the assignment expression each iteration;
  - the assignment + per-cluster partial sums is ONE groupBy aggregate
    (Catalyst partial+final agg ≡ the NCCL allreduce);
  - the input DataFrame is cached once, so each iteration is a single
    scan-free stage over the cached columnar blocks.

Assignment uses functions.vector l2_sq (codegen, no UDF). Sums are done
per-dimension with F.aggregate over the array column — the whole
iteration never leaves the JVM.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _assignment_expr(vec_col: str, centers: np.ndarray) -> Column:
    """argmin_c ||x - c||² over a literal centroid table with a
    deterministic (dist, cid) tie-break (array_position returns the
    FIRST index holding the min — same earliest-centroid-wins rule as
    the strict-less-than chain this replaces). Two wins over the chain:
    (1) the centroid table is one parsed SQL literal
    (functions.vector.matrix_lit) instead of ~0.5 s of per-element py4j
    lit() round trips per call at k=8, dim=64; (2) each distance fold
    evaluates exactly ONCE — the old when(d_i < best_d)-chain nested
    every previous d inside best_d, and with no common-subexpression
    elimination in the interpreted higher-order fold that re-evaluated
    O(k²) folds per row. Measured on q76 (fit+predict, 200k×64 vectors,
    100×): 18.8 s → 1.2 s."""
    from dask_cuml_spark.functions.vector import matrix_lit

    dists = F.transform(
        matrix_lit(centers),
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def nearest_centers(
    df: DataFrame,
    vec_col: str,
    centers: np.ndarray,
    n: int = 1,
    output_col: str = "_cells",
    strategy: str = "auto",
) -> DataFrame:
    """Append an array<int> column of the n nearest centroid ids, in
    exact (dist², cid) ascending order — the shared primitive under IVF
    cell assignment (n=1) and probe selection (n=nprobe).

    strategy='expr' (the formulation SQL oracles mirror) evaluates a
    k×dim interpreted fold per row — fine at the fixture's k≤16, but
    Θ(rows·k·dim) of CodegenFallback work: with cells sized constant
    (n_cells ∝ n, the IVF scale posture) that term grows Θ(n²·dim/cell)
    and dominates the whole search. strategy='gemm' computes the same
    distances as ONE dense BLAS product per Arrow batch (mapInPandas —
    same kernel family as IVFIndex.search's cogrouped GEMM) and top-n
    selects with the identical (dist², cid) tie-break.

    'auto' takes plans/cost.centers_strategy's side, gated on the fold
    work rows_bytes × k; expr keeps every oracle-pinned fixture path on
    the fold the SQL oracles mirror.
    """
    from collections.abc import Iterator

    import pandas as pd

    if strategy == "auto":
        from dask_cuml_spark.plans.cost import centers_strategy

        strategy = centers_strategy(df, centers.shape[0])
    if strategy == "expr":
        from dask_cuml_spark.functions.vector import matrix_lit

        dists = F.transform(
            matrix_lit(centers),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    c,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        structs = F.transform(
            dists,
            lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("cid")),
        )
        probe = F.transform(
            F.slice(F.array_sort(structs), 1, n), lambda s: s["cid"]
        )
        return df.withColumn(output_col, probe)

    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(centers, dtype=np.float64)
    )
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    in_cols = df.columns
    schema = StructType(
        list(df.schema.fields)
        + [StructField(output_col, ArrayType(IntegerType()))]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        c_norms = (C * C).sum(axis=1)
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # full d² (not the dropped-|x|² fit shortcut) so the sort
            # key matches the expr fold's quantity; ties break on cid
            # via stable argsort over (d², cid) exactly like the expr
            # path's array_sort on (d, cid) structs
            d2 = (
                (X * X).sum(axis=1)[:, None]
                + c_norms[None, :]
                - 2.0 * (X @ C.T)
            )
            np.maximum(d2, 0.0, out=d2)
            if n == 1:
                top = d2.argmin(axis=1)[:, None]  # lowest cid wins ties
            else:
                part = np.argsort(d2, axis=1, kind="stable")[:, :n]
            out = pdf[in_cols].copy()
            out[output_col] = [
                [int(v) for v in row]
                for row in (top if n == 1 else part)
            ]
            yield out

    return df.mapInPandas(kernel, schema)


def _partial_sums(df: DataFrame, vec_col: str, centers: np.ndarray) -> DataFrame:
    """Per-partition assignment (argmin L2, lowest-index tie-break) +
    per-cluster partial sums, as one mapInPandas GEMM kernel."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("cid", IntegerType()),
            StructField("n", LongType()),
            StructField("vec_sum", ArrayType(DoubleType())),
            StructField("sse", DoubleType()),
        ]
    )
    k = centers.shape[0]
    bc = df.sparkSession.sparkContext.broadcast(centers)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        c_norms = (C * C).sum(axis=1)
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # d² = |x|² + |c|² - 2x·c ; |x|² constant per row → drop it
            # from the argmin, add it back for the per-cluster SSE partial
            scores = c_norms[None, :] - 2.0 * (X @ C.T)
            assign = scores.argmin(axis=1)  # lowest index wins ties
            min_score = scores.min(axis=1)
            x_norms = (X * X).sum(axis=1)
            rows = []
            for cid in range(k):
                mask = assign == cid
                n = int(mask.sum())
                if n:
                    rows.append(
                        {
                            "cid": cid,
                            "n": n,
                            "vec_sum": X[mask].sum(axis=0).tolist(),
                            "sse": float(
                                (min_score[mask] + x_norms[mask]).sum()
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=["cid", "n", "vec_sum", "sse"])

    return df.select(vec_col).mapInPandas(kernel, schema)


@dataclass
class KMeans:
    """Lloyd's algorithm with given or sampled initial centers.

    init='first-k' takes the k lowest-id vectors — deterministic, which
    the oracle/test contract requires (FIXTURES.md: never assert label
    recovery; assert deterministic assignments/centroids instead).
    """

    k: int = 10
    max_iter: int = 10
    tol: float = 1e-6
    cluster_centers_: np.ndarray | None = field(default=None, init=False)
    n_iter_: int = field(default=0, init=False)
    # J(assign_t, centers_t) per iteration plus the final-centers SSE —
    # Lloyd guarantees this sequence is non-increasing (E-step and M-step
    # each only lower the objective), which q76's oracle asserts.
    inertia_history_: list[float] = field(default_factory=list, init=False)
    inertia_: float | None = field(default=None, init=False)

    def fit(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        initial_centers: np.ndarray | None = None,
        final_inertia: bool = True,
    ) -> "KMeans":
        df = df.select(id_col, vec_col).cache()
        try:
            if initial_centers is None:
                rows = (
                    df.orderBy(id_col).limit(self.k).select(vec_col).collect()
                )
                centers = np.array([r[0] for r in rows], dtype=np.float64)
            else:
                centers = np.asarray(initial_centers, dtype=np.float64)
            dim = centers.shape[1]

            self.inertia_history_ = []
            for it in range(self.max_iter):
                # One Arrow-kernel pass per iteration (the reference's
                # per-GPU partials, SURVEY §3.1): each partition GEMMs its
                # block against the broadcast centroids, emits k partial
                # (count, sum-vector, sse) rows; the driver reduces k×p
                # rows. Re-planning a literal-centroid expression per
                # iteration was measured 4x slower (codegen compile/iter).
                sums = _partial_sums(df, vec_col, centers).collect()
                new_centers = centers.copy()
                totals = np.zeros(self.k)
                vec_sums = np.zeros((self.k, dim))
                sse = 0.0
                for row in sums:
                    totals[row["cid"]] += row["n"]
                    vec_sums[row["cid"]] += np.asarray(row["vec_sum"])
                    sse += row["sse"]
                self.inertia_history_.append(sse)
                for cid in range(self.k):
                    if totals[cid] > 0:
                        new_centers[cid] = vec_sums[cid] / totals[cid]
                shift = float(np.max(np.linalg.norm(new_centers - centers, axis=1)))
                centers = new_centers
                self.n_iter_ = it + 1
                if shift < self.tol:
                    break
            self.cluster_centers_ = centers
            # one extra pass: SSE under the FINAL centers (sklearn/cuML
            # inertia_ semantics) — also ≤ inertia_history_[-1] by the
            # M-step guarantee, closing the monotone chain. Skippable
            # (final_inertia=False) for callers that only consume the
            # centers/history — semantic_dedup, the IVF cell fit, the
            # m per-subspace PQ fits — where it is one pure-overhead
            # Spark job per fit (r16 measurement: ~0.15-0.25 s each on
            # the fixture suite, ×(m+2) fits on the q137 first run).
            if final_inertia:
                self.inertia_ = sum(
                    row["sse"]
                    for row in _partial_sums(df, vec_col, centers).collect()
                )
            return self
        finally:
            df.unpersist()

    def predict(
        self, df: DataFrame, vec_col: str = "embedding", output_col: str = "cluster"
    ) -> DataFrame:
        assert self.cluster_centers_ is not None, "call fit() first"
        return df.withColumn(
            output_col, _assignment_expr(vec_col, self.cluster_centers_)
        )

    def fit_predict(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        output_col: str = "cluster",
        initial_centers: np.ndarray | None = None,
    ) -> DataFrame:
        """Reference-parity convenience (cuml.dask KMeans.fit_predict):
        fit on df, return df with the assignment column — the distributed
        analogue of the reference's label array (aligned by id_col rather
        than positionally; a Spark DataFrame has no row order)."""
        return self.fit(
            df, vec_col, id_col, initial_centers=initial_centers
        ).predict(df, vec_col, output_col)
