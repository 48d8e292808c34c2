"""IVF (inverted-file) approximate nearest-neighbor index — the coarse-
quantizer scale path for embedding search (task brief: "an IVF or
LSH-bucketed variant as the scale path"; complements operators/knn.lsh_knn).

Design (FAISS IVF-Flat, re-expressed relationally):
  fit:    k-means coarse centroids (operators/kmeans.KMeans — GEMM
          kernel); every candidate assigned to its nearest cell → a
          DataFrame partitioned/bucketable by cell_id.
  search: each query probes its nprobe nearest cells only; candidates
          join on cell_id (8-byte key — the shuffle the brute-force
          crossJoin avoids paying at 100 TB), exact distances within the
          probed cells, window top-k.

Recall/cost knob: nprobe/n_cells. With near-orthogonal fixture vectors
cells are balanced (~n/n_cells each), so probing p cells scans p/n_cells
of the data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_cuml_spark.functions.vector import l2_sq
from dask_cuml_spark.operators.kmeans import (
    KMeans,
    _assignment_expr,
    nearest_centers,
)
from dask_cuml_spark.plans.cost import centers_strategy, ivf_search_strategy


@dataclass
class IVFIndex:
    # int, or 'sqrt': resolve to ~√n at fit time — the production
    # quantizer scaling for large corpora (PLANS.md q118 curve: with
    # n_cells ∝ n the Θ(n·k) flat quantizer goes quadratic; k ∝ √n
    # keeps fit+assign Θ(n^1.5) while the pair scan stays bounded at
    # Θ(n·nprobe·n/k) = Θ(n^1.5·nprobe) — the FAISS-guidance operating
    # band n_cells ~ √n..n/256)
    n_cells: int | str = 16
    kmeans_iters: int = 5
    # resolved cell count, recomputed on EVERY fit: n_cells stays the
    # declared spec ('sqrt' or an int), so refitting the same instance
    # on a different-sized dataset re-derives √n instead of silently
    # reusing the first dataset's resolution (advisor r8)
    n_cells_: int = field(default=0, init=False)
    centers_: np.ndarray | None = field(default=None, init=False)
    cells_: DataFrame | None = field(default=None, init=False)
    id_col_: str = field(default="vec_id", init=False)
    vec_col_: str = field(default="embedding", init=False)
    search_strategy_: str = field(default="expr", init=False)

    def fit(
        self,
        candidates: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        # Quantizer trains on the FULL table. A FAISS-style sampled fit
        # (~64 points/cell) was A/B-tested at 100×: the fit cost is
        # amortized out of steady-state search anyway (an index is
        # built once, queried many times — _fitted_ivf memoizes), and
        # the coarser sampled centroids bought nothing while making the
        # timed SEARCH ~20% slower same-hour (18.8 vs 15.6 s q118
        # graph build; cell balance degrades) — so full-fit is the
        # right trade here. The dbscan cell-blocked ε-join keeps the
        # sampled fit instead: there the fit is paid on every call and
        # pair-set exactness is centroid-independent
        # (dbscan._eps_pairs_cell_blocked).
        if self.n_cells == "sqrt":
            # resolved per fit; count() is one cheap job against the
            # candidate scan and the value lands in n_cells_ (the spec
            # in n_cells is never mutated — advisor r8)
            self.n_cells_ = max(4, int(round(candidates.count() ** 0.5)))
        else:
            self.n_cells_ = int(self.n_cells)
        km = KMeans(k=self.n_cells_, max_iter=self.kmeans_iters).fit(
            candidates, vec_col=vec_col, id_col=id_col, final_inertia=False
        )
        self.centers_ = km.cluster_centers_
        # assignment on nearest_centers' gate: with cells held
        # constant-size (n_cells ∝ n) the expr fold is Θ(n²·dim/cell)
        # and would dominate the whole index build
        if centers_strategy(candidates, self.n_cells_) == "gemm":
            self.cells_ = (
                nearest_centers(
                    candidates, vec_col, self.centers_, 1, "_cells", "gemm"
                )
                .withColumn("cell_id", F.col("_cells")[0])
                .drop("_cells")
                .cache()
            )
        else:
            self.cells_ = candidates.withColumn(
                "cell_id", _assignment_expr(vec_col, self.centers_)
            ).cache()
        self.id_col_, self.vec_col_ = id_col, vec_col
        # the search strategy is a property of the index, decided once
        self.search_strategy_ = ivf_search_strategy(candidates)
        return self

    def probes(
        self, queries: DataFrame, nprobe: int, query_vec: str = "qv"
    ) -> DataFrame:
        """queries exploded to one row per (query, probed cell_id) — the
        nprobe nearest cells per query in exact (dist², cid) order.

        Probe selection is the same k-vs-rows tradeoff as cell
        assignment, so it runs on the same gated primitive
        (kmeans.nearest_centers): the expr fold at fixture scale — ONE
        parsed SQL centroid literal (functions.vector.matrix_lit; the
        per-element lit() form cost ~0.5 s of py4j round trips per
        search call), n_cells×dim interpreted ops per row — and the
        Arrow GEMM kernel when queries×n_cells work is large (an
        all-vector self-search at n_cells ∝ n would otherwise spend
        Θ(n²·dim/cell) in the fold before the search proper starts)."""
        assert self.centers_ is not None, "call fit() first"
        return (
            nearest_centers(queries, query_vec, self.centers_, nprobe)
            .select("*", F.explode("_cells").alias("cell_id"))
            .drop("_cells")
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        query_id: str = "query_id",
        query_vec: str = "qv",
        strategy: str = "auto",
    ) -> DataFrame:
        """(query_id, neighbor_id, dist, rk) — exact within probed cells.

        strategy='auto' takes the index's side of
        plans/cost.ivf_search_strategy, decided at fit: Arrow cogroup
        startup dominates tiny cells, and BLAS beats the interpreted
        fold by more as cells grow.

        strategy='gemm': the probed (query, cell) pairs
        cogroup with the cell's members on cell_id and each cell runs
        ONE dense float64 GEMM (‖q‖²+‖c‖²−2q·c) over its Q×C block,
        emitting only the per-(query, cell) top-k in exact
        (dist², neighbor_id) order — the union over probed cells
        provably contains the global top-k, so the final window is
        unchanged. This is the FAISS IVF-Flat inner loop expressed as a
        cogrouped Arrow kernel: shuffle volume is |cells probed| rows in
        + k rows per (query, cell) out, and the distance arithmetic is
        BLAS instead of an interpreted per-element fold (the expr path's
        zip_with/aggregate is CodegenFallback — measured the dominant
        cost of the fixture search).

        strategy='expr' keeps the pure-expression distances (the
        formulation the SQL oracle mirrors term-for-term)."""
        assert self.cells_ is not None, "call fit() first"
        probes = self.probes(queries, nprobe, query_vec)
        if strategy == "auto":
            strategy = self.search_strategy_
        if strategy == "gemm":
            import pandas as pd

            q_side = probes.select(
                "cell_id",
                F.col(query_id).alias("_qid"),
                F.col(query_vec).alias("_qv"),
            )
            c_side = self.cells_.select(
                "cell_id",
                F.col(self.id_col_).alias("_cid"),
                F.col(self.vec_col_).alias("_cv"),
            )
            out_cols = ["query_id_", "neighbor_id", "dist_sq"]
            kk = k

            def kernel(key, qpdf, cpdf):
                if len(qpdf) == 0 or len(cpdf) == 0:
                    return pd.DataFrame(columns=out_cols)
                Q = np.stack(qpdf["_qv"].to_numpy()).astype(np.float64)
                C = np.stack(cpdf["_cv"].to_numpy()).astype(np.float64)
                cid = cpdf["_cid"].to_numpy()
                d2 = (
                    (Q * Q).sum(1)[:, None]
                    + (C * C).sum(1)[None, :]
                    - 2.0 * (Q @ C.T)
                )
                np.maximum(d2, 0.0, out=d2)
                frames = []
                for qi in range(len(Q)):
                    # exact (dist², id) order so per-cell pruning never
                    # drops a global-top-k tie at the k-th boundary
                    order = np.lexsort((cid, d2[qi]))[:kk]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id_": qpdf["_qid"].iloc[qi],
                                "neighbor_id": cid[order],
                                "dist_sq": d2[qi][order],
                            }
                        )
                    )
                return pd.concat(frames, ignore_index=True)

            # id dtypes come from the INPUT frames so strategy='auto'
            # flipping expr→gemm never changes the output schema for
            # non-long id columns
            qid_t = dict(probes.dtypes)[query_id]
            cid_t = dict(self.cells_.dtypes)[self.id_col_]
            pairs = (
                q_side.groupBy("cell_id")
                .cogroup(c_side.groupBy("cell_id"))
                .applyInPandas(
                    kernel,
                    f"query_id_ {qid_t}, neighbor_id {cid_t}, dist_sq double",
                )
                .withColumnRenamed("query_id_", query_id)
            )
        else:
            pairs = self.cells_.join(F.broadcast(probes), "cell_id").select(
                query_id,
                F.col(self.id_col_).alias("neighbor_id"),
                l2_sq(query_vec, self.vec_col_).alias("dist_sq"),
            )
        w = Window.partitionBy(query_id).orderBy("dist_sq", "neighbor_id")
        return (
            pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(
                query_id, "neighbor_id", F.sqrt("dist_sq").alias("dist"), "rk"
            )
        )
