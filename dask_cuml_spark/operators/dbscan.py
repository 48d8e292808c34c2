"""DBSCAN (reference successor: cuml/dask/cluster/dbscan.py; SURVEY.md
§2A A13 — flagged "no MLlib impl"). Relational formulation:

  1. ε-neighborhood self-join (pairs within eps) — at scale this is the
     expensive step; here it goes through the blocked GEMM kernel
     (operators/gemm.py) since ||a-b||² = |a|² + |b|² - 2a·b.
  2. core points = those with ≥ min_pts neighbors (groupBy count).
  3. clusters = connected components of the core-core graph, computed by
     iterative label propagation (each round: label = min(label over
     neighbors); converges in O(graph diameter) rounds — the standard
     large-graph CC algorithm when no graph library is available).
  4. border points attach to any core neighbor's cluster; everything
     else is noise (-1).

Driver only ever sees convergence counters; labels live in DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_cuml_spark.functions.vector import rows_lit
from dask_cuml_spark.operators.gemm import pairwise_similarity_above
from dask_cuml_spark.plans.cost import scoped_cache


def _eps_pairs(
    df: DataFrame, eps: float, id_col: str, vec_col: str, dtype=None
) -> DataFrame:
    """Symmetric pairs (a, b), a != b, with L2(a,b) <= eps. Unit-norm-free:
    uses dot >= (|a|²+|b|²-eps²)/2 per pair via the GEMM kernel on the
    squared-distance form."""
    # d² = na + nb - 2·dot ≤ eps² requires dot ≥ (na + nb - eps²)/2.
    # A safe single GEMM threshold uses the min norm: keeps every true
    # pair, prunes the (dominant) far-pair mass inside the kernel instead
    # of materializing all O(n²) rows (measured 15s → ~2s at sf0.1).
    min_norm_sq = df.select(
        F.min(
            F.aggregate(
                F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, v: a + v,
            )
        )
    ).collect()[0][0]
    safe_threshold = (2.0 * min_norm_sq - eps * eps) / 2.0
    import numpy as np

    sims = pairwise_similarity_above(
        df,
        threshold=safe_threshold,
        id_col=id_col,
        vec_col=vec_col,
        upper_triangle=True,
        dtype=np.float64 if dtype is None else dtype,
    )
    norms = df.select(
        F.col(id_col).alias("_nid"),
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("_norm_sq"),
    )
    na = norms.select(F.col("_nid").alias("id_a"), F.col("_norm_sq").alias("na"))
    nb = norms.select(F.col("_nid").alias("id_b"), F.col("_norm_sq").alias("nb"))
    pairs = (
        sims.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .withColumn("dist_sq", F.col("na") + F.col("nb") - 2 * F.col("sim"))
        .filter(F.col("dist_sq") <= eps * eps)
        .select("id_a", "id_b")
    )
    # symmetrize by exploding each undirected pair into both directions
    # INSIDE one evaluation — the previous self-union duplicated the
    # whole GEMM+join subtree (Catalyst re-evaluates both union
    # branches), doubling the ε-join's work per action (r16; guide §7.2
    # "duplicated subtrees")
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a"), F.col("id_b")),
                F.struct(
                    F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                ),
            )
        ).alias("_e")
    ).select("_e.id_a", "_e.id_b")


def _eps_pairs_cell_blocked(
    df: DataFrame,
    eps: float,
    id_col: str,
    vec_col: str,
    n_cells: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cell-blocked ε-join — the declared 100 TB path for DBSCAN's pair
    scan (PLANS.md scale-path table; r6 verdict task 6).

    Reuses the IVF machinery: k-means coarse cells (n_cells ∝ n, cell
    size ~constant), then each point probes only the cells that can
    contain an ε-neighbor. Completeness is the triangle inequality: if
    ||a−b|| ≤ ε and b lives in cell j, then d(a, c_j) ≤ d(a,b) +
    d(b, c_j) ≤ ε + r_j, where r_j = max member distance to centroid j
    (one aggregate after assignment) — so probing {j : d(a, c_j) ≤
    ε + r_j} can never miss a true pair, and distances within probed
    cells are EXACT: the result is bit-identical to the all-pairs scan
    (directed pairs appear once per direction because each member is
    owned by exactly one cell and the guarantee covers both a→cell(b)
    and b→cell(a)). Pair-scan work drops from Θ(n²) to
    Θ(n · cells-probed · cell-size), which is where the win lives —
    but ONLY when the data has density structure: on a cloud of
    near-orthogonal vectors every cell is ε-reachable from everywhere
    (r_j ≈ point spread), probes degenerate to all cells, and the exact
    blocked-GEMM path is strictly better. That is a property of the
    data, not the plan — hence an explicit strategy, not an auto gate.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from dask_cuml_spark.operators.kmeans import KMeans, nearest_centers

    n_rows = df.count()
    if n_cells is None:
        n_cells = int(max(4, min(4096, n_rows // 256)))
    # FAISS-style sampled quantizer fit: train k-means on ~64 points
    # per cell (deterministic hash sample), not the full table — the
    # quantizer only SHAPES the blocking; completeness (triangle
    # inequality vs per-cell radii computed over ALL points below) and
    # within-cell exactness hold for ANY centroid set, so sampling
    # cannot change the pair set. With n_cells ∝ n the full-table fit
    # is Θ(n·k) = Θ(n²/cell) — measured 14.6 s of q120's 100× wall —
    # and the sample caps the fit at Θ(64·k²)-ish.
    target = 64 * n_cells
    fit_df = df
    if n_rows > 2 * target:
        rate = n_rows // target
        fit_df = df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(rate)) == 0
        )
    # final_inertia skipped: the quantizer consumes centers only (r16)
    km = KMeans(k=n_cells, max_iter=3).fit(
        fit_df, vec_col=vec_col, id_col=id_col, final_inertia=False
    )
    centers = km.cluster_centers_
    sc = df.sparkSession.sparkContext
    cells = (
        nearest_centers(
            df.select(id_col, vec_col), vec_col, centers, 1, "_c", "gemm"
        )
        .select(
            F.col(id_col).alias("_mid"),
            F.col(vec_col).alias("_mv"),
            F.col("_c")[0].alias("cell_id"),
        )
        .cache()
    )

    bc_c = sc.broadcast(centers)

    def d_own_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc_c.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["_mv"].tolist(), dtype=np.float64)
            cid = pdf["cell_id"].to_numpy()
            d = np.sqrt(((X - C[cid]) ** 2).sum(axis=1))
            yield pd.DataFrame({"cell_id": cid, "_d": d})

    # sized by the ACTUAL center count — KMeans can return fewer than
    # n_cells centers on tiny/degenerate inputs (advisor r7)
    radii = np.zeros(len(centers))
    for r in (
        cells.select("cell_id", "_mv")
        .mapInPandas(d_own_kernel, "cell_id int, _d double")
        .groupBy("cell_id")
        .agg(F.max("_d").alias("_r"))
        .collect()
    ):  # k rows — model-state-sized, like centroids
        radii[r["cell_id"]] = r["_r"]

    bc_cr = sc.broadcast((centers, radii))

    def probe_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C, R = bc_cr.value
        c_norms = (C * C).sum(axis=1)
        # per-cell reachability radius, with a tiny absolute slack: the
        # triangle bound is evaluated on the norm-expansion d² (float
        # cancellation ~1e-13 abs), so a float-tight boundary could in
        # principle drop a probe; over-probing is always safe because
        # pair_kernel re-checks exact d² ≤ ε² (advisor r7)
        thr = eps + R + 1e-9
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d2 = (
                (X * X).sum(axis=1)[:, None]
                + c_norms[None, :]
                - 2.0 * (X @ C.T)
            )
            np.maximum(d2, 0.0, out=d2)
            mask = np.sqrt(d2) <= thr[None, :]
            rows, cols = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "_qid": pdf[id_col].to_numpy()[rows],
                    "_qv": pdf[vec_col].to_numpy()[rows],
                    "cell_id": cols.astype(np.int32),
                }
            )

    qid_t = dict(df.dtypes)[id_col]
    vec_t = dict(df.dtypes)[vec_col]
    probes = df.select(id_col, vec_col).mapInPandas(
        probe_kernel, f"_qid {qid_t}, _qv {vec_t}, cell_id int"
    )

    eps_sq = eps * eps

    def pair_kernel(key, qpdf, cpdf):
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        Q = np.array(qpdf["_qv"].tolist(), dtype=np.float64)
        C = np.array(cpdf["_mv"].tolist(), dtype=np.float64)
        d2 = (
            (Q * Q).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * (Q @ C.T)
        )
        np.maximum(d2, 0.0, out=d2)
        qa = qpdf["_qid"].to_numpy()
        cb = cpdf["_mid"].to_numpy()
        rows, cols = np.nonzero(
            (d2 <= eps_sq) & (qa[:, None] != cb[None, :])
        )
        return pd.DataFrame({"id_a": qa[rows], "id_b": cb[cols]})

    pairs = (
        probes.groupBy("cell_id")
        .cogroup(cells.groupBy("cell_id"))
        .applyInPandas(pair_kernel, f"id_a {qid_t}, id_b {qid_t}")
    )
    # cells is cached (feeds both the radii aggregate and the cogroup);
    # the caller unpersists it alongside pairs (advisor r7: leaking it
    # accumulated cached blocks across long-lived driver sessions)
    return pairs, cells


def dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rounds: int = 20,
    union_find_max_edges: int = 100_000,
    dtype=None,
    strategy: str = "exact",
    n_cells: int | None = None,
) -> DataFrame:
    """Returns (id, cluster) with noise = -1. Cluster ids are the min
    member id of each component (deterministic).

    dtype=np.float32 halves the eps-join's shuffle width (the dominant
    cost at scale); it moves the eps boundary by ~1e-6 relative, so use
    it only when cluster membership tolerates that (the float64 default
    keeps the SQL-oracle-exact boundary).

    strategy='exact' scans all pairs through the blocked GEMM kernel;
    strategy='cells' bounds the scan with radius-bounded IVF cell
    probes (_eps_pairs_cell_blocked — bit-identical pair set, wins only
    on data WITH density structure, see its docstring)."""
    cells_cache = None
    if strategy == "cells":
        pairs, cells_cache = _eps_pairs_cell_blocked(
            df, eps, id_col, vec_col, n_cells=n_cells
        )
        pairs = pairs.cache()
    else:
        pairs = _eps_pairs(df, eps, id_col, vec_col, dtype=dtype).cache()
    try:
        if min_pts > 1:
            # Size-gated driver solve (r16): the Spark graph assembly
            # below (degrees groupBy, two core joins, CC, border join,
            # singleton anti-join) costs ~20 AQE stage jobs — measured
            # 3.1 s of q77's 4.2 s / q120's 5.0 s at sf0.1, all on a
            # pair set that ALREADY fits the CC driver-union-find gate.
            # When the full symmetric pair set is under the SAME
            # 100k-edge bound (a superset of the core-edge set CC would
            # gate on), one bounded collect computes degrees, cores,
            # components, and border attachment in a single pass, and
            # the labels go back as one broadcast join. Labels are
            # value-identical to the Spark path (same min-member-id
            # component labels, same min-over-core-neighbors border
            # rule); above the gate nothing changes.
            # Gate count (r16 verdict item 9 A/B'd r17 and REJECTED):
            # folding this count into a degrees aggregate (sum(deg) ==
            # directed pair count, degrees pre-cached for the Spark
            # path) measured +2 AQE jobs per query below the gate
            # (q77 12→14, q120 17→19 — the degrees shuffle the
            # driver-solve path never consumes), and above the gate it
            # saves nothing: `cores` is scoped_cache'd, so the degrees
            # groupBy runs exactly once either way. The plain count()
            # already IS the fold — it is the first action on the
            # cached pairs, so its evaluation cost is the cache
            # materialization every later consumer reuses.
            n_pairs = pairs.count()
            if n_pairs <= union_find_max_edges:
                rows = pairs.collect()
                deg: dict = {}
                for r in rows:
                    deg[r["id_a"]] = deg.get(r["id_a"], 0) + 1
                core = {x for x, d in deg.items() if d + 1 >= min_pts}
                parent: dict = {}

                def find(x):
                    while parent.setdefault(x, x) != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for r in rows:
                    a, b = r["id_a"], r["id_b"]
                    if a in core and b in core:
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            lo, hi = (ra, rb) if ra < rb else (rb, ra)
                            parent[hi] = lo
                labels = {c: find(c) if c in parent else c for c in core}
                for r in rows:  # border: min core-neighbor label
                    a, b = r["id_a"], r["id_b"]
                    if a not in core and b in core:
                        lb = labels[b]
                        if a not in labels or lb < labels[a]:
                            labels[a] = lb
                id_t = dict(df.dtypes)[id_col]
                assigned = rows_lit(
                    df.sparkSession,
                    list(labels.items()),
                    f"id {id_t}, label {id_t}",
                )
                return (
                    df.select(F.col(id_col).alias("id"))
                    .join(F.broadcast(assigned), "id", "left")
                    .select(
                        F.col("id").alias(id_col),
                        F.coalesce("label", F.lit(-1))
                        .cast("long")
                        .alias("cluster"),
                    )
                )
        if min_pts <= 1:
            # every point's ε-neighborhood contains itself, so ALL points
            # are core — including isolated ones that never appear in the
            # pairs join (sklearn/cuML make them singleton clusters, not
            # noise; advisor finding r2)
            cores = scoped_cache(df.select(F.col(id_col).alias("id")))
        else:
            degrees = pairs.groupBy("id_a").agg(
                F.count(F.lit(1)).alias("deg")
            )
            # reference (cuml/sklearn) counts the point in its own
            # ε-neighborhood: core ⇔ deg(excluding self) + 1 >= min_pts
            cores = scoped_cache(
                degrees.filter(F.col("deg") + 1 >= min_pts).select(
                    F.col("id_a").alias("id")
                )
            )
        core_edges = (
            pairs.join(cores.withColumnRenamed("id", "id_a"), "id_a")
            .join(
                cores.select(F.col("id").alias("id_b")),
                "id_b",
            )
            .select("id_a", "id_b")
        )
        core_edges = scoped_cache(core_edges)

        # Connected components over the core-core edge graph —
        # the staged strategy (driver union-find / partition-local
        # pre-contraction / pointer-jumping) lives in
        # operators/components.connected_components (extracted r11 so
        # near-dup canonicalization shares it; measurements and design
        # notes moved with it). Isolated cores never enter the graph;
        # they label themselves below.
        from dask_cuml_spark.operators.components import (
            connected_components,
        )

        edge_labels = connected_components(
            core_edges, union_find_max_edges, max_rounds
        )
        singletons = cores.join(
            edge_labels.select("id"), "id", "left_anti"
        ).withColumn("label", F.col("id"))
        labels = edge_labels.unionByName(singletons)

        border = (
            pairs.join(
                labels.select(F.col("id").alias("id_b"), "label"), "id_b"
            )
            .join(cores.withColumnRenamed("id", "id_a"), "id_a", "left_anti")
            .groupBy("id_a")
            .agg(F.min("label").alias("label"))
            .select(F.col("id_a").alias("id"), "label")
        )
        assigned = labels.unionByName(border)
        return (
            df.select(F.col(id_col).alias("id"))
            .join(assigned, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce("label", F.lit(-1)).cast("long").alias("cluster"),
            )
        )
    finally:
        pairs.unpersist()
        if cells_cache is not None:
            cells_cache.unpersist()
