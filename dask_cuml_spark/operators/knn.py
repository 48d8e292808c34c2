"""Nearest neighbors (reference: dask_cuml/neighbors/nearest_neighbors.py
— per-GPU brute-force FAISS shards + global distance-ordered top-k merge;
SURVEY.md §2A A4, §3.2).

Two physical strategies, same semantics:

  brute_force_knn — broadcast the (small) query set against the candidate
  scan, window top-k per query. Shard-local top-k then merge is exactly
  what Spark does physically: each partition ranks its rows, the window
  shuffle merges per query_id. Right choice when queries are few
  (reference's kneighbors(Q) with modest Q).

  lsh_knn — random-hyperplane LSH: bucket candidates and queries by the
  sign-pattern of h random projections, join on bucket, top-k within
  bucket union. Approximate, but the candidate side shuffles once on an
  8-byte key — the 100-TB path (SURVEY §7 M6). Multiple tables raise
  recall.

Both keep all math JVM-side (functions.vector).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_cuml_spark.functions.vector import l2_sq, rows_lit
from dask_cuml_spark.plans.cost import (
    CLASSWISE_BROADCAST_MAX_BYTES,
    knn_strategy,
)


def brute_force_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "qv",
    cand_id: str = "neighbor_id",
    cand_vec: str = "cv",
    exclude_same_id: bool = False,
    strategy: str = "auto",
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Exact kNN: (query_id, neighbor_id, dist, rk), deterministic
    (dist, id) tie-break.

    strategy='auto' (default) takes plans/cost.knn_strategy's side for
    the candidates: 'expr' on small candidate sets, where the Arrow
    round trip and Python worker pass cost more than the interpreted
    fold, 'gemm' once BLAS wins.

    strategy='gemm' (round 5): the query block is task-broadcast
    and each candidate Arrow batch computes ALL query distances as one
    dense GEMM, emitting only its per-batch top-k per query (selected by
    the same (dist, id) order the global merge uses, so the union
    provably contains the global top-k). The shuffle then carries
    ≈ batches × |Q| × k rows instead of |C| × |Q| — at 100× the
    expression path evaluated 4M zip_with folds and ran 2.4 s; the GEMM
    path is one BLAS call per batch. strategy='expr' keeps the
    pure-expression plan (the SQL-oracle-shaped fallback; also the
    reference for the numpy parity test)."""
    if strategy == "auto":
        strategy = knn_strategy(candidates)
    if strategy == "gemm":
        rows = queries.select(query_id, query_vec).limit(
            max_broadcast_queries + 1
        ).collect()
        if len(rows) > max_broadcast_queries:
            raise ValueError(
                f"gemm strategy broadcasts queries; got >"
                f"{max_broadcast_queries} rows — use strategy='expr' or "
                "shard the query set"
            )
        qids = np.array([r[0] for r in rows], dtype=np.int64)
        Q = np.array([r[1] for r in rows], dtype=np.float64)
        qn = (Q * Q).sum(1)
        spark = candidates.sparkSession
        bc = spark.sparkContext.broadcast((qids, Q, qn))
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("_qid", LongType()),
                StructField("_cid", LongType()),
                StructField("_d2", DoubleType()),
            ]
        )

        def kernel(it):
            from dask_cuml_spark.operators.gemm import _GEMM_SLICE_ELEMS

            ids_q, Qm, qn_ = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                cids = pdf["_id"].to_numpy(dtype=np.int64)
                C = np.array(pdf["_v"].tolist(), dtype=np.float64)
                cn = (C * C).sum(1)
                out_q, out_c, out_d = [], [], []
                # query-axis slicing bounds the dense d2 buffer (same
                # 64 MB cap as the GEMM kernel)
                step = max(1, _GEMM_SLICE_ELEMS // max(len(cids), 1))
                for j0 in range(0, len(ids_q), step):
                    # clamp: the norm-expansion form can go ~-1e-16 for
                    # (near-)identical vectors, and sqrt(neg) = NaN —
                    # the expression path's sum((a-b)^2) never does
                    d2 = np.maximum(
                        cn[:, None]
                        + qn_[None, j0 : j0 + step]
                        - 2.0 * (C @ Qm[j0 : j0 + step].T),
                        0.0,
                    )
                    for jj in range(d2.shape[1]):
                        j = j0 + jj
                        col = d2[:, jj]
                        ids_j = cids
                        if exclude_same_id:
                            keep = cids != ids_q[j]
                            col = col[keep]
                            ids_j = cids[keep]
                        # per-batch selection in the GLOBAL (dist, id)
                        # order so ties at the k-boundary keep the id
                        # the global merge would keep
                        order = np.lexsort((ids_j, col))[:k]
                        out_q.append(
                            np.full(len(order), ids_q[j], np.int64)
                        )
                        out_c.append(ids_j[order])
                        out_d.append(col[order])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "_qid": np.concatenate(out_q),
                            "_cid": np.concatenate(out_c),
                            "_d2": np.concatenate(out_d),
                        }
                    )

        partial = (
            candidates.select(
                F.col(cand_id).alias("_id"), F.col(cand_vec).alias("_v")
            )
            .mapInPandas(kernel, schema)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(cand_id),
                F.col("_d2").alias("dist_sq"),
            )
        )
        w = Window.partitionBy(query_id).orderBy("dist_sq", cand_id)
        return (
            partial.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, cand_id, F.sqrt("dist_sq").alias("dist"), "rk")
        )

    pairs = candidates.crossJoin(F.broadcast(queries))
    if exclude_same_id:
        pairs = pairs.filter(F.col(query_id) != F.col(cand_id))
    pairs = pairs.select(
        query_id, cand_id, l2_sq(query_vec, cand_vec).alias("dist_sq")
    )
    w = Window.partitionBy(query_id).orderBy("dist_sq", cand_id)
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            query_id,
            cand_id,
            F.sqrt("dist_sq").alias("dist"),
            "rk",
        )
    )


def _buckets_udf(all_planes: list[np.ndarray]):
    """Arrow-batched sign-pattern bucket ids: ONE numpy GEMM of the
    vector batch against every table's hyperplanes at once, bits packed
    per table → array<long> of n_tables bucket ids.

    Replaces per-plane Catalyst zip_with/aggregate lambdas (interpreted
    per element: 24 projections × 64 dims over 5k vectors measured ~3 s
    at sf0.1; the GEMM batch is ~0.1 s). Sign of a ~0 projection can
    differ from the fold-sum in the last ulp — random hyperplanes put no
    mass there, and bucketing only affects candidate RECALL, never the
    verified distances."""
    from pyspark.sql.types import ArrayType, LongType

    P = np.vstack(all_planes)  # (n_tables·h, dim)
    h = all_planes[0].shape[0]
    n_tables = len(all_planes)
    weights = 1 << np.arange(h, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vec: pd.Series) -> pd.Series:
        X = np.array(vec.tolist(), dtype=np.float64)
        bits = (X @ P.T) >= 0  # (n, n_tables·h)
        per_table = [
            (bits[:, t * h : (t + 1) * h] * weights).sum(axis=1)
            for t in range(n_tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return buckets


def lsh_knn(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qv",
    cand_id: str = "neighbor_id",
    cand_vec: str = "cv",
) -> DataFrame:
    """Approximate kNN via random-hyperplane LSH (multi-table).

    At scale: candidates shuffle once on (table, bucket); each bucket
    holds ~N/2^h rows so the per-bucket cross product is bounded.
    """
    rng = np.random.default_rng(seed)
    all_planes = [rng.standard_normal((n_planes, dim)) for _ in range(n_tables)]

    buckets = _buckets_udf(all_planes)

    def with_buckets(df: DataFrame, vec: str) -> DataFrame:
        # all tables' buckets in ONE Arrow pass over the input
        # (posexplode of the bucket array) — one scan + one join total,
        # not n_tables unions
        return df.withColumn("_b", buckets(F.col(vec))).select(
            "*", F.posexplode("_b").alias("_table", "_bucket")
        ).drop("_b")

    cb = with_buckets(candidates, cand_vec)
    qb = with_buckets(queries, query_vec)
    deduped = (
        cb.join(F.broadcast(qb), ["_table", "_bucket"])
        .select(query_id, cand_id, query_vec, cand_vec)
        .dropDuplicates([query_id, cand_id])
    )
    pairs = deduped.select(
        query_id, cand_id, l2_sq(query_vec, cand_vec).alias("dist_sq")
    )
    w = Window.partitionBy(query_id).orderBy("dist_sq", cand_id)
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id, cand_id, F.sqrt("dist_sq").alias("dist"), "rk")
    )


class NearestNeighbors:
    """Reference-parity estimator facade (cuml.dask
    NearestNeighbors.fit / .kneighbors) over the functional kernels.

    fit() captures the candidate frame; kneighbors() returns the tidy
    (query_id, neighbor_id, dist, rk) DataFrame — the distributed result
    shape — and kneighbors_arrays() additionally reshapes it into the
    reference's aligned (distances, indices) numpy pair for SMALL query
    sets (it collects k rows per query onto the driver; the DataFrame
    form is the scale path).
    """

    def __init__(self, n_neighbors: int = 5, strategy: str = "brute"):
        if strategy not in ("brute", "lsh"):
            raise ValueError("strategy must be 'brute' or 'lsh'")
        self.n_neighbors = n_neighbors
        self.strategy = strategy
        self._candidates: DataFrame | None = None
        self._id = "neighbor_id"
        self._vec = "cv"

    def fit(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> "NearestNeighbors":
        self._candidates = df.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        return self

    def kneighbors(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int | None = None,
    ) -> DataFrame:
        assert self._candidates is not None, "call fit() first"
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        if self.strategy == "brute":
            return brute_force_knn(q, self._candidates, k=self.n_neighbors)
        if dim is None:
            raise ValueError("lsh strategy needs the vector dim")
        return lsh_knn(q, self._candidates, dim=dim, k=self.n_neighbors)

    def kneighbors_arrays(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(query_ids[n], distances[n,k], indices[n,k]) sorted by query
        id — the reference's return convention. Collects n·k rows; use
        only when the query set is model-state-sized."""
        pdf = (
            self.kneighbors(queries, id_col, vec_col)
            .orderBy("query_id", "rk")
            .toPandas()
        )
        qids = pdf["query_id"].unique()
        k = self.n_neighbors
        if len(pdf) == len(qids) * k:
            dist = pdf["dist"].to_numpy().reshape(len(qids), k)
            idx = pdf["neighbor_id"].to_numpy().reshape(len(qids), k)
            return qids, dist, idx
        # Shortfall (strategy='lsh' with sparse buckets can return < k
        # rows for some query): pivot on rk instead of reshaping — a
        # blind reshape either raises or silently misaligns neighbors
        # across queries. Missing slots are NaN / -1, the reference's
        # no-neighbor convention.
        dist = np.full((len(qids), k), np.nan)
        idx = np.full((len(qids), k), -1, dtype=np.int64)
        pos = {q: i for i, q in enumerate(qids)}
        for row in pdf.itertuples(index=False):
            dist[pos[row.query_id], row.rk - 1] = row.dist
            idx[pos[row.query_id], row.rk - 1] = row.neighbor_id
        return qids, dist, idx


def _classwise_schema():
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("_qid", LongType()),
            StructField("_same", BooleanType()),
            StructField("_cid", LongType()),
            StructField("_d2", DoubleType()),
        ]
    )


def _classwise_block(ids_q, lab_q, Q, qn, cids, clab, C, cn):
    """Per-(anchor, side) argmins of ONE candidate block against ONE
    anchor block: ≤ 2 rows per anchor. ``cids`` MUST be sorted
    ascending — np.argmin takes the FIRST minimum, which then equals
    the SQL (d², id) row_number tie-break. The dense d² buffer is
    sliced on the anchor axis (the gemm kernel's 64 MB cap) so memory
    is independent of block row counts. Returns a pandas partial or
    None. Every strategy (broadcast / blocked / ANN-cell) funnels
    through this one function, so their per-pair values are
    bit-identical — each (c, q) dot is a single contiguous GEMM inner
    product regardless of how the axes were blocked."""
    from dask_cuml_spark.operators.gemm import _GEMM_SLICE_ELEMS

    outs = []
    step = max(1, _GEMM_SLICE_ELEMS // max(len(cids), 1))
    for j0 in range(0, len(ids_q), step):
        j1 = min(j0 + step, len(ids_q))
        # clamp: norm-expansion dips ~-1e-16 on identical vectors
        d2 = np.maximum(
            cn[:, None] + qn[None, j0:j1] - 2.0 * (C @ Q[j0:j1].T), 0.0
        )
        same = clab[:, None] == lab_q[None, j0:j1]
        not_self = cids[:, None] != ids_q[None, j0:j1]
        for flag, mask in ((True, same & not_self), (False, ~same)):
            md = np.where(mask, d2, np.inf)
            amin = md.argmin(axis=0)  # first min = min-id tie-break
            dmin = md[amin, np.arange(md.shape[1])]
            ok = np.isfinite(dmin)
            if ok.any():
                outs.append(
                    pd.DataFrame(
                        {
                            "_qid": ids_q[j0:j1][ok],
                            "_same": flag,
                            "_cid": cids[amin[ok]],
                            "_d2": dmin[ok],
                        }
                    )
                )
    if not outs:
        return None
    if len(outs) == 1:
        return outs[0]
    return pd.concat(outs, ignore_index=True)


def _classwise_cokernel(left: pd.DataFrame, right: pd.DataFrame):
    """Cogroup kernel shared by the blocked and ANN-cell strategies:
    left = anchor rows (_id, _l, _v), right = candidate rows."""
    empty = pd.DataFrame(
        {"_qid": [], "_same": [], "_cid": [], "_d2": []}
    ).astype({"_qid": np.int64, "_same": bool, "_cid": np.int64,
              "_d2": np.float64})
    if len(left) == 0 or len(right) == 0:
        return empty
    ids_q = left["_id"].to_numpy(dtype=np.int64)
    lab_q = left["_l"].to_numpy(dtype=np.int64)
    Q = np.array(left["_v"].tolist(), dtype=np.float64)
    qn = (Q * Q).sum(1)
    order = np.argsort(right["_id"].to_numpy(dtype=np.int64), kind="stable")
    cids = right["_id"].to_numpy(dtype=np.int64)[order]
    clab = right["_l"].to_numpy(dtype=np.int64)[order]
    C = np.array(right["_v"].tolist(), dtype=np.float64)[order]
    cn = (C * C).sum(1)
    out = _classwise_block(ids_q, lab_q, Q, qn, cids, clab, C, cn)
    return empty if out is None else out


def _classwise_final(partial: DataFrame, id_col: str) -> DataFrame:
    """Global (anchor, side) min over per-block partials. min(struct)
    is lexicographic (d², id) — the SQL row_number(1) — and map-side
    combinable, so the shuffle carries ≤ 2 rows per anchor per task."""
    return (
        partial.groupBy("_qid", "_same")
        .agg(F.min(F.struct("_d2", "_cid")).alias("m"))
        .select(
            F.col("_qid").alias(id_col),
            F.col("_same").alias("same"),
            F.col("m._cid").alias("neighbor_id"),
            F.col("m._d2").alias("dist_sq"),
        )
    )


def classwise_nearest(
    e: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    strategy: str = "auto",
    max_broadcast_bytes: int = CLASSWISE_BROADCAST_MAX_BYTES,
    anchor_blocks: int | None = None,
    cand_blocks: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, same, neighbor_id, dist_sq): for every anchor, the
    nearest SAME-label vector (self excluded) and the nearest
    DIFFERENT-label vector — the two reductions triplet mining (q154)
    needs, in ONE corpus stream instead of a per-label kNN loop (the
    loop re-scans the corpus 2·|labels| times; measured 11.8 s → one
    pass at sf0.1).

    strategy='broadcast' (auto below ``max_broadcast_bytes`` of raw
    anchor vectors, rows × dim × 8 — a BYTE bound, not a row bound:
    1M anchors at 768-dim float64 are ~6 GB and must NOT ride the
    driver, advisor r14): ONE Arrow collect + ONE task broadcast of
    the whole anchor block (no per-block broadcast loop — the r14
    advisor's leak: loop-created broadcasts pinned executor memory for
    the application lifetime); each candidate Arrow batch computes
    dense d² stripes against the anchors and emits per-batch argmins.

    strategy='blocked' (auto above the byte bound — the 100 TB path,
    replacing the pre-r15 hard raise at 1M rows): the gemm cogroup
    shape — both axes get a deterministic block id
    (xxhash64(id) mod n_blocks), each side is replicated across the
    OTHER side's block axis, and one cogrouped task computes the
    argmins of each (anchor_block, cand_block) pair. NOTHING moves
    through the driver; shuffle volume is |E|·cand_blocks +
    |E|·anchor_blocks rows and the per-task dense buffer is sliced to
    the gemm 64 MB cap. Driver memory is independent of n; per-task
    memory is bounded because the default block counts SCALE with the
    estimated vector bytes (each axis targets ≤ ~128 MB of raw
    vectors per cogrouped group — advisor r16: the old fixed
    cand_blocks=4 grid let the materialized pandas group grow Θ(n)).
    Callers pinning explicit block counts own that bound themselves.

    Both strategies funnel through _classwise_block and the same
    min(struct(d², id)) final agg, so results agree exactly on
    (anchor, side, neighbor_id) and to last-ulp tolerance on d²
    (measured: this container's BLAS emits a 1-ulp d² delta on ~0.1%
    of pairs because the strategies batch the candidate axis into
    different GEMM shapes; the strategy-agreement pytest pins
    id-exact + 1e-12-relative d². A near-tie candidate pair within
    that ulp could in principle flip the (d², id) struct-min — round
    d² first if cross-strategy bit-stability is required; every
    hashed consumer here rounds to 1e-6). Note the exact self-mining operator
    is Θ(n²) FLOPs by definition — classwise_nearest_ann is the
    Θ(n·shortlist) scale path.

    ``candidates`` (default: e itself — self-mining) restricts the
    candidate pool, the gemm.py ``other=`` convention: mining anchors
    against a class-balanced subsample or a curated pool is the
    FaceNet within-batch pattern, and it is also what bounds the
    anchor-axis scale test (>1M anchors × a bounded pool flows
    through the blocked cogroup with nothing on the driver). Same
    schema; self-exclusion still keys on id equality."""
    spark = e.sparkSession
    schema = _classwise_schema()
    cand_frame = candidates if candidates is not None else e
    src = cand_frame.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("long").alias("_l"),
        F.col(vec_col).alias("_v"),
    )
    anch = e.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("long").alias("_l"),
        F.col(vec_col).alias("_v"),
    )
    est = None
    if strategy == "auto":
        n = anch.count()
        dim_row = anch.select(F.size("_v").alias("d")).first()
        est = n * int(dim_row["d"] if dim_row else 0) * 8
        strategy = "broadcast" if est <= max_broadcast_bytes else "blocked"

    if strategy == "broadcast":
        # bound BEFORE collecting (advisor r14: the old guard bounded
        # rows, not bytes, and only after the driver already held
        # them) — two tiny jobs, then one Arrow collect (toPandas, not
        # Row objects: Rows cost ~5-10× the raw bytes in Python).
        if est is None:
            n = anch.count()
            dim_row = anch.select(F.size("_v").alias("d")).first()
            est = n * int(dim_row["d"] if dim_row else 0) * 8
        if est > max_broadcast_bytes:
            raise ValueError(
                f"classwise_nearest broadcast strategy: ~{est >> 20} MB "
                f"of anchor vectors (> {max_broadcast_bytes >> 20} MB) "
                "— use strategy='blocked' (the cogroup path)"
            )
        pdf = anch.toPandas()
        if len(pdf) == 0:
            # Zero anchors: nothing to mine. Return a correctly-typed
            # empty frame instead of letting numpy raise an AxisError
            # on a 0-row (Q*Q).sum(1) (advisor r16).
            return _classwise_final(
                rows_lit(spark, [], schema), id_col
            )
        Q = np.array(pdf["_v"].tolist(), dtype=np.float64)
        if Q.nbytes > max_broadcast_bytes * 2:
            # belt-and-braces for ragged dims the estimate undercounted
            raise ValueError(
                f"classwise_nearest broadcast strategy: anchor vectors "
                f"are {Q.nbytes >> 20} MB > 2×{max_broadcast_bytes >> 20}"
                " MB — use strategy='blocked' (the cogroup path)"
            )
        qids = pdf["_id"].to_numpy(dtype=np.int64)
        qlab = pdf["_l"].to_numpy(dtype=np.int64)
        qn = (Q * Q).sum(1)
        bc = spark.sparkContext.broadcast((qids, qlab, Q, qn))

        def kernel(it):
            ids_q, lab_q, Qm, qn_ = bc.value
            for cpdf in it:
                if len(cpdf) == 0:
                    continue
                order = np.argsort(
                    cpdf["_id"].to_numpy(dtype=np.int64), kind="stable"
                )
                cids = cpdf["_id"].to_numpy(dtype=np.int64)[order]
                clab = cpdf["_l"].to_numpy(dtype=np.int64)[order]
                C = np.array(cpdf["_v"].tolist(), dtype=np.float64)[order]
                cn = (C * C).sum(1)
                out = _classwise_block(
                    ids_q, lab_q, Qm, qn_, cids, clab, C, cn
                )
                if out is not None:
                    yield out

        return _classwise_final(src.mapInPandas(kernel, schema), id_col)

    if strategy != "blocked":
        raise ValueError("strategy must be 'auto', 'broadcast' or 'blocked'")
    # Auto-size the block grid so the cogrouped (anchor_block,
    # cand_block) pandas group stays bounded as n grows: each axis
    # targets ≤ ~128 MB of raw vectors per group (the byte-bound auto
    # gate's estimate, advisor r16 — a fixed grid made per-task group
    # memory Θ(n)); floors keep the small-data grid at the historical
    # parallelism-derived shape.
    block_target = 128 << 20
    if cand_blocks is None or anchor_blocks is None:
        if est is None:
            n = anch.count()
            dim_row = anch.select(F.size("_v").alias("d")).first()
            est = n * int(dim_row["d"] if dim_row else 0) * 8
        if cand_frame is e:
            cest = est
        else:
            cn_rows = src.count()
            cdim_row = src.select(F.size("_v").alias("d")).first()
            cest = cn_rows * int(cdim_row["d"] if cdim_row else 0) * 8
    if cand_blocks is None:
        cand_blocks = max(4, -(-cest // block_target))
    if anchor_blocks is None:
        anchor_blocks = max(
            spark.sparkContext.defaultParallelism // cand_blocks,
            4,
            -(-est // block_target),
        )
    # two independent projections (the gemm.py self-join convention) —
    # replicating one shared subtree trips Spark's ambiguous-self-join
    # analysis in the cogroup
    c_src = cand_frame.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("long").alias("_l"),
        F.col(vec_col).alias("_v"),
    )
    ab_axis = spark.range(anchor_blocks).select(F.col("id").alias("_ab"))
    cb_axis = spark.range(cand_blocks).select(F.col("id").alias("_cb"))
    a_rep = anch.withColumn(
        "_ab", F.pmod(F.xxhash64("_id"), F.lit(anchor_blocks))
    ).crossJoin(F.broadcast(cb_axis))
    c_rep = c_src.withColumn(
        "_cb", F.pmod(F.xxhash64("_id"), F.lit(cand_blocks))
    ).crossJoin(F.broadcast(ab_axis))
    partial = (
        a_rep.groupBy("_ab", "_cb")
        .cogroup(c_rep.groupBy("_ab", "_cb"))
        .applyInPandas(
            lambda left, right: _classwise_cokernel(left, right), schema
        )
    )
    return _classwise_final(partial, id_col)


def classwise_nearest_ann(
    e: DataFrame,
    index,
    nprobe: int = 2,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate classwise_nearest over a fitted IVF index
    (operators/ivf.IVFIndex): each anchor considers ONLY the members of
    its ``nprobe`` nearest cells, so candidate pairs are
    Θ(n · nprobe · cell_size) instead of the exact path's Θ(n²) — the
    r14 verdict's named scale fix for triplet mining (q156 pins the
    agreement/coverage invariants vs the exact path).

    Plan shape is q118's IVF self-search: anchors explode to one row
    per (anchor, probed cell) via index.probes(), cell members cogroup
    on the 8-byte cell_id — anchors are never broadcast or crossJoined
    — and each cell task runs the SAME class-masked argmin kernel as
    the exact strategies (≤ 2 rows per anchor per probed cell into the
    min(struct) final agg).

    Approximation contract: returned distances can never BEAT the
    exact path's (every candidate considered is a true corpus member);
    an anchor whose probed cells hold no same-label (resp. no
    diff-label) candidate yields NO row for that side — coverage is a
    measured quantity, never silent corruption. The index must have
    been fit on a frame carrying ``label_col`` (cells_ keeps all fit
    columns)."""
    assert index.cells_ is not None, "fit the IVF index first"
    if label_col not in index.cells_.columns:
        raise ValueError(
            f"classwise_nearest_ann needs '{label_col}' in the fitted "
            "index's cells_ — fit the index on the labeled frame"
        )
    schema = _classwise_schema()
    q = e.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("long").alias("_l"),
        F.col(vec_col).alias("_v"),
    )
    probes = index.probes(q, nprobe, query_vec="_v").select(
        "cell_id", "_id", "_l", "_v"
    )
    c_side = index.cells_.select(
        "cell_id",
        F.col(index.id_col_).alias("_id"),
        F.col(label_col).cast("long").alias("_l"),
        F.col(index.vec_col_).alias("_v"),
    )
    partial = (
        probes.groupBy("cell_id")
        .cogroup(c_side.groupBy("cell_id"))
        .applyInPandas(
            lambda left, right: _classwise_cokernel(left, right), schema
        )
    )
    return _classwise_final(partial, id_col)
