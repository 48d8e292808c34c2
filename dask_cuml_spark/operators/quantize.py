"""int8 scalar quantization of embedding columns (FAISS SQ8 posture:
per-vector max-abs scale, symmetric round-half-up to [-127, 127] — the
ANN memory-compression step that cuts vector storage 4x before IVF/LSH
indexing; SURVEY.md §2D D3).

Two physical strategies, one contract (q131's witnesses: per-vector
scale, exact integer q_sum / q_abs_sum, max reconstruction error):

expr   — pyspark.sql higher-order functions. Oracle-exact by
         construction (same fold order as the DuckDB SQL), but Spark
         HOFs are CodegenFallback: every per-element lambda runs
         interpreted, which the r10 verdict measured at 8.04x vs DuckDB
         at 100x on an otherwise perfect one-pass zero-shuffle plan.
expr_raw / kernel — same outputs UNROUNDED (rounding is applied by the
         caller so both branches share one rounding site). kernel is
         the 100-TB path: an Arrow-batched mapInPandas running the
         whole batch as vectorized numpy (gemm.py's pattern — dense
         per-element math belongs in a columnar kernel, not in
         interpreted expression trees). Bit parity with expr_raw holds
         because every elementwise op is the same IEEE-double sequence
         (x/s*127+0.5 then floor; x - q*s/127) and the integer sums are
         exact below 2^53 — asserted by tests/test_operators.py's
         strategy-agreement test.

Callers pick the strategy with plans/cost.embeddings_strategy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from dask_cuml_spark.functions.vector import matrix_lit, rows_lit

_Q_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("scale", DoubleType()),
        StructField("q_sum", LongType()),
        StructField("q_abs_sum", LongType()),
        StructField("max_err", DoubleType()),
    ]
)


def _expr_raw(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Expression form, UNROUNDED outputs (the oracle-exact fold)."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = df.select(F.col(id_col).alias("vec_id"), dbl.alias("e"))
    v = v.withColumn("scale", F.array_max(F.transform(F.col("e"), F.abs)))
    # zero-scale guard: all-zero vector divides by 1 → qv=0, max_err=0
    sdiv = F.when(F.col("scale") == 0, F.lit(1.0)).otherwise(F.col("scale"))
    v = v.withColumn(
        "qv",
        F.transform(
            F.col("e"), lambda x: F.floor(x / sdiv * 127 + F.lit(0.5))
        ),
    )
    # max_err in its OWN projection — Spark 3.4+ lateral column alias
    # resolution would bind a same-select lambda's "scale" to a rounded
    # alias (the q131 hazard the oracle caught in round 10)
    v = v.withColumn(
        "max_err",
        F.array_max(
            F.zip_with(
                F.col("e"),
                F.col("qv"),
                lambda x, q: F.abs(x - q * F.col("scale") / 127),
            )
        ),
    )
    zero = F.lit(0).cast("bigint")
    return v.select(
        "vec_id",
        "scale",
        F.aggregate(F.col("qv"), zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            F.transform(F.col("qv"), F.abs), zero, lambda a, x: a + x
        ).alias("q_abs_sum"),
        "max_err",
    )


def _kernel(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Arrow-batched numpy kernel: same values, compiled loop.

    One narrow mapInPandas — arrays in, five scalars out per row; zero
    shuffles, so at 100 TB this runs at scan speed with the per-element
    work in vectorized C instead of Catalyst's interpreted
    CodegenFallback lambdas."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            # null vectors propagate as all-null output rows — the expr
            # strategy's behavior (transform/aggregate over NULL is
            # NULL), so the size gate flipping expr->kernel never
            # changes dirty-input semantics
            null_mask = pdf[vec_col].isna()
            if null_mask.any():
                nulls = pdf[null_mask]
                yield pd.DataFrame(
                    {
                        "vec_id": nulls[id_col].to_numpy(),
                        "scale": [None] * len(nulls),
                        "q_sum": pd.array([None] * len(nulls), "Int64"),
                        "q_abs_sum": pd.array([None] * len(nulls), "Int64"),
                        "max_err": [None] * len(nulls),
                    }
                )
                pdf = pdf[~null_mask]
                if pdf.empty:
                    continue
            ids = pdf[id_col].to_numpy()
            # fixture vectors are fixed-dim; fall back to a ragged loop
            # if a source ever mixes lengths
            vecs = list(pdf[vec_col])
            lens = {len(v) for v in vecs}
            if len(lens) == 1:
                m = np.asarray(
                    np.stack([np.asarray(v) for v in vecs]), dtype=np.float64
                )
                scale = np.abs(m).max(axis=1)
                sdiv = np.where(scale == 0.0, 1.0, scale)
                # EXACT expr-order replication: (x / s) * 127 + 0.5
                qv = np.floor(m / sdiv[:, None] * 127 + 0.5)
                q_sum = qv.sum(axis=1).astype(np.int64)
                q_abs = np.abs(qv).sum(axis=1).astype(np.int64)
                # (q * s) / 127, then x - that — the expr's sequence
                err = np.abs(m - qv * scale[:, None] / 127)
                max_err = err.max(axis=1)
            else:
                scale = np.empty(len(vecs))
                q_sum = np.empty(len(vecs), dtype=np.int64)
                q_abs = np.empty(len(vecs), dtype=np.int64)
                max_err = np.empty(len(vecs))
                for i, v in enumerate(vecs):
                    e = np.asarray(v, dtype=np.float64)
                    s = np.abs(e).max() if e.size else 0.0
                    sd = 1.0 if s == 0.0 else s
                    q = np.floor(e / sd * 127 + 0.5)
                    scale[i] = s
                    q_sum[i] = int(q.sum())
                    q_abs[i] = int(np.abs(q).sum())
                    max_err[i] = (
                        np.abs(e - q * s / 127).max() if e.size else 0.0
                    )
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "scale": scale,
                    "q_sum": q_sum,
                    "q_abs_sum": q_abs,
                    "max_err": max_err,
                }
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(batches, _Q_SCHEMA)


def int8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "expr",
) -> DataFrame:
    """(vec_id, scale, q_sum, q_abs_sum, max_err) — UNROUNDED.

    strategy: 'expr' (interpreted HOFs, oracle-exact) or 'kernel'
    (vectorized Arrow batches, the 100-TB path). Callers needing
    rounded presentation apply F.round on top — one rounding site keeps
    branch parity trivially true.
    """
    if strategy == "kernel":
        return _kernel(df, id_col, vec_col)
    if strategy == "expr":
        return _expr_raw(df, id_col, vec_col)
    raise ValueError(f"unknown strategy {strategy!r}")


def _partial_sums_multi(
    df: DataFrame, vec_col: str, active: list, sub: int
):
    """kmeans._partial_sums generalized to MANY subspaces in ONE pass:
    ``active`` is a list of (s, centers) for the subspaces still
    iterating; each Arrow batch slices the full vector once per
    subspace (ascontiguousarray → the same (rows × sub) @ (sub × k)
    BLAS call the per-subspace fit made) and emits (s, cid, n,
    vec_sum, sse) partial rows. Per-(s, cid) float accumulation order
    on the driver matches the sequential path exactly (same batches,
    same within-batch row order), so the combined loop is bit-identical
    to m independent fits — pinned by the parity pytest."""
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
            StructField("s", IntegerType()),
            StructField("cid", IntegerType()),
            StructField("n", LongType()),
            StructField("vec_sum", ArrayType(DoubleType())),
            StructField("sse", DoubleType()),
        ]
    )
    bc = df.sparkSession.sparkContext.broadcast(
        [(s, np.asarray(C, dtype=np.float64)) for s, C in active]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        subs = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            rows = []
            for s, C in subs:
                Xs = np.ascontiguousarray(X[:, s * sub:(s + 1) * sub])
                c_norms = (C * C).sum(axis=1)
                scores = c_norms[None, :] - 2.0 * (Xs @ C.T)
                assign = scores.argmin(axis=1)
                min_score = scores.min(axis=1)
                x_norms = (Xs * Xs).sum(axis=1)
                for cid in range(C.shape[0]):
                    mask = assign == cid
                    n = int(mask.sum())
                    if n:
                        rows.append(
                            {
                                "s": s,
                                "cid": cid,
                                "n": n,
                                "vec_sum": Xs[mask].sum(axis=0).tolist(),
                                "sse": float(
                                    (min_score[mask] + x_norms[mask]).sum()
                                ),
                            }
                        )
            yield pd.DataFrame(
                rows, columns=["s", "cid", "n", "vec_sum", "sse"]
            )

    return df.select(vec_col).mapInPandas(kernel, schema)


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
    max_train_rows: int | None = None,
):
    """Train the m per-subspace codebooks only (model state). Split out
    of pq_train_encode (r11) so a session can fit ONCE and encode many
    frames — the production posture (and the _fitted_ivf memo pattern):
    q137 encodes the twin-salted frame and q138 serves ADC search off
    the SAME codebooks without re-running the m Lloyd loops.

    ``max_train_rows`` bounds the TRAINING set (r11 verdict: codebooks
    are model state — FAISS trains them on a bounded sample, never the
    corpus; m=8 Lloyd fits x max_iter=5 over the full frame is ~40
    corpus-wide aggregation passes, the wrong plan at 100 TB even
    once). The sample is a deterministic xxhash64 bucket cut on
    ``id_col`` (the train_test_split convention): same rows selected
    regardless of partitioning or cluster size, so memoized refits are
    bit-identical. When the frame already fits the cap the filter is
    skipped entirely — small-fixture codebooks are unchanged. The cap
    only affects which rows VOTE for centroid positions; every encode
    invariant (argmin re-derivation, twin consistency, code range,
    Lloyd monotonicity) is codebook-agnostic, so q137/q138's oracles
    hold for any cap."""
    from dask_cuml_spark.operators.kmeans import KMeans

    train = df
    if max_train_rows is not None:
        n = df.count()
        if n > max_train_rows:
            # bucket cut sized so E[sample] = max_train_rows; one cheap
            # count (model-state work, paid once per session via the
            # _fitted_pq memo) buys a corpus-independent training cost
            cut = max(1, int(max_train_rows / n * 10_000))
            train = df.filter(
                F.pmod(F.xxhash64(F.col(id_col), F.lit(42)), F.lit(10_000))
                < F.lit(cut)
            )
            # the m subspace fits each scan the sample ~max_iter times;
            # localCheckpoint materializes it ONCE (sample-sized, the
            # whole point of the cap)
            train = train.localCheckpoint()
    # ALL m subspace fits share one Lloyd loop (r16 optimization): the
    # sequential form cost m × (init collect + max_iter kernel jobs)
    # ≈ 48 Spark jobs at m=8 — pure scheduling overhead, since every
    # fit scans the SAME rows. One init collect (the k lowest-id full
    # vectors, sliced per subspace — the rows each per-subspace
    # orderBy/limit would have collected) + one _partial_sums_multi job
    # per iteration covering every still-active subspace. Arithmetic is
    # per-subspace identical (same batches, same contiguous (rows×sub)
    # GEMM, same driver reduce order), so codebooks / histories /
    # n_iter_ are bit-identical to the sequential fits — pinned by
    # tests/test_operators.py::test_pq_fit_combined_matches_sequential.
    base = train.select(id_col, vec_col).cache()
    try:
        first = (
            base.orderBy(id_col).limit(k).select(vec_col).collect()
        )
        dim = len(first[0][0])
        assert dim % m == 0, f"dim {dim} not divisible by m={m}"
        sub = dim // m
        init = np.array([r[0] for r in first], dtype=np.float64)
        centers = {
            s: init[:, s * sub:(s + 1) * sub].copy() for s in range(m)
        }
        tol = KMeans.tol
        history: dict[int, list[float]] = {s: [] for s in range(m)}
        n_iter = dict.fromkeys(range(m), 0)
        active = list(range(m))
        for it in range(max_iter):
            if not active:
                break
            sums = _partial_sums_multi(
                base, vec_col, [(s, centers[s]) for s in active], sub
            ).collect()
            still = []
            for s in active:
                C = centers[s]
                new_centers = C.copy()
                totals = np.zeros(k)
                vec_sums = np.zeros((k, sub))
                sse = 0.0
                for row in sums:
                    if row["s"] != s:
                        continue
                    totals[row["cid"]] += row["n"]
                    vec_sums[row["cid"]] += np.asarray(row["vec_sum"])
                    sse += row["sse"]
                history[s].append(sse)
                for cid in range(k):
                    if totals[cid] > 0:
                        new_centers[cid] = vec_sums[cid] / totals[cid]
                shift = float(
                    np.max(np.linalg.norm(new_centers - C, axis=1))
                )
                centers[s] = new_centers
                n_iter[s] = it + 1
                if shift >= tol:
                    still.append(s)
            active = still
    finally:
        base.unpersist()
    codebooks, models = [], []
    for s in range(m):
        km = KMeans(k=k, max_iter=max_iter)
        km.cluster_centers_ = centers[s]
        km.inertia_history_ = history[s]
        km.n_iter_ = n_iter[s]
        codebooks.append(km.cluster_centers_)
        models.append(km)
    return codebooks, models


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode a frame against fitted codebooks: m literal-matrix argmin
    expressions in ONE projection — zero shuffles, scan speed."""
    m = len(codebooks)
    dim = sum(cb.shape[1] for cb in codebooks)
    sub = dim // m
    code_cols = [
        _assignment_expr_on(
            F.slice(F.col(vec_col), s * sub + 1, sub), codebooks[s]
        ).alias(f"_c{s}")
        for s in range(m)
    ]
    return df.select(id_col, vec_col, *code_cols).select(
        id_col,
        vec_col,
        F.array(*[F.col(f"_c{s}") for s in range(m)]).alias("codes"),
    )


def pq_train_encode(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
):
    """Product quantization (FAISS IndexPQ, Jégou et al. 2011): split
    each vector into ``m`` contiguous subvectors, train a ``k``-centroid
    codebook per subspace (Lloyd on the subspace — the existing KMeans
    operator, deterministic first-k init), and encode every vector as m
    small codes. 64-dim float32 → 8 bytes/vector at m=8, k≤256: the
    memory step BEYOND q131's SQ8 (16x vs 4x compression) that IVF-PQ
    serving stacks on the q47/q115 index.

    Returns (codes_df, codebooks, models). Thin composition of pq_fit
    (model-state training, memoizable per session) and pq_encode (the
    corpus-wide pass: m argmin expressions in one zero-shuffle
    projection). Scale posture: production fits on a bounded sample
    ONCE and encodes everything; the split mirrors that.
    """
    codebooks, models = pq_fit(df, m, k, id_col, vec_col, max_iter)
    return pq_encode(df, codebooks, id_col, vec_col), codebooks, models


def _assignment_expr_on(vec_expr, centers) -> "F.Column":
    """kmeans._assignment_expr generalized to an arbitrary array
    EXPRESSION (the original binds a column by name)."""
    dists = F.transform(
        matrix_lit(centers),
        lambda c: F.aggregate(
            F.zip_with(
                vec_expr,
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def adc_candidates(
    df: DataFrame,
    lut_rows: list,
    shortlist: int,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    cell_col: str | None = None,
    strategy: str = "expr",
) -> DataFrame:
    """(query_id, neighbor_id, adist) candidates PROVABLY containing
    every query's global top-``shortlist`` by (adist, neighbor_id) —
    the PQ asymmetric-distance scan (shared q138/q141).

    ``lut_rows``: (query_id, lut[m][k], probe_cells-or-None) triples;
    when ``cell_col`` is given, a query scores ONLY rows whose cell is
    in its probe set (the IVF-PQ contract).

    strategy='expr' — broadcast-joined LUT columns + an interpreted
    aggregate fold: the oracle-mirroring shape, fine at fixture scale.
    strategy='kernel' — the 100-TB path (r12: at 1000× the expr fold
    is 320 M CodegenFallback lookups — the q131 interpreter-tax class):
    an Arrow-batched mapInPandas where each batch runs the fold as m
    vectorized numpy gathers IN THE EXPR'S EXACT IEEE ORDER
    (acc = lut[0][c0]; acc = acc + lut[s][cs] ascending — bit parity
    with the expression fold, strategy-agreement pytest) and emits only
    its per-(batch, query) top-``shortlist`` by the same
    (adist, neighbor_id) order the global window uses — the union over
    batches provably contains the global top-k (brute_force_knn's gemm
    merge argument), so the shuffle carries batches × queries ×
    shortlist rows instead of |corpus| × queries."""
    import numpy as np

    spark = df.sparkSession
    m = len(lut_rows[0][1])
    if strategy == "expr":
        if cell_col is not None:
            probes = rows_lit(
                spark,
                [
                    (qid, int(c), lut)
                    for qid, lut, cells in lut_rows
                    for c in cells
                ],
                f"query_id long, {cell_col} int, lut array<array<double>>",
            )
            cand = df.join(F.broadcast(probes), cell_col)
        else:
            luts = rows_lit(
                spark,
                [(qid, lut) for qid, lut, _cells in lut_rows],
                "query_id long, lut array<array<double>>",
            )
            cand = df.crossJoin(F.broadcast(luts))
        adc = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.element_at("lut", s.cast("int") + 1),
                F.element_at(codes_col, s.cast("int") + 1) + 1,
            ),
        )
        return cand.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adc.alias("adist"),
        )
    if strategy != "kernel":
        raise ValueError(f"unknown strategy {strategy!r}")
    luts_np = [
        (
            int(qid),
            np.asarray(lut, dtype=np.float64),
            None if cells is None else np.asarray(sorted(cells)),
        )
        for qid, lut, cells in lut_rows
    ]
    cols = [id_col, codes_col] + ([cell_col] if cell_col else [])
    out_schema = "query_id long, neighbor_id long, adist double"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            codes = np.stack(
                [np.asarray(c) for c in pdf[codes_col]]
            )  # (b, m) small ints
            ids = pdf[id_col].to_numpy()
            cells = pdf[cell_col].to_numpy() if cell_col else None
            qs, ns, ds = [], [], []
            for qid, lut, qcells in luts_np:
                if cells is not None:
                    mask = np.isin(cells, qcells)
                    if not mask.any():
                        continue
                    c, nid = codes[mask], ids[mask]
                else:
                    c, nid = codes, ids
                acc = lut[0][c[:, 0]]
                for s in range(1, len(lut)):
                    # sequential adds — the expression fold's order
                    acc = acc + lut[s][c[:, s]]
                take = min(shortlist, len(acc))
                order = np.lexsort((nid, acc))[:take]
                qs.append(np.full(take, qid, dtype=np.int64))
                ns.append(nid[order])
                ds.append(acc[order])
            if not qs:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qs),
                    "neighbor_id": np.concatenate(ns),
                    "adist": np.concatenate(ds),
                }
            )

    return df.select(*cols).mapInPandas(batches, out_schema)
