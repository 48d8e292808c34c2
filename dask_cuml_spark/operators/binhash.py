"""Binary sign-hash (random-hyperplane / SRP-LSH) signatures for angular
ANN serving — Charikar 2002's SimHash applied to EMBEDDINGS: bit b of a
vector's signature is sign(<v, r_b>) for a fixed Gaussian hyperplane
r_b, so Pr[bit differs] = angle/π and Hamming distance is an unbiased
angle estimator (fixtures are unit-norm, FIXTURES.md, so angular order
≡ L2 order). This is the third quantized serving shape next to int8 SQ
(operators/quantize.py) and PQ/ADC (q137/q138): the search scan touches
ONLY nbits/8 bytes per row and ranks with XOR+POPCNT — both pure JVM
codegen (`bit_count(sig[w] ^ lit)`), no LUTs, no kernel on the scan.

Signature COMPUTATION is one dense GEMM per Arrow batch (X @ P.T — the
gemm.py rationale: dense per-element math belongs in a vectorized
columnar kernel, not interpreted HOF lambdas; 128 plane dots x 64 dims
per row would be ~8k CodegenFallback lambda evals/row as expressions).
There is no oracle-mirroring expr twin because signature bits never
enter a SQL oracle — consumers (q145) gate with invariant oracles, and
the bits themselves are pinned by pytest instead:
  - numpy-replay equality (driver-side recompute of the exact bits)
  - partitioning invariance (1 vs 8 partitions, bit-identical), safe
    because sign flips would need |<v,r>| inside the ~1e-12 ulp class
    while the measured fixture minimum margin is 2.7e-6 (sf0.1) — a
    10^6x guard band (same argument class as gemm.py's threshold note).

Planes are model-state: RandomState(seed).standard_normal((nbits, d)) —
NumPy's legacy generator guarantees stream stability, so signatures are
reproducible across sessions/platforms; at nbits=128, 64 KB broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from dask_cuml_spark.functions.vector import sql_lit

_SIG_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("sig", ArrayType(LongType())),
    ]
)


def hyperplanes(nbits: int, dim: int, seed: int = 7) -> np.ndarray:
    """The (nbits, dim) Gaussian hyperplane matrix — model-state."""
    if nbits % 64:
        raise ValueError("nbits must pack into 64-bit words")
    return np.random.RandomState(seed).standard_normal((nbits, dim))


def pack_bits(bits: np.ndarray) -> np.ndarray:
    """(n, nbits) bool -> (n, nbits//64) int64, little-endian bit order
    (bit b of word w = plane w*64+b). int64 view keeps the exact bit
    pattern through Arrow into Java longs, where XOR/POPCNT read it."""
    packed = np.packbits(bits, axis=1, bitorder="little")
    return packed.view("<i8")


def signatures_of(X: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Packed signatures of a dense row block (driver-side twin of the
    kernel — queries and pytest replays use the SAME function)."""
    return pack_bits(X.astype(np.float64) @ planes.T >= 0)


def sign_signatures(
    df: DataFrame, id_col: str, vec_col: str, planes: np.ndarray
) -> DataFrame:
    """(id, vec) -> (vec_id, sig array<bigint>) via an Arrow-batched
    GEMM kernel; null vectors propagate as null signatures (the
    quantize.py dirty-input convention)."""
    nb = planes.shape[0]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            null_mask = pdf[vec_col].isna()
            if null_mask.any():
                nulls = pdf[null_mask]
                yield pd.DataFrame(
                    {
                        "vec_id": nulls[id_col].to_numpy(),
                        "sig": [None] * len(nulls),
                    }
                )
                pdf = pdf[~null_mask]
                if pdf.empty:
                    continue
            X = np.stack(pdf[vec_col].to_numpy())
            sigs = signatures_of(X, planes)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "sig": list(sigs),
                }
            )
        _ = nb  # closure keeps planes (and shape) serialized once

    out = df.select(F.col(id_col).alias(id_col), vec_col).mapInPandas(
        batches, _SIG_SCHEMA
    )
    return out


_CAND_SCHEMA = StructType(
    [
        StructField("neighbor_id", LongType()),
        StructField("query_id", LongType()),
        StructField("ham", LongType()),
    ]
)


def hamming_candidates(
    sigs: DataFrame,
    queries: list[tuple[int, list[int]]],
    shortlist: int,
    strategy: str = "expr",
) -> DataFrame:
    """Score every signature row against every query signature and
    return (neighbor_id, query_id, ham) candidates; the caller applies
    the global per-query top-``shortlist`` window. Two strategies, one
    contract (the q138 adc_candidates convention):

    expr    — one projection: the query signatures are ONE array
              literal, and ``transform`` over it emits a (query_id,
              ham) struct per query (ham = sum of bit_count(word XOR
              query word), whole-stage codegen), exploded. The serving
              story: ranking reads nbits/8 bytes per row with two JVM
              instructions per word, and building the plan costs the
              same few py4j calls whatever |Q|. Emits n x |Q| rows into the
              window exchange — fine at fixture scale.
    kernel  — Arrow-batched numpy scan emitting only the per-BATCH
              top-``shortlist`` per query, so the window exchange
              carries batches x |Q| x shortlist rows instead of
              n x |Q| (the 100-TB shape). Hamming is integer-exact, so
              kernel and expr agree bit-for-bit on the surviving
              candidate set (strategy-agreement pytest).

    Null signatures (from null input vectors) are unsearchable and are
    excluded HERE, identically in both strategies — otherwise the expr
    path would rank null ham first (Spark nulls-first asc) while the
    kernel's np.stack would crash.
    """
    sigs = sigs.filter("sig IS NOT NULL")
    if strategy == "expr":
        qlit = sql_lit(
            [{"q": int(qid), "w": [int(w) for w in words]} for qid, words in queries]
        )
        per_q = (
            f"explode(transform({qlit}, s -> named_struct("
            "'query_id', CAST(s.q AS BIGINT), "
            "'ham', CAST(aggregate(zip_with(sig, s.w, "
            "(a, b) -> bit_count(a ^ b)), 0, (acc, x) -> acc + x) AS BIGINT))))"
        )
        return sigs.selectExpr(
            "vec_id AS neighbor_id", f"{per_q} AS s"
        ).selectExpr("neighbor_id", "s.query_id", "s.ham")

    qw = np.array([words for _qid, words in queries], dtype=np.int64)
    qids = np.array([qid for qid, _w in queries], dtype=np.int64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            S = np.stack(pdf["sig"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy()
            out_n, out_q, out_h = [], [], []
            for qi in range(len(qids)):
                x = np.bitwise_xor(S, qw[qi][None, :])
                ham = (
                    np.unpackbits(x.view(np.uint8), axis=1)
                    .sum(axis=1)
                    .astype(np.int64)
                )
                keep = min(shortlist, len(ids))
                # partial top-k: order by (ham, neighbor_id) so the
                # per-batch cut keeps exactly what the global window
                # would (ties included deterministically)
                order = np.lexsort((ids, ham))[:keep]
                out_n.append(ids[order])
                out_q.append(np.full(keep, qids[qi]))
                out_h.append(ham[order])
            yield pd.DataFrame(
                {
                    "neighbor_id": np.concatenate(out_n),
                    "query_id": np.concatenate(out_q),
                    "ham": np.concatenate(out_h),
                }
            )

    return sigs.mapInPandas(batches, _CAND_SCHEMA)
