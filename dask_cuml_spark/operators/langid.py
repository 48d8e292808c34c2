"""n-gram language identification (north-star text analysis: "language-ID
(n-gram heuristic)") — the Cavnar & Trenkle (1994) character-n-gram
profile classifier as reusable DataFrame operators.

Public-knowledge parity: the method behind langdetect/textcat-style
identifiers; dask-cuml ships no lang-ID, so this sits in the LLM-pipeline
extension tier (SURVEY §2D) next to quality scoring and tokenization.

Scale design (100 TB):
  - `char_ngrams` is a narrow transform/sequence expression + explode —
    no UDF, runs inside whole-stage codegen at scan speed.
  - `build_profiles` feeds the explode into ONE partial+final aggregate
    on (label, ngram); at corpus scale you build profiles from a
    fixed-rate deterministic sample (`sample_ppm`) — a per-row predicate
    on xxhash64 of the id column, so the sample (and hence the profile)
    is bit-reproducible across runs and overflow-free for any id width,
    with no extra shuffle. Profiles are topk×n_labels rows → always broadcast.
  - `classify` is a single broadcast-join pass over the exploded n-grams
    followed by two key-local aggregates; integer match-count scores keep
    the argmax engine-portable (no float-order drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_cuml_spark.functions.vector import rows_lit


def char_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Explode ``text_col`` into overlapping character n-grams.

    One row per n-gram INSTANCE (multiplicity preserved — profile counts
    and classification scores both want frequencies, not sets). Documents
    shorter than ``n`` characters produce no rows.

    Shape: TWO nested explodes inside one whole-stage-codegen span —
    first into ~√len-char blocks, then n-grams within each block.
    Building a per-row array<string> of the n-grams and exploding that
    is the "obvious" formulation but measured 30× slower at 10× scale
    (12.4 s vs 0.4 s for 14.7M trigrams): the array materializes
    ~len(text) UTF8Strings per row before the generate. The single-level
    index explode (substring(text, i, n) per instance) is what round 5
    shipped, and it hides a QUADRATIC: Spark's UTF8String.substringSQL
    walks the string from byte 0 to find char boundary i (no ASCII fast
    path, unlike DuckDB), so a doc pays Σᵢ i ≈ len²/2 char-steps —
    measured 7.4 s of the 8.2 s per-aggregate cost at 100× (194M
    instances). Blocking at step ≈ √len makes the outer substrings cost
    len²/(2·step) and the inner ones len·step/2 — O(len^1.5) total, ~10×
    fewer char-steps on ~400-char docs and asymptotically safer for long
    documents. Char semantics are exact (positions are merely
    decomposed), so oracle parity is unaffected.
    """
    # pre-filter instead of an empty-array guard: Spark's sequence(1, 0)
    # counts DOWN ([1, 0]), so a too-short doc must never reach it.
    # step >= n keeps every block at least n chars; ceil(sqrt(len)) is
    # the cost-balancing block size (see docstring arithmetic).
    L = f"length({text_col})"
    blocks = (
        df.filter(F.length(text_col) >= n)
        .select(
            *keep_cols,
            text_col,
            F.greatest(
                F.ceil(F.sqrt(F.length(text_col))).cast("int"), F.lit(n)
            ).alias("_step"),
        )
        .select(
            *keep_cols,
            text_col,
            "_step",
            F.explode(
                F.expr(f"sequence(1, {L} - {n - 1}, _step)")
            ).alias("_b"),
        )
        .select(
            *keep_cols,
            F.expr(f"substring({text_col}, _b, _step + {n - 1})").alias(
                "_blk"
            ),
        )
    )
    return blocks.select(
        *keep_cols,
        F.explode(F.expr(f"sequence(1, length(_blk) - {n - 1})")).alias(
            "_i"
        ),
        "_blk",
    ).select(
        *keep_cols,
        F.expr(f"substring(_blk, _i, {n})").alias("ngram"),
    )


def build_profiles(
    ngrams: DataFrame,
    label_col: str = "lang",
    topk: int = 50,
    sample_ppm: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-label top-``topk`` n-gram profile → (label, ngram) rows.

    Deterministic ordering: frequency desc, n-gram asc — ties never
    depend on partitioning. With ``sample_ppm`` set (parts per 2^20),
    profiles are built from the deterministic xxhash64 sample
    of ``id_col`` — the 100 TB path: profile quality saturates long
    before full-corpus counts, so the heavy explode runs on a fixed
    fraction while classification still covers every document.
    """
    if sample_ppm is not None:
        # hash FIRST: a raw multiplicative id*const bigint multiply
        # overflows for large ids — silent wraparound under default
        # Spark but a runtime error under spark.sql.ansi.enabled
        # (advisor r5). xxhash64 is overflow-free, deterministic, and
        # engine-portable.
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
        ngrams = ngrams.filter(bucket < F.lit(sample_ppm))
    rk = F.row_number().over(
        Window.partitionBy(label_col).orderBy(
            F.col("n").desc(), F.col("ngram").asc()
        )
    )
    return (
        ngrams.groupBy(label_col, "ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= topk)
        .select(F.col(label_col).alias("cand"), "ngram")
    )


def classify(
    ngrams: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    default: str = "unk",
    strategy: str = "pivot",
) -> DataFrame:
    """Predict a label per document: (id_col, lang_pred, score).

    score(doc, label) = number of the doc's n-gram instances that hit the
    label's profile set; argmax with label-asc tie-break. Documents whose
    n-grams miss every profile are absent — callers left-join and
    coalesce to ``default`` (kept as an explicit parameter so the
    contract is visible).

    strategy='pivot' (default, the scale path): collect the profile to
    the driver (model-state-sized — topk × n_labels rows, same class as
    broadcasting k-means centroids), fold it into a (xxhash64(ngram) →
    label bitmask) table, and score with ONE broadcast hash-join probe
    per n-gram row — the join key is an 8-byte long and the profile side
    is pre-OR'd to one row per distinct ngram, so there is NO row
    expansion (unlike the string-profile join, which emitted ~1.75× the
    stream on the fixture) — followed by one aggregate whose per-label
    scores are bitmask lane sums (`(mask >> i) & 1` — ALU ops, not
    string probes). Round-5 shape was n_labels string InSet probes per
    row (n_labels string hashes); this does ONE string hash + ONE long
    probe per row. A/B at 100× (150M trigrams): 19.4 s → see
    SCALEBENCH q114. No second shuffle, no argmax window (the argmax is
    a greatest/CASE over the per-label sums, label-asc on ties).
    Equality is xxhash64-equality — the same 2^-64 collision class
    exact_dedup and the MinHash family already stake on.

    strategy='join' keeps everything executor-side (broadcast profile
    join + integer-score argmax window) — the formulation the DuckDB
    oracle mirrors; use it when the label set itself is too large to
    collect (not the lang-ID regime).
    """
    spark = ngrams.sparkSession
    if strategy == "pivot":
        rows = profiles.collect()
        langs = sorted({r["cand"] for r in rows})
        if not langs:  # empty profile → no doc can score a hit
            return rows_lit(
                spark, [], f"{id_col} long, lang_pred string, score long"
            )
        if len(langs) > 63:
            # the bitmask ships as ONE signed-long column: lane 63 is the
            # sign bit and lane 64+ would alias lower lanes. Lang-ID label
            # sets are tens of languages, so fall back to the unbounded
            # broadcast-join formulation rather than chunking masks.
            strategy = "join"
    if strategy == "pivot":
        lane = {lang: i for i, lang in enumerate(langs)}
        mask_by_ngram: dict[str, int] = {}
        for r in rows:
            mask_by_ngram[r["ngram"]] = mask_by_ngram.get(
                r["ngram"], 0
            ) | (1 << lane[r["cand"]])
        prof = (
            rows_lit(
                spark, list(mask_by_ngram.items()), "ngram string, _mask long"
            )
            .select(F.xxhash64("ngram").alias("_h"), "_mask")
        )
        hits = ngrams.select(
            id_col, F.xxhash64("ngram").alias("_h")
        ).join(F.broadcast(prof), "_h")
        score_cols = [
            F.sum(F.shiftright(F.col("_mask"), i).bitwiseAND(F.lit(1)))
            .cast("long")
            .alias(f"_s_{i}")
            for i in range(len(langs))
        ]
        per_doc = hits.groupBy(id_col).agg(*score_cols)
        s = [F.col(f"_s_{i}") for i in range(len(langs))]
        mx = F.greatest(*s) if len(s) > 1 else s[0]
        pred = F.when(s[0] == mx, F.lit(langs[0]))
        for i in range(1, len(langs)):  # asc order == asc tie-break
            pred = pred.when(s[i] == mx, F.lit(langs[i]))
        # inner join already drops no-hit docs (≡ the old filter(mx>0))
        return per_doc.select(
            id_col, pred.alias("lang_pred"), mx.alias("score")
        )
    score = (
        ngrams.join(F.broadcast(profiles), "ngram")
        .groupBy(id_col, "cand")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    rk = F.row_number().over(
        Window.partitionBy(id_col).orderBy(
            F.col("s").desc(), F.col("cand").asc()
        )
    )
    return (
        score.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("cand").alias("lang_pred"), F.col("s").alias("score"))
    )
