"""Text analysis + deduplication (SURVEY.md §2D D1/D2/D4/D5, §2A A11/A14):
tokenization, tf-idf, top-terms, exact dedup, n-gram Jaccard near-dup,
language/source slicing, quality scoring, naive-bayes decomposition,
stratified sampling, Gopher quality rules, BPE-ish token accounting,
n-gram language identification.

Reference parity: cuml.dask feature_extraction.text (CountVectorizer/TFIDF)
[SURVEY §2A A14] and the north-star LLM-pipeline dedup/text ops.

Scale design:
  - tokenize = split+explode: narrow → shuffle only at the groupBy(term),
    which is the canonical word-count shape (map-side partial agg wins).
  - tf-idf: two aggregates (tf per doc-term, df per term) + a broadcast
    join of the (small) term->idf map back onto tf.
  - exact dedup at 100 TB: group on (hash of normalized text) first so the
    shuffle key is 8 bytes, not the document; fixtures are small enough to
    group on text directly while the declared operator hashes.
  - n-gram Jaccard near-dup: token-set self-join pre-filtered by shared
    tokens — the relational formulation of MinHash verification; the
    probabilistic MinHash/LSH variant is in operators/dedup.py (ROWS).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_cuml_spark.functions.vector import array_lit, sql_lit
from dask_cuml_spark.io import load_table
from dask_cuml_spark.registry import register


def tokens_sql(col: str = "text") -> str:
    """Whitespace tokenizer as SQL text (fixtures are single-space
    separated; FIXTURES.md)."""
    return f"split({col}, ' ')"


def tokens(col: str = "text") -> Column:
    """The whitespace tokenizer as a Spark expression."""
    return F.expr(tokens_sql(col))


# ---------------------------------------------------------------------------
# q30 — token counts (D4 tokenize+tf): global top-20 terms with tie-break.
# ---------------------------------------------------------------------------
@register(
    "q30_top_terms",
    oracle="""
SELECT t.term AS term, COUNT(*) AS n
FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
GROUP BY t.term
ORDER BY n DESC, term
LIMIT 20
""",
)
def q30_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q31 — tf-idf top term per document (A14/D4). idf = ln(N/df); top-1 by
# (score desc, term asc) per doc — deterministic tie-break.
# ---------------------------------------------------------------------------
@register(
    "q31_tfidf_top_term",
    oracle="""
WITH tok AS (
  SELECT doc_id, t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, score
FROM (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rk
  FROM scored
) s
WHERE rk = 1
""",
)
def q31_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("term"))
    # df from tf, NOT from tok: tf rows are distinct (doc, term), so a
    # plain count per term IS the document frequency. Round-5 shipped
    # this as localCheckpoint(tf) + agg + broadcast join, but that shape
    # costs TWO extra eager jobs per call (a d.count() for n_docs and
    # the checkpoint materialization — 0.38 s of the 0.65 s sf0.1 wall).
    # A count() window over term keeps everything ONE lazy DAG: tf rows
    # flow tokenize → (doc,term) agg → term exchange (window df) →
    # doc_id exchange (top-1). Measured faster at both ends: 0.97 →
    # 0.67 s at sf0.1, 4.39 → 3.92 s at 100× — the extra full-row term
    # exchange is cheaper than checkpoint-write + two job round trips.
    # n_docs rides along as a broadcast 1-row cross join, not a count().
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfw = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = tf.crossJoin(
        F.broadcast(d.agg(F.count(F.lit(1)).alias("_n")))
    ).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.col("_n").cast("double") / dfw), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "term", "score")
    )


# ---------------------------------------------------------------------------
# q32 — exact dedup summary (D1): docs vs distinct normalized texts; the
# keep-min(doc_id) representative per duplicate group.
# ---------------------------------------------------------------------------
@register(
    "q32_exact_dedup",
    oracle="""
WITH groups AS (
  SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM documents
  GROUP BY text
)
SELECT
  (SELECT COUNT(*) FROM documents) AS n_docs,
  COUNT(*) AS n_distinct,
  CAST(SUM(n_copies - 1) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
FROM groups
""",
)
def q32_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # group on xxhash64(text), not text (r7): the shuffle key drops from
    # whole documents to 8 bytes — operators/dedup.exact_dedup's design,
    # now applied here too; same 2^-64 collision class the oracle
    # comparison (which groups on STRINGS) re-proves green per run
    groups = d.groupBy(F.xxhash64("text").alias("_h")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )
    # n_docs ≡ Σ n_copies — no separate count action over the input
    return groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("n_copies") - 1).alias("n_removed"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias(
            "n_dup_groups"
        ),
    )


# ---------------------------------------------------------------------------
# q33 — language/source slice-and-dice (D5).
# ---------------------------------------------------------------------------
@register(
    "q33_lang_source_slice",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
""",
)
def q33_lang_source_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# q34 — text quality scoring (north-star text analysis): token count,
# distinct tokens, type-token ratio, mean token length — the standard
# LLM-data quality features, all JVM-side array expressions (no UDF).
# ---------------------------------------------------------------------------
@register(
    "q34_text_quality",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS ttr,
       ROUND((n_chars - len(string_split(text, ' ')) + 1.0)
             / len(string_split(text, ' ')), 6) AS avg_token_len
FROM documents
""",
)
def q34_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tok = F.array_size(toks)
    n_dis = F.array_size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_distinct_tokens"),
        F.round(n_dis.cast("double") / n_tok, 6).alias("ttr"),
        F.round(
            (F.col("n_chars") - n_tok + 1.0) / n_tok, 6
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# q35 — n-gram (token) Jaccard near-dup (D2, exact relational form): for a
# doc subset, pairwise Jaccard over distinct-token sets via a shared-token
# self-join — the verification stage of MinHash dedup, SQL-oracled.
# ---------------------------------------------------------------------------
@register(
    "q35_jaccard_near_dup",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE doc_id < 100
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.6
""",
)
def q35_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("term")
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_inter")
    )
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# q36 — naive-bayes decomposition (A11): per-(lang, term) smoothed
# log-likelihood + class log-prior — the entire MultinomialNB fit as SQL.
# ---------------------------------------------------------------------------
@register(
    "q36_naive_bayes_fit",
    oracle="""
WITH tok AS (
  SELECT lang, t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
), class_term AS (
  SELECT lang, term, COUNT(*) AS n_wc FROM tok GROUP BY lang, term
), class_tot AS (
  SELECT lang, COUNT(*) AS n_c FROM tok GROUP BY lang
), vocab AS (
  SELECT COUNT(DISTINCT term) AS v FROM tok
), prior AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), total AS (
  SELECT COUNT(*) AS n FROM documents
)
SELECT ct.lang, ct.term,
       ROUND(LN((ct.n_wc + 1.0) / (t.n_c + v.v)), 6) AS log_likelihood,
       ROUND(LN(CAST(p.n_docs AS DOUBLE) / tt.n), 6) AS log_prior
FROM class_term ct
JOIN class_tot t USING (lang)
JOIN prior p USING (lang)
CROSS JOIN vocab v
CROSS JOIN total tt
""",
)
def q36_naive_bayes_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens()).alias("term"))
    class_term = tok.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("n_wc")
    )
    class_tot = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    vocab = tok.agg(F.countDistinct("term").alias("v"))
    prior = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        class_term.join(F.broadcast(class_tot), "lang")
        .join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "term",
            F.round(
                F.log((F.col("n_wc") + 1.0) / (F.col("n_c") + F.col("v"))), 6
            ).alias("log_likelihood"),
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("n")), 6
            ).alias("log_prior"),
        )
    )


# ---------------------------------------------------------------------------
# q87 — naive-bayes predict (A11 second half): argmax over class scores
# for a doc subset, with sklearn/cuml smoothing semantics: an in-vocab
# term unseen in class c contributes fallback(c) = ln(1/(n_c + V));
# docs with no in-vocab terms are predicted from the priors. Scored via
# the delta decomposition
#   score = log_prior + n_invocab·fallback + Σ_seen (loglik − fallback)
# so the wide stages stay O(tokens) (no doc×class×vocab blowup).
# Ranking happens on the ROUNDED score so both engines rank identical
# values; (score desc, lang asc) tie-break.
# ---------------------------------------------------------------------------
@register(
    "q87_naive_bayes_predict",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
), class_term AS (
  SELECT lang, term, COUNT(*) AS n_wc FROM tok GROUP BY lang, term
), class_tot AS (
  SELECT lang, COUNT(*) AS n_c FROM tok GROUP BY lang
), vocab AS (
  SELECT COUNT(DISTINCT term) AS v FROM tok
), vocab_terms AS (
  SELECT DISTINCT term FROM tok
), prior AS (
  SELECT lang, LN(CAST(COUNT(*) AS DOUBLE)
                  / (SELECT COUNT(*) FROM documents)) AS log_prior
  FROM documents GROUP BY lang
), fallback AS (
  SELECT t.lang, LN(1.0 / (t.n_c + v.v)) AS fb
  FROM class_tot t CROSS JOIN vocab v
), model AS (
  SELECT ct.lang, ct.term,
         LN((ct.n_wc + 1.0) / (t.n_c + v.v)) AS loglik
  FROM class_term ct JOIN class_tot t USING (lang) CROSS JOIN vocab v
), doc_tok AS (
  SELECT doc_id, t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE doc_id < 100
), invocab AS (
  SELECT dt.doc_id, dt.term FROM doc_tok dt
  JOIN vocab_terms vt ON dt.term = vt.term
), n_iv AS (
  SELECT doc_id, COUNT(*) AS n_iv FROM invocab GROUP BY doc_id
), dsum AS (
  SELECT iv.doc_id, m.lang, SUM(m.loglik - f.fb) AS dsum
  FROM invocab iv
  JOIN model m ON iv.term = m.term
  JOIN fallback f ON m.lang = f.lang
  GROUP BY iv.doc_id, m.lang
), scores AS (
  SELECT d.doc_id, p.lang,
         ROUND(p.log_prior + COALESCE(n.n_iv, 0) * f.fb
               + COALESCE(s.dsum, 0.0), 6) AS score
  FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
  CROSS JOIN prior p
  JOIN fallback f ON p.lang = f.lang
  LEFT JOIN n_iv n ON d.doc_id = n.doc_id
  LEFT JOIN dsum s ON d.doc_id = s.doc_id AND p.lang = s.lang
)
SELECT doc_id, lang AS pred_lang, score
FROM (
  SELECT doc_id, lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rk
  FROM scores
) t WHERE rk = 1
""",
)
def q87_naive_bayes_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(tokens()).alias("term"))
    # class totals, vocabulary, and vocab size all derive from the
    # class_term aggregate — ONE tokenize+explode+shuffle over the corpus
    # instead of four (the r2 smoothing fix had re-read tok per leaf and
    # doubled this query's runtime; VERDICT r2 #4). localCheckpoint is
    # what makes it one pass: column pruning specializes each consumer's
    # copy of the subtree (plan audit r3 found 11 explodes / 14 scans and
    # zero ReusedExchange without it); the checkpointed frame is
    # model-state-sized (distinct lang×term).
    # r17 re-A/B (r16 verdict item 3), 3 interleaved process rounds at
    # 32 cores, warm best-of-5: lazy localCheckpoint 2.20/1.58/1.26 s
    # vs eager 8.49/2.32/1.60 s vs scoped cache 5.16/2.01/1.81 s —
    # lazy wins every round; the driver's 1.86 s r16 reading was the
    # high-steal regime (OPTIMIZATION_r17.md "stall diagnosis"), not
    # the checkpoint flavor.
    class_term = (
        tok.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n_wc"))
        .localCheckpoint(eager=False)
    )
    class_tot = class_term.groupBy("lang").agg(F.sum("n_wc").alias("n_c"))
    vocab_terms = class_term.select("term").distinct()
    vocab = vocab_terms.agg(F.count(F.lit(1)).alias("v"))
    total = d.agg(F.count(F.lit(1)).alias("_n"))
    prior = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.log(F.col("n_docs").cast("double") / F.col("_n")).alias(
                "log_prior"
            ),
        )
    )
    fallback = class_tot.crossJoin(F.broadcast(vocab)).select(
        "lang", F.log(F.lit(1.0) / (F.col("n_c") + F.col("v"))).alias("fb")
    )
    model = (
        class_term.join(F.broadcast(class_tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "term",
            F.log((F.col("n_wc") + 1.0) / (F.col("n_c") + F.col("v"))).alias(
                "loglik"
            ),
        )
    )
    doc_tok = d.filter(F.col("doc_id") < 100).select(
        "doc_id", F.explode(tokens()).alias("term")
    )
    invocab = doc_tok.join(F.broadcast(vocab_terms), "term")
    n_iv = invocab.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_iv"))
    deltas = model.join(F.broadcast(fallback), "lang").select(
        "lang", "term", (F.col("loglik") - F.col("fb")).alias("delta")
    )
    dsum = (
        invocab.join(F.broadcast(deltas), "term")
        .groupBy("doc_id", "lang")
        .agg(F.sum("delta").alias("dsum"))
    )
    scores = (
        d.filter(F.col("doc_id") < 100)
        .select("doc_id")
        .crossJoin(F.broadcast(prior))
        .join(F.broadcast(fallback), "lang")
        .join(n_iv, "doc_id", "left")
        .join(dsum, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            F.round(
                F.col("log_prior")
                + F.coalesce("n_iv", F.lit(0)) * F.col("fb")
                + F.coalesce("dsum", F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


# ---------------------------------------------------------------------------
# q37 — label encode (A15): dense_rank over distinct labels — the
# deterministic StringIndexer.
# ---------------------------------------------------------------------------
@register(
    "q37_label_encode",
    oracle="""
SELECT doc_id, lang,
       CAST(DENSE_RANK() OVER (ORDER BY lang) - 1 AS BIGINT) AS lang_code
FROM documents
""",
)
def q37_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-pass global rank over the DISTINCT labels (label-cardinality
    # input) + broadcast join back — no unpartitioned Window anywhere,
    # whatever the label cardinality grows to (functions/ranking.py)
    from dask_cuml_spark.functions.ranking import global_row_number

    d = load_table(spark, sf_dir, "documents")
    labels = d.select("lang").distinct()
    codes, _ = global_row_number(labels, [F.col("lang")])
    codes = codes.select("lang", (F.col("_rn") - 1).alias("lang_code"))
    return d.select("doc_id", "lang").join(F.broadcast(codes), "lang").select(
        "doc_id", "lang", "lang_code"
    )


# ---------------------------------------------------------------------------
# q38 — document fingerprint (north-star): deterministic arithmetic rolling
# hash (polynomial over token codes, mod 2^61-1) — identical in both
# engines because it's integer arithmetic over the same token sequence.
# Cheap char-code proxy: per-token (length, first-char) code to stay
# SQL-portable; collision-grade fingerprint, not cryptographic.
# ---------------------------------------------------------------------------
@register(
    "q38_fingerprint",
    oracle="""
WITH tok AS (
  -- unnest + generate_subscripts must both sit in the SELECT clause so
  -- DuckDB zips them positionally (FROM-clause UNNEST does not align).
  SELECT doc_id,
         UNNEST(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
SELECT doc_id,
       CAST(SUM((LENGTH(term) * 131 + (ascii(term) % 97) + pos % 1024)
                * ((pos % 31) + 1)) AS BIGINT) AS fingerprint
FROM tok
GROUP BY doc_id
""",
)
def q38_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(tokens()).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    code = (
        F.length("term") * 131
        + (F.ascii("term") % 97)
        + F.col("pos") % 1024
    ) * ((F.col("pos") % 31) + 1)
    return tok.groupBy("doc_id").agg(
        F.sum(code).cast("long").alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# q39 — CountVectorizer (A14): alphabetical vocabulary index (the
# deterministic fit) + per-doc sparse counts (the transform), long format.
# ---------------------------------------------------------------------------
@register(
    "q39_count_vectorizer",
    oracle="""
WITH tok AS (
  SELECT doc_id, t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
), vocab AS (
  SELECT term, CAST(DENSE_RANK() OVER (ORDER BY term) - 1 AS BIGINT)
           AS term_idx
  FROM (SELECT DISTINCT term FROM tok) v
)
SELECT tok.doc_id, vocab.term_idx, COUNT(*) AS tf
FROM tok JOIN vocab USING (term)
GROUP BY tok.doc_id, vocab.term_idx
""",
)
def q39_count_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vocabulary indexed by the two-pass global rank over distinct terms
    # (functions/ranking.py) — replaces the round-1 single-partition
    # Window over the vocabulary, which serialized on one task
    from dask_cuml_spark.functions.ranking import global_row_number

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("term"))
    ranked, _ = global_row_number(tok.select("term").distinct(), [F.col("term")])
    vocab = ranked.select("term", (F.col("_rn") - 1).alias("term_idx"))
    return (
        tok.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "term_idx")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# ---------------------------------------------------------------------------
# q103 — SimHash near-dup (D2 third variant, promoted from pytest-only):
# banded 64-bit SimHash candidates + exact hamming verify. The signature
# bits are engine-specific (xxhash64), so the oracle checks the provable
# invariants instead of pair values: identical texts hash identically →
# every exact-duplicate pair MUST surface at hamming 0 (the banding
# can't miss an equal signature), output pairs are strictly ordered,
# distinct, and within the hamming cap. Near-dup recall is
# pytest-checked (golden signatures in tests/test_operators.py).
# ---------------------------------------------------------------------------
@register(
    "q103_simhash_near_dup",
    oracle="""
WITH dup AS (
  SELECT COUNT(*) AS c FROM documents a
  JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT CAST(c AS BIGINT) FROM dup) AS exact_dup_pairs,
       (SELECT CAST(c AS BIGINT) FROM dup) AS exact_dups_found_at_zero,
       CAST(0 AS BIGINT) AS n_bad_pairs
""",
)
def q103_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dedup import simhash_near_dup

    d = load_table(spark, sf_dir, "documents")
    # The operator caches its signature aggregate (the only heavy
    # stage); the pair set is signature-sized, so re-deriving it in the
    # two consumer subtrees below is cheaper than a localCheckpoint
    # round-trip (round-4: ckpt + 4 separate actions cost 3× the
    # operator at sf0.1).
    out = simhash_near_dup(d, bands=4, max_hamming=3)
    # exact-dup pair set: 8-byte hash equi-join (the q32 shuffle shape),
    # text compared only within hash buckets
    lhs = d.select(
        F.col("doc_id").alias("id_a"),
        F.xxhash64("text").alias("h"),
        F.col("text").alias("t_a"),
    )
    rhs = d.select(
        F.col("doc_id").alias("id_b"),
        F.xxhash64("text").alias("h"),
        F.col("text").alias("t_b"),
    )
    exact_pairs = (
        lhs.join(rhs, "h")
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("t_a") == F.col("t_b")))
        .select("id_a", "id_b")
    )
    # ALL invariant checks in ONE aggregation over ONE full-outer join
    # (round-4: the previous shape — localCheckpoints + 4 driver actions
    # duplicating the near-dup and exact-pair subtrees — cost 3× the
    # operator at sf0.1). Full-outer keeps exact pairs the banding
    # missed (hamming IS NULL ⇒ found < exact, a visible oracle
    # mismatch) AND near-dup rows with no exact twin. If `out` ever
    # emitted duplicate pairs, the join would inflate exact counts —
    # also a visible mismatch, which is what the distinctness invariant
    # is for.
    j = out.join(
        exact_pairs.withColumn("_is_exact", F.lit(1)),
        ["id_a", "id_b"],
        "full_outer",
    )
    summary = j.agg(
        F.count("hamming").alias("_n_rows"),
        F.sum(
            (
                (F.col("id_a") >= F.col("id_b")) | (F.col("hamming") > 3)
            ).cast("long")
        ).alias("_n_bad"),
        F.count_distinct(
            F.when(
                F.col("hamming").isNotNull(), F.struct("id_a", "id_b")
            )
        ).alias("_n_distinct"),
        F.coalesce(F.sum("_is_exact"), F.lit(0)).alias("exact_dup_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_is_exact").isNotNull() & (F.col("hamming") == 0), 1
                )
            ),
            F.lit(0),
        ).alias("exact_dups_found_at_zero"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(summary).select(
        "n_docs",
        "exact_dup_pairs",
        "exact_dups_found_at_zero",
        (
            F.coalesce(F.col("_n_bad"), F.lit(0))
            + (F.col("_n_rows") - F.col("_n_distinct"))
        ).alias("n_bad_pairs"),
    )


# ---------------------------------------------------------------------------
# q105 — training-data curation pipeline (the north-star composite): the
# full LLM-pretraining document funnel as ONE declarative query —
#   language slice → quality filter (length + type-token ratio) →
#   exact dedup (min-id per text, 8-byte hash shuffle) →
#   near-dup removal (MinHash-LSH candidates + exact shingle-Jaccard
#   verify, drop the higher id of each pair) → token accounting.
# The Spark near-dup stage is the BUCKETED scale path (q78's operator);
# the DuckDB oracle computes the exact all-pairs shingle Jaccard, so the
# hash-match also re-proves LSH recall = 100% on the surviving set every
# time the driver runs. Output: one funnel-summary row, single action.
# ---------------------------------------------------------------------------
@register(
    "q105_curation_pipeline",
    oracle="""
WITH base AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS nt,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents WHERE lang = 'en'
), quality AS (
  SELECT * FROM base WHERE nt >= 30 AND ttr >= 0.3
), exact_uniq AS (
  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY text
), surv AS (
  SELECT q.doc_id, q.text, q.nt FROM quality q
  JOIN exact_uniq e ON q.doc_id = e.doc_id
), tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM surv
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
), neardup AS (
  SELECT DISTINCT i.id_b AS doc_id
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.6
), final AS (
  SELECT s.doc_id, s.nt FROM surv s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM neardup)
)
SELECT (SELECT COUNT(*) FROM documents) AS n_input,
       (SELECT COUNT(*) FROM base) AS n_lang,
       (SELECT COUNT(*) FROM quality) AS n_quality,
       (SELECT COUNT(*) FROM surv) AS n_exact_unique,
       (SELECT COUNT(*) FROM final) AS n_final,
       (SELECT CAST(SUM(nt) AS BIGINT) FROM final) AS total_tokens
""",
)
def q105_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.dedup import exact_dedup, minhash_near_dup

    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    nt = F.array_size(toks)
    base = d.filter(F.col("lang") == "en").select(
        "doc_id",
        "text",
        nt.alias("nt"),
        (F.array_size(F.array_distinct(toks)).cast("double") / nt).alias(
            "ttr"
        ),
    )
    quality = base.filter((F.col("nt") >= 30) & (F.col("ttr") >= 0.3))
    # survivors feed the near-dup operator, the final join and the tail
    # aggregate; cache at fixture scale, lazy localCheckpoint at scale
    # (dask_cuml_spark.plans.cost.persist_for_reuse)
    from dask_cuml_spark.plans.cost import persist_for_reuse

    surv = persist_for_reuse(exact_dedup(quality))
    pairs = minhash_near_dup(
        surv.select("doc_id", "text"),
        n=3,
        num_hashes=36,
        bands=12,
        threshold=0.6,
    )
    near_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    # Funnel counts in TWO passes, not five (round-5): the head aggregate
    # computes n_input / n_lang / n_quality as conditional counts in ONE
    # scan of documents (the pre-r5 shape scanned it three more times —
    # at 100 TB each extra pass re-reads the text column, since lang is
    # mixed within row groups and can't prune pages). The tail marks
    # near-dup survivors with a LEFT join instead of anti-join + separate
    # count, folding n_exact_unique / n_final / total_tokens into one
    # pass over the persisted survivor set.
    is_en = F.col("lang") == "en"
    is_q = is_en & (nt >= 30) & (
        (F.array_size(F.array_distinct(toks)).cast("double") / nt) >= 0.3
    )
    head = d.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count_if(is_en).alias("n_lang"),
        F.count_if(is_q).alias("n_quality"),
    )
    marked = surv.join(
        near_ids.withColumn("_nd", F.lit(1)), "doc_id", "left"
    )
    tail = marked.agg(
        F.count(F.lit(1)).alias("n_exact_unique"),
        F.count_if(F.col("_nd").isNull()).alias("n_final"),
        F.sum(F.when(F.col("_nd").isNull(), F.col("nt")))
        .cast("bigint")
        .alias("total_tokens"),
    )
    return head.crossJoin(tail)


# ---------------------------------------------------------------------------
# q109 — deterministic stratified sampling for training-mix construction
# (D5 adjacent): each language stratum is downsampled at its own rate by a
# portable multiplicative hash of doc_id, the way a 100 TB mixing job
# re-weights sources WITHOUT a shuffle — keep/drop is a per-row predicate,
# so the plan is scan → filter-free single aggregate (conditional counts),
# reproducible across engines and runs (no RNG state, no sampleBy seed
# drift between Spark versions). Rates are parts-per-4096.
# ---------------------------------------------------------------------------
_Q109_RATES = {"en": 2048, "de": 1024, "fr": 1024, "es": 512, "zh": 512}
_Q109_MULT = 2654435761  # Knuth multiplicative constant, fits BIGINT


@register(
    "q109_stratified_sample",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         ((doc_id % 4096) * {_Q109_MULT}) % 4096 AS bucket,
         len(string_split(text, ' ')) AS nt,
         CASE lang
           {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _Q109_RATES.items())}
           ELSE 0 END AS rate
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_pool,
       COUNT(*) FILTER (bucket < rate) AS n_sampled,
       CAST(SUM(nt) FILTER (bucket < rate) AS BIGINT) AS sampled_tokens
FROM scored GROUP BY lang ORDER BY lang
""",
)
def q109_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for k, v in _Q109_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    # pre-mod before the multiply: (doc_id * M) % 4096 is bucket-identical
    # (the difference is a multiple of 4096·M) but overflows bigint for
    # doc_id ≳ 2^31 — silent wraparound under default Spark where DuckDB
    # computes exactly (cross-engine divergence), and a runtime error
    # under spark.sql.ansi.enabled (the advisor-r5 langid finding, same
    # class). (4095 × M) < 2^44 can never overflow in either engine.
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(4096)) * F.lit(_Q109_MULT),
        F.lit(4096),
    )
    keep = bucket < rate
    return (
        d.select(
            "lang",
            keep.alias("_keep"),
            F.array_size(tokens()).alias("_nt"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pool"),
            F.count_if(F.col("_keep")).alias("n_sampled"),
            F.sum(F.when(F.col("_keep"), F.col("_nt")))
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q110 — Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
# public method): the published MassiveText document filters as ONE
# narrow pass of higher-order array expressions — word count bounds, mean
# word length bounds, alphabetic-word fraction, duplicate-3-gram fraction
# (the repetition rule), and the stopword-presence test. No UDF: every
# metric is a codegen'd expression over the split-once token array, so at
# 100 TB this runs at scan speed with full column pruning (only text is
# read). Output is per-document metrics + the pass verdict (full-value
# oracle).
# ---------------------------------------------------------------------------
_Q110_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@register(
    "q110_gopher_rules",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_words
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         ROUND(CAST(list_aggregate(list_transform(toks, t -> len(t)),
                                   'sum') AS DOUBLE) / n_words, 6)
           AS mean_word_len,
         ROUND(CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                    AS DOUBLE) / n_words, 6) AS alpha_frac,
         ROUND(1.0 - CAST(len(list_distinct(
                 list_transform(range(1, GREATEST(n_words - 2, 1) + 1),
                                i -> array_to_string(toks[i:i+2], ' '))))
               AS DOUBLE) / GREATEST(n_words - 2, 1), 6) AS dup_trigram_frac,
         len(list_intersect(list_distinct(list_transform(toks,
                                                         t -> lower(t))),
             [{", ".join(repr(s) for s in _Q110_STOPWORDS)}]))
           AS stopword_hits
  FROM w
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, dup_trigram_frac,
       stopword_hits,
       CAST(n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND alpha_frac > 0.8
            AND dup_trigram_frac < 0.3
            AND stopword_hits >= 2 AS INTEGER) AS passes
FROM m
""",
)
def q110_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread the heavy per-row array pass across all cores: the fixture
    # parquet is one row group → one partition, which serialized the
    # trigram/distinct work onto a single task (measured: 1.22 s of the
    # 1.46 s total on one core at sf0.1). At deployment scale the scan
    # already has many splits and this repartition is a no-op-sized
    # shuffle relative to the compute it unlocks.
    d = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokens().alias("toks"))
    )
    toks = F.col("toks")
    n = F.array_size(toks)
    tri_total = F.greatest(n - 2, F.lit(1))
    trigrams = F.transform(
        F.sequence(F.lit(0), tri_total - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
    )
    mean_len = F.round(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / n,
        6,
    )
    alpha_frac = F.round(
        F.array_size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast(
            "double"
        )
        / n,
        6,
    )
    dup_tri = F.round(
        F.lit(1.0)
        - F.array_size(F.array_distinct(trigrams)).cast("double") / tri_total,
        6,
    )
    stop_hits = F.array_size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            array_lit(_Q110_STOPWORDS),
        )
    )
    out = d.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        dup_tri.alias("dup_trigram_frac"),
        stop_hits.alias("stopword_hits"),
    )
    return out.withColumn(
        "passes",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") > 0.8)
            & (F.col("dup_trigram_frac") < 0.3)
            & (F.col("stopword_hits") >= 2)
        ).cast("int"),
    )


# ---------------------------------------------------------------------------
# q113 — BPE-ish token accounting (D4 adjacent, north-star "token counting:
# whitespace + a BPE-ish regex"): the training-cost estimate every corpus
# job runs before a tokenizer exists. Tokens are greedy ≤4-char subword
# chunks via ONE regexp_extract_all over the raw text — ` ?[a-z]{1,4}`
# keeps the leading space on the first chunk of each word the way byte-
# level BPE vocabularies do, digit/punct classes get their own branches.
# Leftmost-greedy alternation behaves identically in Java regex (Spark)
# and RE2 (DuckDB), so the count is an engine-portable integer. The whole
# query is scan → narrow per-row expressions → one partial+final agg on
# `source` (tiny key space): at 100 TB it runs at scan speed with only
# (text, source) read, and the ratio is derived from the two integer sums
# AFTER aggregation, so no float-order drift.
# ---------------------------------------------------------------------------
_Q113_PAT = " ?[a-z]{1,4}|[0-9]|[^a-z0-9 ]"


@register(
    "q113_bpe_token_accounting",
    oracle=f"""
WITH t AS (
  SELECT source,
         len(string_split(text, ' ')) AS ws,
         len(regexp_extract_all(text, '{_Q113_PAT}')) AS bpe
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 6) AS bpe_per_word
FROM t GROUP BY source ORDER BY source
""",
)
def q113_bpe_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.array_size(tokens()).alias("ws"),
        F.array_size(
            F.regexp_extract_all("text", F.lit(_Q113_PAT), 0)
        ).alias("bpe"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("bpe").cast("bigint").alias("bpe_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        F.round(
            F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6
        ).alias("bpe_per_word"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q114 — n-gram language identification (D5, north-star "language-ID
# (n-gram heuristic)"): the classic char-trigram profile classifier
# (Cavnar & Trenkle 1994, public method) run end-to-end IN the engine —
# profile building and classification are the same declarative plan.
#
#   1. char trigrams per doc (explode of a transform/sequence expression —
#      narrow, no UDF);
#   2. per-language profile = top-50 trigrams by frequency (count desc,
#      trigram asc tie-break) — 5 langs × 50 rows, broadcast;
#   3. score(doc, lang) = how many of the doc's trigram INSTANCES hit that
#      language's profile set (integer, so engine-portable);
#   4. prediction = argmax score (lang asc tie-break), docs with no
#      profile hit fall back to 'unk';
#   5. output = the actual×predicted confusion matrix.
#
# Scale: trigram explode is ~len(text) rows but feeds straight into two
# partial+final aggregates (profile, scores); the profile join is a
# broadcast of 250 rows; the only real shuffles are groupBy(doc_id, lang)
# and the argmax window on doc_id. At 100 TB the profile step runs on a
# fixed-rate sample instead of the full corpus (same plan, sampled scan);
# classification stays a single broadcast-join pass.
# ---------------------------------------------------------------------------
_Q114_TOPK = 50


@register(
    "q114_ngram_language_id",
    oracle=f"""
WITH tri AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(generate_series(1, length(text)-2),
                               i -> substr(text, CAST(i AS INT), 3))) AS tri
  FROM documents
), prof AS (
  SELECT lang, tri FROM (
    SELECT lang, tri,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY COUNT(*) DESC, tri) AS rk
    FROM tri GROUP BY lang, tri
  ) WHERE rk <= {_Q114_TOPK}
), score AS (
  SELECT t.doc_id, p.lang AS cand, COUNT(*) AS s
  FROM tri t JOIN prof p ON t.tri = p.tri
  GROUP BY t.doc_id, p.lang
), pred AS (
  SELECT doc_id, cand AS lang_pred
  FROM (SELECT doc_id, cand,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY s DESC, cand) AS rk
        FROM score) WHERE rk = 1
)
SELECT d.lang AS lang_actual, COALESCE(p.lang_pred, 'unk') AS lang_pred,
       COUNT(*) AS n_docs
FROM documents d LEFT JOIN pred p USING (doc_id)
GROUP BY lang_actual, lang_pred ORDER BY lang_actual, lang_pred
""",
)
def q114_ngram_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_cuml_spark.operators.langid import (
        build_profiles,
        char_ngrams,
        classify,
    )

    d = load_table(spark, sf_dir, "documents")
    # Same single-row-group fixture trap as q110: the trigram explode and
    # both downstream aggregates inherit the scan's partitioning, and one
    # partition serializes ~len(text) rows/doc of work onto one core
    # (measured 31 s at 10× — 11 s profile agg + 19 s scoring join, all
    # single-task). At deployment scale the scan has many splits and this
    # repartition is a no-op-sized shuffle.
    tri = char_ngrams(
        d.repartition(spark.sparkContext.defaultParallelism),
        "text",
        n=3,
        keep_cols=("doc_id", "lang"),
    )
    prof = build_profiles(tri, "lang", topk=_Q114_TOPK)
    pred = classify(tri, prof).drop("score")
    return (
        d.select("doc_id", F.col("lang").alias("lang_actual"))
        .join(pred, "doc_id", "left")
        .select(
            "lang_actual",
            F.coalesce(F.col("lang_pred"), F.lit("unk")).alias("lang_pred"),
        )
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_actual", "lang_pred")
    )


# ---------------------------------------------------------------------------
# q119 — benchmark-contamination detection (the GPT-3/PaLM decontamination
# pattern, public method: flag training documents sharing word n-grams
# with an evaluation set). The eval set here is the deterministic
# doc_id % 97 slice (stand-in for a benchmark corpus); the gram width
# is the SHARED _Q121_N = 5 (r9: q119 and q121 now read the same
# inverted-index gram representation — one construction, one layout;
# the fixture's documents are short random-word texts, so any small n
# exercises the plan, and the real-world n=8..13 swap is a parameter).
# Candidate grams are xxhash64 longs of the token-array slices
# (_q121_hashed_grams — 8-byte join keys at any scale; equality-of-hash
# ≡ equality-of-string at the repo's accepted 2^-64 collision class,
# and the DuckDB oracle recomputes the overlap on the STRINGS, so the
# hash shortcut is re-proven against string truth on every driver run).
# When the q121 gram layout exists (catalog-gated, layouts 'grams'),
# the exploded pass is a bucketed table scan — construction vanishes
# and the only exchange left is the doc_id aggregate (the eval side
# broadcasts). At 100 TB the eval side is benchmark-sized → broadcast;
# the training side streams through one scan + one partial-agg'd join,
# no n² anywhere.
# ---------------------------------------------------------------------------
@register(
    "q119_contamination_check",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(
           range(1, GREATEST(len(toks) - 4, 1) + 1),
           i -> array_to_string(toks[i:i+4], ' '))) AS gram
  FROM tok
), eval_grams AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM g JOIN eval_grams e ON g.gram = e.gram
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def q119_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME gram frame q121 consumes: distinct-per-doc hashed
    # 5-gram pairs, from the positioned bucketed layout when provisioned
    grams = _gram_pairs(spark, sf_dir)
    eval_g = grams.filter("doc_id % 97 = 0").selectExpr("_h").distinct()
    return (
        grams.filter("doc_id % 97 != 0")
        .join(eval_g, "_h")
        .groupBy("doc_id")
        # grams are DISTINCT per doc (array_distinct before the
        # explode), so a plain count is COUNT(DISTINCT shared grams)
        .agg(F.expr("count(1) AS n_shared"))
        # no presentation orderBy (r13): the driver hash is
        # order-insensitive and a global sort of the per-doc output is
        # a pure rangepartitioning exchange — plan-pinned in
        # tests/test_plan_quality.py
    )


# ---------------------------------------------------------------------------
# q121 — cross-document boilerplate detection (north-star D2-adjacent;
# public method: Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better" motivates removing text whose n-gram spans
# recur across documents — headers, footers, license blocks, templated
# chrome). Within-doc repetition is q110 (Gopher dup_trigram_frac);
# THIS is the cross-doc axis: a document is boilerplate-heavy when a
# large fraction of its distinct word-5-grams also appear in other
# documents. Scale plan: grams are DISTINCT per doc and hashed to
# 8-byte keys (q32/q119 collision class, re-proven by the string-truth
# oracle every driver run); ONE exploded pass, a window df over the
# hash (the q31 one-DAG shape — no second gram construction, no
# broadcast barrier), one doc_id aggregate. Both wide stages shuffle
# (doc_id, hash) pairs only — 16 bytes/gram at any corpus size.
# Measured at 100×: 10.0 s vs DuckDB 3.8 s (2.66×) after the
# string-concat draft's 25 s (per-gram concat_ws, built twice).
# Round-8 shape A/B (PLANS.md): pre-agg df≥2 survivor broadcast join
# loses 1.72× (gram construction runs twice); persist(hashed) ties but
# materializes the exploded frame. This window shape is the measured
# optimum ON RAW DOCUMENTS; residual vs DuckDB is the one mandatory
# wide exchange. The A/B closure note named the storage-layout escape:
# pre-materialize the (doc_id, gram-hash) pairs bucketed by hash — the
# inverted-index layout every gram consumer (boilerplate,
# contamination, near-dup) can share — and BOTH the gram construction
# and the wide exchange disappear from query time. The 'grams' layout
# (layouts.py) stores it bucketBy(_h) in one bucket per shuffle
# partition (plans/cost.layout_buckets), so the scan reports hash
# distribution and runs as many tasks as the session's shuffles: at
# 32 buckets on 4 cores, ingest_serve ran 31.8 tasks per op and q119's
# read took 0.33 s; at 4 buckets, 10.4 tasks and 0.14 s. q121 picks
# the catalog-gated branch whenever the layout exists for its sf_dir.
# Correctness gates run fresh sessions without the layout → oracle
# path untouched.
# ---------------------------------------------------------------------------
_Q121_N = 5  # word n-gram width
_Q121_DF = 2  # a gram in ≥ this many docs is "common" (boilerplate)
_Q121_FLAG = 0.5  # flag docs whose common-gram fraction ≥ this
#: the start offset i of every L-gram of ``toks`` (one, at 0, for a
#: document shorter than L) and the xxhash64 of the gram's token slice
_GRAM_STARTS = f"sequence(0, greatest(array_size(toks) - {_Q121_N}, 0))"
_GRAM_HASH = f"xxhash64(slice(toks, i + 1, {_Q121_N}))"


def _q121_hashed_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exploded pass: (doc_id, _h) with _h = xxhash64 of the
    distinct token-array 5-gram slices (no per-gram string building)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr("doc_id", f"{tokens_sql()} AS toks")
    )
    return d.selectExpr(
        "doc_id",
        f"explode(array_distinct(transform({_GRAM_STARTS}, "
        f"i -> {_GRAM_HASH}))) AS _h",
    )


def _positioned_grams(
    spark: SparkSession, sf_dir: str, d: DataFrame | None = None
) -> DataFrame:
    """One exploded pass: (doc_id, pos, _h) — every L-gram occurrence
    WITH its token offset and multiplicity kept (q134's construction).
    The superset representation: distinct (doc_id, _h) pairs (q121/
    q119's frame) derive from it by an in-partition dedup, so ONE
    layout serves boilerplate, contamination, and substring dedup.
    ``d`` overrides the source frame (the incremental refresh passes
    ONLY the appended files' docs through the same construction)."""
    if d is None:
        d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism).selectExpr(
        "doc_id", f"{tokens_sql()} AS toks"
    )
    return d.selectExpr(
        "doc_id",
        f"explode(transform({_GRAM_STARTS}, "
        f"i -> named_struct('pos', i, '_h', {_GRAM_HASH}))) AS g",
    ).selectExpr("doc_id", "g.pos AS pos", "g._h AS _h")


def _gram_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, _h) for a query with several consumers: the stored
    grams layout when provisioned, else the positioned explode, persisted
    where plans/cost.pin_exploded_documents allows and otherwise
    recomputed per consumer at scan speed."""
    from dask_cuml_spark.plans.cost import (
        persist_for_reuse,
        pin_exploded_documents,
    )

    tbl = _gram_table(sf_dir)
    if spark.catalog.tableExists(tbl):
        return spark.table(tbl)
    g = _positioned_grams(spark, sf_dir)
    return persist_for_reuse(g) if pin_exploded_documents(sf_dir) else g


def _gram_table(sf_dir: str) -> str:
    from dask_cuml_spark.layouts import layout_tables

    return layout_tables("grams", sf_dir)[0]


def _gram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, _h) pairs — q121/q119's shared frame.

    Layout branch: dedup the positioned table per (_h, doc_id); the
    scan's bucket partitioning on _h satisfies the group's clustering
    requirement, so the dedup is exchange-free and the pairs inherit
    the _h partitioning downstream consumers want. Plain branch: the
    array_distinct construction (cheaper than positioned + dedup when
    nothing is amortized)."""
    tbl = _gram_table(sf_dir)
    if spark.catalog.tableExists(tbl):
        return (
            spark.table(tbl)
            .groupBy("_h", "doc_id")
            .agg(F.expr("1"))
            .selectExpr("doc_id", "_h")
        )
    return _q121_hashed_grams(spark, sf_dir)


@register(
    "q121_boilerplate_ngrams",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(
           range(1, GREATEST(len(toks) - {_Q121_N - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{_Q121_N - 1}], ' '))) AS gram
  FROM tok
), df AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= {_Q121_DF}
), per_doc AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         COALESCE(SUM(CASE WHEN df.gram IS NOT NULL THEN 1 ELSE 0 END), 0)
           AS n_common
  FROM g LEFT JOIN df ON g.gram = df.gram
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, CAST(n_common AS BIGINT) AS n_common,
       ROUND(CAST(n_common AS DOUBLE) / n_grams, 6) AS boilerplate_frac,
       CAST(CAST(n_common AS DOUBLE) / n_grams >= {_Q121_FLAG} AS INTEGER)
         AS flagged
FROM per_doc
""",
)
def q121_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash the TOKEN-ARRAY slice directly (xxhash64 hashes complex
    # types) — no per-gram string building: the concat_ws draft spent
    # ~20 s at 100× constructing 7.2M gram strings TWICE (once per
    # consumer). One construction pass (spread across cores — the q110
    # one-row-group lesson — inside _q121_hashed_grams) + a window df
    # (the q31 one-DAG shape: no second scan, no broadcast barrier) +
    # one doc_id aggregate. The oracle stays on STRINGS, so the
    # hash-of-slice shortcut is re-proven against string truth every
    # driver run. When the bucketed gram layout exists (catalog-gated,
    # the 'grams' layout), read it instead: construction AND the wide
    # (doc_id,_h) exchange both vanish — the window's hash requirement
    # is satisfied by the bucketing, its sort by the bucket sortBy.
    hashed = _gram_pairs(spark, sf_dir)
    with_df = hashed.selectExpr(
        "*", "count(1) OVER (PARTITION BY _h) AS df"
    )
    per_doc = with_df.groupBy("doc_id").agg(
        F.expr("count(1) AS n_grams"),
        F.expr(f"sum(CAST(df >= {_Q121_DF} AS BIGINT)) AS n_common"),
    )
    frac = "round(CAST(n_common AS DOUBLE) / n_grams, 6)"
    return per_doc.selectExpr(
        "doc_id",
        "n_grams",
        "n_common",
        f"{frac} AS boilerplate_frac",
        f"CAST({frac} >= {sql_lit(_Q121_FLAG)} AS INT) AS flagged",
    )


# ---------------------------------------------------------------------------
# q122 — token-budget mixture selection (north-star "large-scale
# training-data pipeline"): the data-mixing step — each (lang, source)
# stratum gets a token quota, filled by quality rank until the budget
# is spent (how corpus mixtures are actually assembled: weights are set
# per source, then the best documents are taken up to the weight's
# token budget). Quality proxy here is the type-token ratio (distinct
# words / words — deterministic, engine-portable integer division to
# double), tie-broken by doc_id; a doc is kept while the budget is not
# yet exhausted when it STARTS (cum − own ≤ budget), so every stratum
# slightly overshoots rather than undershoots — the convention that
# never starves a tiny stratum. Scale: one window per (lang, source)
# partition — partitioned running sum, no global sort, no collect; the
# output is one row per stratum.
# ---------------------------------------------------------------------------
_Q122_BUDGET = 3000  # whitespace tokens per (lang, source) stratum


@register(
    "q122_token_budget_mixture",
    oracle=f"""
WITH t AS (
  SELECT lang, source, doc_id,
         len(string_split(text, ' ')) AS words,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents
), r AS (
  SELECT *,
         SUM(words) OVER (
           PARTITION BY lang, source
           ORDER BY ttr DESC, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT lang, source,
       COUNT(*) AS n_candidates,
       CAST(SUM(CASE WHEN cum - words <= {_Q122_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN cum - words <= {_Q122_BUDGET} THEN words
                     ELSE 0 END) AS BIGINT) AS tokens_selected,
       ROUND(MIN(CASE WHEN cum - words <= {_Q122_BUDGET} THEN ttr END), 6)
         AS worst_kept_ttr
FROM r
GROUP BY lang, source
""",
)
def q122_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    words = F.array_size(toks)
    t = d.select(
        "lang",
        "source",
        "doc_id",
        words.alias("words"),
        (
            F.array_size(F.array_distinct(toks)).cast("double")
            / words
        ).alias("ttr"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy(F.col("ttr").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = t.withColumn("cum", F.sum("words").over(w))
    kept = F.col("cum") - F.col("words") <= _Q122_BUDGET
    return r.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(kept.cast("long")).alias("n_selected"),
        F.sum(F.when(kept, F.col("words")).otherwise(0)).alias(
            "tokens_selected"
        ),
        F.round(F.min(F.when(kept, F.col("ttr"))), 6).alias(
            "worst_kept_ttr"
        ),
    )


# ---------------------------------------------------------------------------
# q123 — tokenizer vocabulary-coverage sizing (north-star "training-data
# pipeline"): for each language, the smallest frequency-ranked
# vocabulary that covers ≥95 % of token OCCURRENCES — the measurement
# that sizes a tokenizer's vocab (and decides per-language allocation
# in a multilingual one) before training it. Distinct from q30 (top-k
# terms) and q113 (BPE token accounting): this is the cumulative-
# coverage threshold over the full term-frequency distribution.
# Scale plan: the heavy reduction is groupBy(lang, term) — map-side
# partial agg bounds the shuffle by per-partition vocabulary, not token
# count; the window then runs over DISTINCT TERMS per language (the
# vocabulary, naturally bounded — millions at 100 TB, not the corpus's
# trillions of tokens), so the per-lang partition skew is over vocab
# rows only. Coverage math is integer-exact (cum*100 vs total*95 on
# BIGINT) — no float threshold to disagree with the oracle about; ties
# in term frequency are broken by the term itself, so the rank order
# is total on both engines.
# ---------------------------------------------------------------------------
_Q123_COVER_PCT = 95


@register(
    "q123_vocab_coverage",
    oracle=f"""
WITH tf AS (
  SELECT lang, t.term AS term, COUNT(*) AS cnt
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  GROUP BY lang, t.term
), r AS (
  SELECT lang, cnt,
         SUM(cnt) OVER (PARTITION BY lang
                        ORDER BY cnt DESC, term
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS total
  FROM tf
)
SELECT lang,
       CAST(MAX(total) AS BIGINT) AS total_tokens,
       COUNT(*) AS n_terms,
       CAST(SUM(CASE WHEN (cum - cnt) * 100 < total * {_Q123_COVER_PCT}
                     THEN 1 ELSE 0 END) AS BIGINT) AS vocab_95
FROM r
GROUP BY lang
""",
)
def q123_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_rank = (
        Window.partitionBy("lang")
        .orderBy(F.col("cnt").desc(), "term")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("lang")
    r = tf.select(
        "lang",
        "cnt",
        F.sum("cnt").over(w_rank).alias("cum"),
        F.sum("cnt").over(w_tot).alias("total"),
    )
    # a term is inside the 95%-coverage vocabulary while coverage has
    # not been reached when it STARTS (the q122 never-starve
    # convention); (cum-cnt)*100 < total*95 on longs is exact
    needed = (F.col("cum") - F.col("cnt")) * 100 < F.col(
        "total"
    ) * _Q123_COVER_PCT
    return r.groupBy("lang").agg(
        F.max("total").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(needed.cast("long")).alias("vocab_95"),
    )


# ---------------------------------------------------------------------------
# q126 — sequence packing, concat-and-chunk (north-star "training-data
# pipeline"): the GPT-style pretraining packer — documents are laid out
# end-to-end in doc_id order into one global token stream, which is cut
# into fixed-size blocks (_Q126_BLOCK tokens = the context window); the
# query computes each document's placement: global start offset, the
# first/last block it lands in, how many blocks it spans, and its
# offset inside the first block. This is the exact metadata a packed-
# dataset writer needs to emit (block_id, offset) index files without
# materializing the token stream.
#
# The core is a GLOBAL prefix sum over doc_id order — the one shape a
# naive window (ORDER BY with no PARTITION BY) turns into a single-
# partition bottleneck. Scale plan: two-level prefix sum. Documents
# bucket by floor(doc_id / _Q126_BUCKET); the within-bucket running sum
# is a partitioned window (parallel across buckets), the cross-bucket
# carry is a running sum over the BUCKET TOTALS frame (n/_Q126_BUCKET
# rows — at test scale a handful, at 100 TB sized so the carry frame
# stays ~1e5 rows; it is O(#buckets), never O(docs)) broadcast-joined
# back. Same decomposition a distributed scan primitive uses; every
# quantity is a BIGINT, so there is no float drift for the oracle to
# disagree about. The oracle states the same placement with the naive
# global window, which DuckDB can afford at fixture scale.
# ---------------------------------------------------------------------------
_Q126_BLOCK = 512  # tokens per packed training block (context window)
_Q126_BUCKET = 128  # docs per prefix-sum bucket (test-scale: >1 bucket)


@register(
    "q126_sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), p AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS seq_start
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(seq_start AS BIGINT) AS seq_start,
       CAST(seq_start // {_Q126_BLOCK} AS BIGINT) AS first_block,
       CAST((seq_start + n_tokens - 1) // {_Q126_BLOCK} AS BIGINT)
         AS last_block,
       CAST((seq_start + n_tokens - 1) // {_Q126_BLOCK}
            - seq_start // {_Q126_BLOCK} + 1 AS BIGINT) AS n_blocks,
       CAST(seq_start % {_Q126_BLOCK} AS BIGINT) AS block_offset
FROM p
""",
)
def q126_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serve off the stored placement table when provisioned (the
    # 'pack' layout — the packing manifest a training job materializes
    # once per corpus snapshot and every batch-shape consumer reads;
    # q142 inherits the branch through this call): catalog-gated, so
    # a fresh driver session always proves the two-level prefix sum
    (tbl,) = _pack_tables(sf_dir)
    if spark.catalog.tableExists(tbl):
        return spark.table(tbl)
    return _placements_plain(spark, sf_dir)


def _placements_plain(
    spark: SparkSession,
    sf_dir: str,
    d: DataFrame | None = None,
    base: int = 0,
) -> DataFrame:
    # ``d``/``base`` serve the incremental manifest refresh: ONLY the
    # appended docs run the prefix sum, with every stream offset
    # shifted by the tokens already packed (the suffix-extension case
    # the 'pack' layout's refresh gates on)
    if d is None:
        d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        F.array_size(tokens()).cast("long").alias("n_tokens"),
        # exact integer floor division (`div`), like the block math: a
        # double divide + truncating cast would mis-bucket doc_id > 2^53
        # and truncate (not floor) hypothetical negative ids into bucket 0
        F.expr(f"doc_id div {_Q126_BUCKET}").alias("_bk"),
    )
    # level 1: running sum WITHIN each bucket (parallel across buckets)
    w_in = (
        Window.partitionBy("_bk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = per_doc.withColumn(
        "_local", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    # level 2: cross-bucket carry over the tiny bucket-totals frame —
    # O(#buckets) rows, the only unpartitioned window in the plan
    w_carry = Window.orderBy("_bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        per_doc.groupBy("_bk")
        .agg(F.sum("n_tokens").alias("_bt"))
        .select(
            "_bk",
            F.coalesce(F.sum("_bt").over(w_carry), F.lit(0)).alias(
                "_carry"
            ),
        )
    )
    p = local.join(F.broadcast(carry), "_bk").select(
        "doc_id",
        "n_tokens",
        (F.col("_carry") + F.col("_local") + F.lit(base)).alias(
            "seq_start"
        ),
    )
    # `div` is exact integer floor division on BIGINTs (all offsets are
    # non-negative) — no double rounding at 100-TB stream offsets
    return p.select(
        "doc_id",
        "n_tokens",
        "seq_start",
        F.expr(f"seq_start div {_Q126_BLOCK}").alias("first_block"),
        F.expr(
            f"(seq_start + n_tokens - 1) div {_Q126_BLOCK}"
        ).alias("last_block"),
        F.pmod("seq_start", F.lit(_Q126_BLOCK)).cast("long").alias(
            "block_offset"
        ),
    ).select(
        "doc_id",
        "n_tokens",
        "seq_start",
        "first_block",
        "last_block",
        (F.col("last_block") - F.col("first_block") + 1).alias("n_blocks"),
        "block_offset",
    )
    # no presentation orderBy (the q130 rule, extended here r12): the
    # driver compare is order-insensitive and the global sort was a
    # full-output range exchange — 5 M rows at 1000x for display order


# ---------------------------------------------------------------------------
# q127 — PII detection + redaction (north-star "training-data pipeline"):
# the scrubbing stage every public-web corpus runs before training —
# find emails / phone numbers / IPv4 addresses, count them per document,
# and replace them with redaction tokens. The synthetic documents carry
# no PII, so the query plants deterministic spans derived from doc_id
# (2 of every 3 docs get an email + phone + IP appended; the third is
# left clean so the zero-hit path is exercised) — BOTH engines build
# the same pii_text, so the parity proven is the redaction semantics:
# leftmost non-overlapping global regexp_replace and per-pattern match
# counts, identical between Java regex (Spark) and RE2 (DuckDB) for
# these escape-free character-class patterns.
#
# Scale plan: pure narrow per-row expressions — one scan, zero
# shuffles, output one row per doc. At 100 TB this runs at scan speed
# with only (doc_id, text) read; the md5 of the redacted text stands in
# for shipping the text back (the real pipeline writes the redacted
# column out; the digest is the value-parity witness).
# ---------------------------------------------------------------------------
_Q127_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_Q127_PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
_Q127_IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

# deterministic PII injection (same expression in both dialects):
#   user<id>@mail.example.com | 555-<id*7 % 1000>-<id*13 % 10000> |
#   10.<id%256>.<id*3 % 256>.<id*5 % 256>
_Q127_SQL_PII = (
    "CASE WHEN doc_id % 3 = 0 THEN text ELSE text"
    " || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com call 555-'"
    " || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id * 5 % 256 AS VARCHAR) END"
)


@register(
    "q127_pii_redaction",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_Q127_SQL_PII} AS pii_text FROM documents
), r AS (
  SELECT doc_id, pii_text,
         regexp_replace(
           regexp_replace(
             regexp_replace(pii_text, '{_Q127_EMAIL}', '[EMAIL]', 'g'),
             '{_Q127_PHONE}', '[PHONE]', 'g'),
           '{_Q127_IPV4}', '[IP]', 'g') AS redacted
  FROM t
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text, '{_Q127_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(pii_text, '{_Q127_PHONE}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(pii_text, '{_Q127_IPV4}')) AS BIGINT)
         AS n_ips,
       CAST(length(redacted) AS BIGINT) AS redacted_len,
       md5(redacted) AS redacted_md5
FROM r
""",
)
def q127_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pii = F.when(
        F.col("doc_id") % 3 == 0, F.col("text")
    ).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com call 555-"),
            F.lpad((F.col("doc_id") * 7 % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") * 13 % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") * 3 % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") * 5 % 256).cast("string"),
        )
    )
    t = d.select("doc_id", pii.alias("pii_text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii_text"), _Q127_EMAIL, "[EMAIL]"),
            _Q127_PHONE,
            "[PHONE]",
        ),
        _Q127_IPV4,
        "[IP]",
    )
    # NOTE: counts are taken on the UN-redacted pii_text while redaction
    # applies sequentially (email -> phone -> IP), so under overlapping
    # matches (e.g. a digit run inside an already-replaced email) a count
    # may exceed the number of replacements that pattern performed. The
    # oracle states the identical pre-redaction semantics.
    return t.select(
        "doc_id",
        F.regexp_count("pii_text", F.lit(_Q127_EMAIL))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count("pii_text", F.lit(_Q127_PHONE))
        .cast("long")
        .alias("n_phones"),
        F.regexp_count("pii_text", F.lit(_Q127_IPV4))
        .cast("long")
        .alias("n_ips"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )
    # no presentation orderBy (q130 rule, r12): one scan, zero shuffles


# ---------------------------------------------------------------------------
# q129 — document-quality MODEL scoring (r9 verdict task 7): the
# fasttext-style linear-classifier filter that sits between the Gopher
# heuristics (q110) and dedup in public LLM pipelines (e.g. CCNet /
# GPT-3's quality classifier, Brown et al. 2020 §A): score(doc) =
# bias + mean over tokens of weight[bucket(token)], keep = score > 0.
#
# Decomposition (the q114 pivot-scoring shape): tokenize -> explode ->
# hashed-bucket per token -> BROADCAST join the V-row weight table ->
# one groupBy(doc_id). The weight table is model state (V = 4096 rows
# here; a real fasttext quality model is ~2M buckets x dim — still
# broadcast-sized), so the fact side streams through one scan + one
# shuffle at any corpus size.
#
# Oracle-replayability choices, both swap-out-able without touching the
# plan: (1) the bucketizer is a positional char-code polynomial
# (sum (i+1)*codepoint(tok[i]) % V) that both engines state exactly —
# production swaps in xxhash64(tok) % V (same 8-byte key, same join);
# (2) weights are the fixed bijection w_j = ((j*2481) % 4096)/2048 - 1,
# EXACT dyadic rationals, so SUM(weight) is exact in double on both
# engines regardless of aggregation order and the keep cut is
# deterministic — a trained model's float weights would make parity
# tolerance-based instead, not change the shape.
# ---------------------------------------------------------------------------
_Q129_V = 4096
_Q129_BIAS = 0.0625  # dyadic, so the logit stays exactly representable


@register(
    "q129_quality_model_score",
    oracle=f"""
WITH w AS (
  SELECT i AS bucket, ((i * 2481) % {_Q129_V}) / 2048.0 - 1.0 AS wt
  FROM range({_Q129_V}) t(i)
), tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
), b AS (
  SELECT doc_id,
         list_aggregate(
           list_transform(range(1, length(tok) + 1),
                          i -> i * unicode(tok[i:i])),
           'sum') % {_Q129_V} AS bucket
  FROM tok WHERE tok <> ''
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(w.wt) / COUNT(*) + {_Q129_BIAS}, 6) AS quality_logit,
       (SUM(w.wt) / COUNT(*) + {_Q129_BIAS}) > 0 AS keep
FROM b JOIN w ON b.bucket = w.bucket
GROUP BY b.doc_id
ORDER BY b.doc_id
""",
)
def q129_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the library operator (operators/quality.py, r10 verdict task 6)
    # in its ORACLE-REPLAYABLE mode: the positional char-code polynomial
    # both engines can state exactly. Production callers take the
    # default bucketizer='xxhash64' (0.92x at 100x / 1.93x at 1000x).
    # Weight table is model state — V rows built once, broadcast.
    from dask_cuml_spark.operators.quality import (
        dyadic_weights,
        quality_score,
    )

    # spread the explode across cores (the q110 one-row-group note)
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return quality_score(
        d,
        dyadic_weights(spark, _Q129_V),
        V=_Q129_V,
        bias=_Q129_BIAS,
        bucketizer="charpoly",
    )
    # no presentation orderBy (the q130 rule, applied by the r10
    # verdict to this query): the compare is order-insensitive and the
    # sort was a full range shuffle of the per-doc output — 5 M rows at
    # 1000x for display order nothing downstream needs


# ---------------------------------------------------------------------------
# q130 — overlapping document chunking (the RAG / embedding-prep
# table-stake: split every document into fixed-size token windows with
# stride < size so context overlaps, carrying provenance offsets — the
# step between curation and the embedding model in retrieval pipelines,
# e.g. LangChain/LlamaIndex text splitters, RETRO Borgeaud et al. 2022).
#
# Pure narrow plan: scan → split → one generator explode per chunk
# (sequence(0, n-1, STRIDE) gives the starts directly — no join, no
# shuffle; the orderBy is presentation-only). At 100 TB this runs at
# scan speed and the output is ~n_tokens/STRIDE rows per doc. Chunk
# text itself is the full-value witness (both engines slice the same
# token array), so tokenizer drift, off-by-one starts, or a broken tail
# chunk all break parity.
# ---------------------------------------------------------------------------
_Q130_SIZE = 64  # tokens per chunk
_Q130_STRIDE = 48  # 16-token overlap


@register(
    "q130_chunk_documents",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), starts AS (
  SELECT doc_id, toks, len(toks) AS n,
         UNNEST(range(0, len(toks), {_Q130_STRIDE})) AS start
  FROM tok
)
SELECT doc_id,
       CAST(start / {_Q130_STRIDE} AS BIGINT) AS chunk_id,
       start,
       LEAST({_Q130_SIZE}, n - start) AS chunk_len,
       array_to_string(
         toks[start + 1 : start + LEAST({_Q130_SIZE}, n - start)], ' '
       ) AS chunk_text
FROM starts
ORDER BY doc_id, chunk_id
""",
)
# The oracle KEEPS its ORDER BY even though the Spark side dropped the
# presentation sort and the driver's compare is order-insensitive:
# DuckDB's unsorted UNNEST plan is ~35x SLOWER here (42 s vs 1.2 s at
# 100x — insertion-order preservation serializes it), so the sorted
# form is DuckDB's idiomatic-best formulation. Each engine runs its own
# best plan; that is the honest-ratio rule from the q12 correction.
def q130_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the split+slice work across cores (the q110 one-row-group
    # note; at deployment scale the scan has many splits and this is a
    # no-op-sized shuffle)
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = tokens()
    n = F.array_size(toks)
    t = d.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n"),
        F.explode(
            F.sequence(F.lit(0), n - 1, F.lit(_Q130_STRIDE))
        ).alias("start"),
    )
    chunk_len = F.least(F.lit(_Q130_SIZE), F.col("n") - F.col("start"))
    return t.select(
        "doc_id",
        F.expr(f"start div {_Q130_STRIDE}").alias("chunk_id"),
        "start",
        chunk_len.cast("long").alias("chunk_len"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("start") + 1, chunk_len)
        ).alias("chunk_text"),
    )
    # NO presentation orderBy: a global sort range-shuffles the entire
    # chunk-text output (~450 MB at 100x) for display order alone —
    # measured 4.18 s -> 1.81 s without it. The driver's compare and
    # the oracle hash are order-insensitive, and no real pipeline
    # sorts its chunk stream before embedding.


# ---------------------------------------------------------------------------
# q132 — fixed-n per-stratum sampling (the eval-set / ablation-set
# builder: exactly K docs per language, deterministic and
# partition-invariant — complements q109's rate-based sampler). Rank
# docs within each stratum by a multiplicative-hash shuffle key with a
# doc_id tie-break and keep rank <= K. One partitioned window (strata
# are languages — bounded cardinality), and Spark 4's WindowGroupLimit
# pushes the rank filter below the shuffle (partial top-K per map
# task), so a skewed stratum never materializes its full pool: the
# same plan property q03 pins in tests/test_plan_quality.py.
# ---------------------------------------------------------------------------
_Q132_K = 200
_Q132_MULT = 2481  # odd -> bijection mod 4096 (the q109/q129 family)


@register(
    "q132_fixed_n_per_stratum",
    oracle=f"""
SELECT lang, doc_id, rk
FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ((doc_id % 4096) * {_Q132_MULT}) % 4096, doc_id
         ) AS rk
  FROM documents
) t
WHERE rk <= {_Q132_K}
""",
)
def q132_fixed_n_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # pre-mod before the multiply (the q109 overflow rule): exact in
    # both engines for any doc_id
    shuffle_key = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(4096)) * F.lit(_Q132_MULT),
        F.lit(4096),
    )
    w = Window.partitionBy("lang").orderBy(shuffle_key, F.col("doc_id"))
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _Q132_K)
    )


# ---------------------------------------------------------------------------
# q133 — bigram language-model scoring (the CCNet/KenLM-style
# perplexity quality filter, Wenzek et al. 2020: score documents by a
# small n-gram LM and keep the low-perplexity head). Model = Laplace-
# smoothed bigram LM trained on the corpus itself: P(w2|w1) =
# (c(w1,w2)+1) / (c(w1,.)+V), score(doc) = mean ln P over its bigrams.
#
# Decomposition (all relational): one exploded bigram pass feeds BOTH
# the count model (two groupBys — the "training") and the scoring join;
# V is one scalar. At 100 TB the count tables are the model artifact
# (vocab-sized, written once) and scoring is one join + one doc-level
# aggregate — the exact q129 shape with a learned instead of hashed
# weight table. ln-parity at round-6 is the q31 (tf-idf log) precedent,
# proven across ten rounds of driver runs.
# ---------------------------------------------------------------------------
@register(
    "q133_bigram_lm_score",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tok, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT tok) AS vocab
  FROM (SELECT UNNEST(t) AS tok FROM tok)
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln((c12.c12 + 1.0) / (c1.c1 + v.vocab))), 6)
         AS avg_logprob
FROM big b
JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
JOIN c1 ON b.w1 = c1.w1
CROSS JOIN v
GROUP BY b.doc_id
""",
)
def q133_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = tokens()
    n = F.array_size(t)
    pairs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # counts and joins are keyed by xxhash64, never by token strings —
    # the repo's 8-byte shuffle-key rule (q32/q121/q134). The string-
    # pair formulation was tried first and died in AGGREGATE_OUT_OF_
    # MEMORY at 1000x (125M UTF8String pairs across 32 local tasks);
    # hashed keys shrink every shuffle row to 16 bytes and the hash
    # maps to longs. Equality-of-hash ≡ equality-of-string at the
    # accepted 2^-64 class, and the oracle recomputes the model on the
    # STRINGS, so the shortcut is re-proven on every driver run.
    big = (
        d.filter(n >= 2)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select(
            "doc_id",
            F.xxhash64(F.col("bg.w1"), F.col("bg.w2")).alias("h12"),
            F.xxhash64(F.col("bg.w1")).alias("h1"),
        )
    )
    # one exploded pass feeds training and scoring
    from dask_cuml_spark.plans.cost import (
        persist_for_reuse,
        pin_exploded_documents,
    )

    if pin_exploded_documents(sf_dir):
        big = persist_for_reuse(big)
    c12 = big.groupBy("h12").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("h1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        d.select(F.explode(t).alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    scored = (
        big.join(c12, ["h12"])
        .join(c1, ["h1"])
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("c12") + F.lit(1.0))
                        / (F.col("c1") + F.col("vocab"))
                    )
                ),
                6,
            ).alias("avg_logprob"),
        )
    )
    return scored.select("doc_id", "n_bigrams", "avg_logprob")


# ---------------------------------------------------------------------------
# q134 — exact-substring span dedup (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better": remove every maximal
# span whose length-L token window occurs >= 2 times in the corpus —
# the span-level complement to q32's whole-doc dedup and q121's
# doc-level boilerplate fraction; the practical hash-gram variant of
# the paper's suffix array, as used by The Pile / RedPajama cleanups).
#
# Decomposition: positioned L-gram pass (doc_id, pos, xxhash64(slice))
# → occurrence counts by 8-byte hash (one shuffle — the q121 shape,
# never strings) → duplicated positions back-joined → per-doc interval
# merge of [pos, pos+L) via the classic running-max window (PARTITIONED
# by doc_id — no global window; each doc's spans merge independently,
# exactly parallel at any corpus size). Output = the maximal spans a
# cleaner would cut, all-integer witnesses. The oracle recomputes the
# same thing on gram STRINGS, so the hash shortcut is re-proven against
# string truth on every driver run (the q119 convention).
# ---------------------------------------------------------------------------
_Q134_L = _Q121_N  # share the fixture-proven gram width


@register(
    "q134_exact_substring_dedup",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, i AS pos,
         array_to_string(
           toks[i + 1 : i + {_Q134_L}], ' ') AS gram
  FROM tok,
       UNNEST(range(0, GREATEST(len(toks) - {_Q134_L}, 0) + 1)) AS u(i)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {_Q134_L}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_grp
  FROM hits
), grp AS (
  SELECT doc_id, pos,
         SUM(new_grp) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_Q134_L} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {_Q134_L} - MIN(pos) AS BIGINT) AS span_tokens
FROM grp
GROUP BY doc_id, gid
""",
)
def q134_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # layout branch (r11): when the positioned gram table exists, the
    # occurrence counts AND the dup back-join are bucket-local — the
    # query's one corpus-wide shuffle vanishes along with construction;
    # only the per-doc window exchange remains.
    g = _gram_occurrences(spark, sf_dir)
    dup = (
        g.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_h")
    )
    hits = g.join(dup, "_h").select("doc_id", "pos")
    return _merge_gram_spans(hits, _Q134_L)


def _merge_gram_spans(hits: DataFrame, L: int) -> DataFrame:
    """(doc_id, pos) gram hits → merged maximal spans [start, end) with
    token counts — the classic running-max interval merge as a window
    PARTITIONED by doc_id (never global; each doc's spans merge
    independently, exactly parallel at any corpus size). Shared by q134
    (self-duplication spans) and q139 (eval-contamination spans)."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = hits.withColumn(
        "new_grp",
        (
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + L).over(w_prev), F.lit(-1))
        ).cast("int"),
    )
    grp = flagged.withColumn("gid", F.sum("new_grp").over(w_run))
    return (
        grp.groupBy("doc_id", "gid")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + L).cast("bigint").alias("span_end"),
            (F.max("pos") + L - F.min("pos"))
            .cast("bigint")
            .alias("span_tokens"),
        )
        .drop("gid")
    )


# ---------------------------------------------------------------------------
# q136 — span-cut APPLICATION (the step after q134 in the Lee et al.
# 2022 pipeline: having found every maximal duplicated span, actually
# emit the cleaned corpus with those token ranges removed — what The
# Pile / RedPajama cleanups write back to storage). The cleaned TEXT
# itself is the full-value witness: both engines must agree on every
# byte of every cleaned document, so an off-by-one span boundary, a
# dropped survivor token, or a wrong merge all break parity.
#
# Plan: q134's span set (already ONE corpus shuffle, or zero with the
# positioned gram layout) → per-doc span array (groupBy doc_id — the
# spans frame is duplicated-region-sized, far smaller than the corpus)
# → LEFT join back to documents on doc_id → one narrow higher-order
# pass drops covered positions and re-joins the survivors. At 100 TB
# the join is doc-keyed (8-byte ids) and the token filtering runs at
# scan speed; no stage sees more than the corpus + its span table.
# ---------------------------------------------------------------------------
@register(
    "q136_apply_span_dedup",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, i AS pos,
         array_to_string(
           toks[i + 1 : i + {_Q134_L}], ' ') AS gram
  FROM tok,
       UNNEST(range(0, GREATEST(len(toks) - {_Q134_L}, 0) + 1)) AS u(i)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), covered AS (
  SELECT DISTINCT h.doc_id, u.p
  FROM hits h, UNNEST(range(h.pos, h.pos + {_Q134_L})) AS u(p)
), kept AS (
  SELECT t.doc_id, u.i, t.toks[u.i + 1] AS tok
  FROM tok t, UNNEST(range(0, len(t.toks))) AS u(i)
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = t.doc_id AND c.p = u.i)
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens_orig,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       COALESCE(k.cleaned, '') AS cleaned_text
FROM tok t
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_kept,
         array_to_string(list(tok ORDER BY i), ' ') AS cleaned
  FROM kept GROUP BY doc_id
) k USING (doc_id)
ORDER BY t.doc_id
""",
)
def q136_apply_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = (
        q134_exact_substring_dedup(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("spans")
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens()
    joined = d.join(spans, "doc_id", "left").select(
        "doc_id",
        toks.alias("toks"),
        F.coalesce(
            "spans", F.array().cast("array<struct<s:bigint,e:bigint>>")
        ).alias("spans"),
    )
    # survivors: position i kept iff no span covers it. Spans are
    # per-doc few and non-overlapping (q134 merges), so the exists()
    # probe is tiny; the whole pass is narrow (the join above is the
    # only exchange this query adds).
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.array_size("toks") - 1),
            lambda i: F.struct(
                i.alias("i"), F.element_at("toks", i + 1).alias("tok")
            ),
        ),
        lambda p: ~F.exists(
            F.col("spans"),
            lambda sp: (p["i"] >= sp["s"]) & (p["i"] < sp["e"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.array_size("toks").cast("bigint").alias("n_tokens_orig"),
        F.array_size(kept).cast("bigint").alias("n_tokens_kept"),
        F.array_join(
            F.transform(kept, lambda p: p["tok"]), " "
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# q139 — SPAN-LEVEL decontamination (the strict-hygiene complement to
# q119: GPT-3/PaLM-style decontamination flags whole documents by eval
# n-gram overlap — q119's per-doc counts — while span-level pipelines
# (e.g. the 13-gram surgical removal described in Brown et al. 2020
# App. C: affected spans are cut and the document SPLIT, not dropped)
# need the exact token ranges that collide with the benchmark). Eval
# set = the q119 convention (doc_id % 97 == 0, a stand-in benchmark
# corpus). Decomposition: positioned L-grams (q134's construction, or
# the shared bucketed layout when provisioned) → semi-join training
# positions against the DISTINCT eval gram hashes (benchmark-sized at
# 100 TB → broadcast; bucket-local under the layout) → the shared
# per-doc interval merge. Oracle recomputes on gram STRINGS (the q119
# rule: hash shortcut re-proven against string truth every driver run).
# ---------------------------------------------------------------------------
@register(
    "q139_decontaminate_spans",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, i AS pos,
         array_to_string(
           toks[i + 1 : i + {_Q134_L}], ' ') AS gram
  FROM tok,
       UNNEST(range(0, GREATEST(len(toks) - {_Q134_L}, 0) + 1)) AS u(i)
), eval_grams AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN eval_grams e USING (gram)
  WHERE g.doc_id % 97 <> 0
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {_Q134_L}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_grp
  FROM hits
), grp AS (
  SELECT doc_id, pos,
         SUM(new_grp) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_Q134_L} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {_Q134_L} - MIN(pos) AS BIGINT) AS span_tokens
FROM grp
GROUP BY doc_id, gid
""",
)
def q139_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _gram_occurrences(spark, sf_dir)
    eval_g = (
        g.filter(F.col("doc_id") % 97 == 0).select("_h").distinct()
    )
    hits = (
        g.filter(F.col("doc_id") % 97 != 0)
        .join(eval_g, "_h", "left_semi")
        .select("doc_id", "pos")
    )
    return _merge_gram_spans(hits, _Q134_L)


# ---------------------------------------------------------------------------
# q140 — TEMPERATURE-based multilingual mixture sampling (the mT5 /
# XLM-R / CC-100 practice: sample language l with probability ∝ n_l^α,
# α<1, so low-resource languages are upweighted relative to their raw
# share — Conneau et al. 2020 §3.1, Xue et al. 2021 §3.2). α = 0.5
# here, deliberately: the per-language weight n_l^(α−1) = 1/√n_l makes
# every rate a composition of CORRECTLY-ROUNDED IEEE ops (one divide,
# one sqrt, one ×4096 = exact exponent shift, one floor), so both
# engines derive bit-identical integer rates from the counts and the
# whole query keeps a full-value oracle — a generic α would need a
# cross-engine pow() convention. Rates are normalized so the SMALLEST
# language keeps everything (rate 4096/4096), the standard "downsample
# the head, never fabricate the tail" posture.
#
# Plan: one count pass (per-lang model state) → broadcast the rate map
# → the q109 portable-hash keep predicate per row → one aggregate. At
# 100 TB: two scans, zero wide shuffles, no RNG state.
# ---------------------------------------------------------------------------
@register(
    "q140_temperature_mixture",
    oracle=f"""
WITH pool AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS nt FROM documents
), cnt AS (
  SELECT lang, COUNT(*) AS n FROM pool GROUP BY lang
), rates AS (
  SELECT lang, n,
         CAST(FLOOR(4096 * SQRT(
           (SELECT MIN(n) FROM cnt) * 1.0 / n)) AS BIGINT) AS rate
  FROM cnt
), scored AS (
  SELECT p.lang,
         ((p.doc_id % 4096) * {_Q109_MULT}) % 4096 AS bucket,
         p.nt, r.rate, r.n
  FROM pool p JOIN rates r USING (lang)
)
SELECT lang,
       MAX(n) AS n_pool,
       MAX(rate) AS rate_pp4096,
       COUNT(*) FILTER (bucket < rate) AS n_sampled,
       CAST(SUM(nt) FILTER (bucket < rate) AS BIGINT) AS sampled_tokens
FROM scored GROUP BY lang ORDER BY lang
""",
)
def q140_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    minn = cnt.agg(F.min("n").alias("_minn"))
    # FLOOR(4096 * SQRT(min_n / n)) — every step correctly rounded or
    # exact in BOTH engines (see header), so the rate map is
    # bit-deterministic from the counts
    rates = cnt.crossJoin(F.broadcast(minn)).select(
        "lang",
        "n",
        F.floor(
            F.lit(4096)
            * F.sqrt(F.col("_minn").cast("double") / F.col("n"))
        ).alias("rate"),
    )
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(4096)) * F.lit(_Q109_MULT),
        F.lit(4096),
    )
    keep = bucket < F.col("rate")
    return (
        d.select("lang", "doc_id", F.array_size(tokens()).alias("_nt"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").alias("n_pool"),
            F.max("rate").alias("rate_pp4096"),
            F.count_if(keep).alias("n_sampled"),
            F.sum(F.when(keep, F.col("_nt")))
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q142 — packing-efficiency audit (r11 verdict task 8: the pre-training
# batch-shape QA step). Given q126's concat-and-chunk placements, emit
# per-BLOCK statistics — the numbers a data engineer reads before
# launching a run to understand what the packer did to the batch shape:
#   n_docs         documents contributing tokens to the block
#   n_starts       documents whose first token lands in the block
#   n_ends         documents whose last token lands in the block
#   fill_tokens    tokens in the block (== block size for every block
#                  but the stream tail — the audit PROVES the packer
#                  leaves no holes)
#   contin_tokens  tokens from documents that started in an EARLIER
#                  block (cross-boundary continuations — the tokens
#                  whose attention context was cut by the block
#                  boundary; sum/total is the packing's semantic-loss
#                  rate, the quantity papers trade off against padding
#                  waste when choosing concat-vs-pad packing)
# Every quantity is an exact BIGINT (full-value oracle). Shape: one
# narrow explode of each doc's block RANGE (output rows ≈ blocks +
# doc-span overflow, ≪ token count) off q126's placement frame, then
# ONE groupBy(block_id) — the placement's two-level prefix sum is the
# only other shuffle inherited. At 100 TB the explode emits
# Θ(total_tokens / block_size + n_docs) rows — corpus-token-independent
# per block, and the aggregate keys are dense integers (no skew: every
# block gets ~block_size/avg_doc_len docs).
# ---------------------------------------------------------------------------
@register(
    "q142_packing_audit",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), p AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS seq_start
  FROM t
), e AS (
  -- the window SUM is HUGEINT in DuckDB; BIGINT-cast once here so
  -- range()/arithmetic below bind (all values < 2^63 by construction)
  SELECT doc_id, n_tokens, CAST(seq_start AS BIGINT) AS seq_start,
         CAST(seq_start // {_Q126_BLOCK} AS BIGINT) AS first_block,
         CAST((seq_start + n_tokens - 1) // {_Q126_BLOCK} AS BIGINT)
           AS last_block
  FROM p
), x AS (
  SELECT doc_id, n_tokens, seq_start, first_block, last_block,
         UNNEST(range(first_block, last_block + 1)) AS block_id
  FROM e
)
SELECT CAST(block_id AS BIGINT) AS block_id,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN block_id = first_block THEN 1 ELSE 0 END)
            AS BIGINT) AS n_starts,
       CAST(SUM(CASE WHEN block_id = last_block THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ends,
       CAST(SUM(LEAST(seq_start + n_tokens, (block_id + 1) * {_Q126_BLOCK})
            - GREATEST(seq_start, block_id * {_Q126_BLOCK}))
            AS BIGINT) AS fill_tokens,
       CAST(SUM(CASE WHEN block_id > first_block THEN
             LEAST(seq_start + n_tokens, (block_id + 1) * {_Q126_BLOCK})
             - block_id * {_Q126_BLOCK}
           ELSE 0 END) AS BIGINT) AS contin_tokens
FROM x
GROUP BY block_id
""",
)
def q142_packing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = _Q126_BLOCK
    placed = q126_sequence_packing(spark, sf_dir).select(
        "doc_id", "n_tokens", "seq_start", "first_block", "last_block"
    )
    x = placed.select(
        "n_tokens",
        "seq_start",
        "first_block",
        "last_block",
        F.explode(F.sequence("first_block", "last_block")).alias("block_id"),
    )
    in_block = F.least(
        F.col("seq_start") + F.col("n_tokens"),
        (F.col("block_id") + 1) * B,
    ) - F.greatest(F.col("seq_start"), F.col("block_id") * B)
    return x.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("block_id") == F.col("first_block")).cast("long")
        ).alias("n_starts"),
        F.sum(
            (F.col("block_id") == F.col("last_block")).cast("long")
        ).alias("n_ends"),
        F.sum(in_block).alias("fill_tokens"),
        F.sum(
            F.when(
                F.col("block_id") > F.col("first_block"),
                F.least(
                    F.col("seq_start") + F.col("n_tokens"),
                    (F.col("block_id") + 1) * B,
                )
                - F.col("block_id") * B,
            ).otherwise(F.lit(0))
        ).alias("contin_tokens"),
    )


# ---------------------------------------------------------------------------
# q143 — sequence-length histogram + truncation-loss sweep (the other
# half of the batch-shape QA: q142 audits CONCAT packing's
# attention-boundary cost; this audits the PAD-OR-TRUNCATE alternative.
# Together they are the two numbers a pretraining engineer compares
# when choosing a packing strategy — e.g. Kosec et al. 2021's packing
# analysis). Per fixed-width length bucket (64 tokens — integer-exact
# in both engines, no float log2 at bucket edges):
#   n_docs / total_tokens   the length distribution itself
#   lost_at_128/512/1024    tokens BEYOND each candidate context
#                           window, i.e. what truncation at W discards
#                           (padding waste is the complement:
#                           n_docs·W − (total − lost) for docs < W)
# One narrow pass, one groupBy on dense integer keys, exact BIGINTs
# under a full-value oracle. At 100 TB this is scan speed: no joins,
# output O(max_len / 64) rows.
# ---------------------------------------------------------------------------
_Q143_BUCKET = 64
_Q143_WINDOWS = (128, 512, 1024)


@register(
    "q143_seq_length_histogram",
    oracle=f"""
SELECT CAST(n_tokens // {_Q143_BUCKET} AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(GREATEST(n_tokens - 128, 0)) AS BIGINT) AS lost_at_128,
       CAST(SUM(GREATEST(n_tokens - 512, 0)) AS BIGINT) AS lost_at_512,
       CAST(SUM(GREATEST(n_tokens - 1024, 0)) AS BIGINT) AS lost_at_1024
FROM (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents)
GROUP BY 1
""",
)
def q143_seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.array_size(tokens()).cast("long").alias("n_tokens"))
    lost = [
        F.sum(
            F.greatest(F.col("n_tokens") - w, F.lit(0))
        ).alias(f"lost_at_{w}")
        for w in _Q143_WINDOWS
    ]
    return (
        t.select(
            F.expr(f"n_tokens div {_Q143_BUCKET}").alias("bucket"),
            "n_tokens",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            *lost,
        )
    )


# ---------------------------------------------------------------------------
# q144 — DSIR importance weighting (Xie et al. 2023 "Data Selection for
# Language Models via Importance Resampling"): score every pool document
# by how much more likely its hashed-n-gram features are under a TARGET
# distribution (here: the English slice, the fixture's stand-in for
# "wiki-quality target corpus") than under the RAW pool — the
# log importance weight log p_target(x) − log p_raw(x) under bag-of-
# hashed-unigram models with add-one smoothing over B buckets. The
# downstream resample step is exactly the q109/q140 portable-hash keep
# family, so this query emits the scores (the part DSIR adds).
#
# Feature hashing is ENGINE-PORTABLE by construction: bucket(tok) =
# polyfold(ascii chars, 31, mod 1000003) % B, computed identically by
# a Spark HOF fold and DuckDB list_reduce — hash collisions (a real
# part of the DSIR method) are REPRODUCED bit-for-bit by the oracle
# instead of argued away, and the fold runs only on the VOCAB-sized
# distinct-token frame, never per occurrence.
#
# Scale shape: explode → xxhash64 token keys (the 8-byte shuffle rule,
# q32/q133) → broadcast vocab→bucket map → ONE bucket-keyed count pass
# (partial-agg; B=8192 keys, no skew: bucket counts are the model) →
# broadcast log-ratio map → per-doc avg keyed by doc_id. The two
# passes over the exploded rows re-run the narrow split+explode at
# scan speed rather than persisting corpus-sized state (the
# pin_exploded_documents lesson — at fixture scale recompute costs
# ~nothing, at 100 TB the pinned blocks would starve the aggregation).
# Doubles: per-doc AVG of logs rounded to 6 (the q133 convention).
# ---------------------------------------------------------------------------
_Q144_B = 8192  # hashed feature buckets (DSIR §3.2 uses 10^4)
_Q144_MOD = 1000003  # prime fold modulus, keeps the fold < 2^25 exact


@register(
    "q144_dsir_weights",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
  FROM documents
), vb AS (
  SELECT tok,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(tok, ''),
                          c -> CAST(ascii(c) AS BIGINT))),
           (a, c) -> (a * 31 + c) % {_Q144_MOD}) % {_Q144_B} AS bucket
  FROM (SELECT DISTINCT tok FROM tok)
), rows_ AS (
  SELECT doc_id, lang = 'en' AS is_t, bucket FROM tok JOIN vb USING (tok)
), stats AS (
  SELECT bucket, COUNT(*) AS cr, COUNT(*) FILTER (is_t) AS ct
  FROM rows_ GROUP BY bucket
), tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM stats),
lr AS (
  SELECT bucket,
         LN((ct + 1.0) / (nt + {_Q144_B})) -
         LN((cr + 1.0) / (nr + {_Q144_B})) AS lr
  FROM stats, tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(lr), 6) AS dsir_score
FROM rows_ JOIN lr USING (bucket)
GROUP BY doc_id
""",
)
def q144_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rows = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        F.explode(tokens()).alias("tok"),
    ).select("doc_id", "is_t", F.xxhash64("tok").alias("h"))
    # portable bucket computed on the DISTINCT vocab only (31 strings at
    # any fixture scale — scale fixtures replicate docs, never grow the
    # vocab), then broadcast onto the 8-byte-keyed token rows
    chars = F.transform(
        F.split("tok", ""), lambda c: F.ascii(c).cast("bigint")
    )
    fold = F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda a, c: (a * F.lit(31) + c) % F.lit(_Q144_MOD),
    )
    # localCheckpoint pins the VOCAB-sized map (31 rows at any fixture
    # scale; bounded by |vocab| always) so the two consumers below do
    # not each re-scan the corpus to rebuild it — this is model-state,
    # not a corpus-sized persist pin_exploded_documents guards. Empty
    # tokens (double spaces in dirty input) are safe cross-engine by
    # construction: both engines emit the '' token from the split and
    # both fold it to bucket 0 (Spark folds an EMPTY char array to the
    # init 0; DuckDB folds the one-element [''] list with ascii('')=0 —
    # verified both).
    vb = (
        d.select(F.explode(tokens()).alias("tok"))
        .distinct()
        .select(
            F.xxhash64("tok").alias("h"), (fold % _Q144_B).alias("bucket")
        )
        .localCheckpoint(eager=False)
    )
    rows = rows.join(F.broadcast(vb), "h")
    stats = rows.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count_if(F.col("is_t")).alias("ct"),
    )
    tot = stats.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("nt") + F.lit(float(_Q144_B))))
            - F.log(
                (F.col("cr") + 1.0) / (F.col("nr") + F.lit(float(_Q144_B)))
            )
        ).alias("lr"),
    )
    return (
        rows.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lr"), 6).alias("dsir_score"),
        )
    )


# ---------------------------------------------------------------------------
# stored sequence-packing manifest (the sixth ensure_layouts entry) —
# the placement frame q126 computes IS the artifact a pretraining job
# writes once per corpus snapshot (the "data order" manifest: every
# doc's stream offset and block span, deterministic given doc order).
# Storing it converts q126 into a table scan and q142 (which feeds off
# q126's frame) into explode+groupBy over the stored manifest — the
# two-level prefix sum runs once at provision time instead of per
# consumer invocation. Plain table: consumers read it whole.
# ---------------------------------------------------------------------------
def _pack_tables(sf_dir: str) -> tuple[str]:
    from dask_cuml_spark.layouts import layout_tables

    return layout_tables("pack", sf_dir)


# ---------------------------------------------------------------------------
# q147 — perplexity-tercile bucketing (Wenzek et al. 2020 "CCNet":
# per-language head/middle/tail corpus thirds by LM score — the
# filtering step CCNet runs after its KenLM pass, and the standard
# quality-stratification knob in CommonCrawl pipelines). Composes
# q133's bigram-LM scorer UNCHANGED (its round-6 avg_logprob is
# already proven hash-equal cross-engine on every driver run), then
# ranks within language WITHOUT a language-sized window: the q146
# two-level prefix sum, with the first level keyed by a RANGE bucket
# of the score (monotone in the ranking key, so bucket order composes
# with in-bucket order) instead of q146's hash bucket. Tercile
# membership is pure integer arithmetic on (rank, n) — 3·g ≤ n, 3·g ≤
# 2·n — never a float fraction.
#
# FULL-VALUE oracle: the equivalent ONE-window SQL (ROW_NUMBER over
# PARTITION BY lang ORDER BY score DESC, doc_id). As with q146, the
# agreement of the two formulations — corpus-safe two-level vs
# textbook single-window — is itself what each driver run proves.
#
# Scale: scoring is q133 (measured 1.41x vs DuckDB at 1000x); the
# bucketing adds one (lang x 64)-row counts frame (model-state,
# broadcast back) and ranking windows over (lang, range-bucket)
# partitions. Range buckets can skew if a language's scores
# concentrate; at deployment scale the bucket edges come from a
# histogram pass (the q12 shape) — the fixture curve is spread enough
# that the fixed [-25, 0] edges hold, and correctness is
# bucket-independent (any monotone bucketing yields the same ranks).
# ---------------------------------------------------------------------------
_Q147_RB = 64  # score-range buckets per language


@register(
    "q147_perplexity_buckets",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tok, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT tok) AS vocab
  FROM (SELECT UNNEST(t) AS tok FROM tok)
), s AS (
  SELECT b.doc_id,
         ROUND(AVG(ln((c12.c12 + 1.0) / (c1.c1 + v.vocab))), 6) AS score
  FROM big b
  JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
  JOIN c1 ON b.w1 = c1.w1
  CROSS JOIN v
  GROUP BY b.doc_id
), r AS (
  SELECT s.doc_id, d.lang, s.score,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id) AS g,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, score,
       CAST(g AS BIGINT) AS lm_rank,
       CASE WHEN 3 * g <= n THEN 'head'
            WHEN 3 * g <= 2 * n THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM r
""",
)
def q147_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q133_bigram_lm_score(spark, sf_dir).select(
        "doc_id", F.col("avg_logprob").alias("score")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # null-coalesced partition/join key (the q146 rule: a bare equi-join
    # would silently drop null-lang rows while the oracle's PARTITION BY
    # groups them)
    rows = scored.join(d, "doc_id").withColumn(
        "_sk", F.coalesce(F.col("lang").cast("string"), F.lit("\x00null"))
    )
    # the scored frame fans into the counts/offsets subtree AND the
    # final ranking window — without pinning it, the whole q133
    # pipeline (explode + two count aggs + joins) re-evaluates per
    # consumer (the q144 duplicated-subtree class; measured 18.7 s vs
    # q133's own 12.9 s at 100x). This is NOT a corpus-sized persist
    # pin_exploded_documents guards: three narrow columns PER DOC
    # (~30 B/doc, ~0.03% of source text bytes at any scale), the same
    # output-manifest class as q126's placements.
    from dask_cuml_spark.plans.cost import persist_for_reuse

    rows = persist_for_reuse(rows)
    # range bucket, monotone DECREASING in score (lower _rb = better
    # score = closer to head); correctness needs only monotonicity —
    # the clamp folds outliers into the edge buckets where the
    # in-bucket (score DESC, doc_id) order still ranks them exactly
    neg = -F.col("score")
    rows = rows.withColumn(
        "_rb",
        F.least(
            F.lit(_Q147_RB - 1),
            F.greatest(
                F.lit(0),
                F.floor(neg / F.lit(25.0) * F.lit(_Q147_RB)).cast("int"),
            ),
        ),
    )
    counts = rows.groupBy("_sk", "_rb").agg(F.count(F.lit(1)).alias("_cnt"))
    woff = (
        Window.partitionBy("_sk")
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "_sk",
        "_rb",
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
    )
    tot = counts.groupBy("_sk").agg(F.sum("_cnt").alias("_n"))
    wr = Window.partitionBy("_sk", "_rb").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    g = F.col("_off") + F.col("_rkb")
    return (
        rows.withColumn("_rkb", F.row_number().over(wr))
        .join(F.broadcast(offs), ["_sk", "_rb"])
        .join(F.broadcast(tot), "_sk")
        .select(
            "doc_id",
            "lang",
            "score",
            g.cast("bigint").alias("lm_rank"),
            F.when(3 * g <= F.col("_n"), "head")
            .when(3 * g <= 2 * F.col("_n"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — n-gram novelty audit (the memorization/"how much of this doc
# is new text" profile dataset audits run before mixing a source in:
# Lee et al. 2022 §5 measure exactly this first-occurrence attribution
# when quantifying train-set duplication; the per-doc novelty fraction
# is the complement of q121's boilerplate fraction ATTRIBUTED to the
# earliest occurrence instead of counted symmetrically). A gram
# occurrence in doc d is NOVEL iff d is the smallest doc_id containing
# that gram — min() attribution, so exactly one doc owns each distinct
# gram and corpus-wide novelty mass equals the distinct-gram count.
#
# Decomposition: positioned L-gram pass (q134's frame — the stored
# gram layout's FOURTH consumer) → first-occurrence doc per 8-byte
# hash (one groupBy, bucket-local under the layout) → back-join
# (bucket-local likewise) → per-doc agg. The oracle recomputes on gram
# STRINGS (q119/q134 convention), so the hash shortcut is re-proven
# against string truth on every driver run.
#
# Scale: identical shape to q134 minus the interval merge — its one
# corpus-wide shuffle by _h disappears under the gram layout, and the
# per-doc agg is the canonical partial+final count.
# ---------------------------------------------------------------------------
@register(
    "q148_ngram_novelty",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         array_to_string(
           toks[i + 1 : i + {_Q121_N}], ' ') AS gram
  FROM tok,
       UNNEST(range(0, GREATEST(len(toks) - {_Q121_N}, 0) + 1)) AS u(i)
), f AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty_frac
FROM g JOIN f USING (gram)
GROUP BY g.doc_id
""",
)
def q148_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _gram_occurrences(spark, sf_dir)
    firsts = g.groupBy("_h").agg(F.min("doc_id").alias("_first"))
    novel = (F.col("_first") == F.col("doc_id")).cast("bigint")
    return (
        g.join(firsts, "_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q149 — Bloom-filter decontamination (Bloom 1970): a fixed m-bit
# membership filter whose size is independent of corpus and eval-set
# growth. Completes the membership trio: q139 = exact broadcast hash
# set, q112 = stored LSH index, q149 = Bloom filter.
#
# Every step is exact integer arithmetic both engines state
# identically, so the oracle reproduces the filter bit for bit,
# including its false positives (the q144 collision-reproduction
# convention):
#   tid       = per-token fold (a*31 + ascii(c)) % _Q144_MOD; the
#               modulus is < 2^20, so tid < 2^20
#   gram key  = fold (g*10007 + tid) % _Q149_GMOD over the 5-token tid
#               slice; the modulus is < 2^30, so gk < 2^30 and
#               g*10007 + tid < 2^44 is exact in int64
#   positions = double hashing h1 + i·h2 over m = 2^16 bits, k = 2
#               (Kirsch & Mitzenmacher 2006: two hashes suffice)
# Eval slice = doc_id % 97 == 0 (the q139 slice); train docs report
# per-doc gram counts, Bloom hits and exact-key hits. Every eval key
# sets both of its bits, so there are no false negatives and
# n_key_hits ≤ n_bloom_hits per doc; the spread between the two is the
# measured false-positive audit.
#
# The mask is m/64 int64 words (8 KB) for any corpus: positions lie in
# [0, m). It is a one-row in-plan aggregate crossJoined back as a
# broadcast, so building the query runs no job. The train pass is one
# narrow explode + a broadcast LEFT join against the distinct eval keys
# + two getbit tests against the mask row + the per-doc agg; nothing
# corpus-sized shuffles.
# ---------------------------------------------------------------------------
_Q149_M = 1 << 16  # Bloom bits
_Q149_GMOD = 999999937  # gram-key fold prime, < 2^30


@register(
    "q149_bloom_decontamination",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), tid AS (
  SELECT doc_id,
         list_transform(toks, t ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(t, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
             (a, c) -> (a * 31 + c) % {_Q144_MOD})) AS tids
  FROM tok
), g AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           tids[i + 1 : i + {_Q121_N}]),
           (a, t) -> (a * 10007 + t) % {_Q149_GMOD}) AS gk
  FROM tid,
       UNNEST(range(0, GREATEST(len(tids) - {_Q121_N}, 0) + 1)) AS u(i)
), keyed AS (
  SELECT doc_id, gk,
         gk % {_Q149_M} AS p1,
         (gk % {_Q149_M} + 1 + gk % ({_Q149_M} - 1)) % {_Q149_M} AS p2
  FROM g
), bits AS (
  SELECT DISTINCT p FROM (
    SELECT p1 AS p FROM keyed WHERE doc_id % 97 = 0
    UNION ALL
    SELECT p2 AS p FROM keyed WHERE doc_id % 97 = 0
  )
), ev AS (
  SELECT DISTINCT gk FROM keyed WHERE doc_id % 97 = 0
)
SELECT k.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(CASE WHEN e.gk IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_key_hits,
       ROUND(CAST(SUM(CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
                  THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS bloom_frac
FROM keyed k
LEFT JOIN bits b1 ON k.p1 = b1.p
LEFT JOIN bits b2 ON k.p2 = b2.p
LEFT JOIN ev e ON k.gk = e.gk
WHERE k.doc_id % 97 <> 0
GROUP BY k.doc_id
""",
)
def q149_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered oracle mode: portable ascii-fold gram keys, so DuckDB
    reproduces the filter bit for bit. ``bloom_decontaminate(...,
    key_mode='xxhash64')`` is the same plan with xxhash64 gram keys."""
    return bloom_decontaminate(spark, sf_dir, key_mode="portable")


def _q149_mask(ev_keys: DataFrame) -> DataFrame:
    """One-row frame: the m-bit Bloom mask of the eval keys' (p1, p2)
    positions as ``_mask``, an array of exactly m/64 int64 words. Each
    word w ∈ [0, m/64) gets a zero row before the bit_or, so every word
    is present and the sorted word list is the dense array; positions
    lie in [0, m), so no other word exists for any corpus. bit_or is
    idempotent, so duplicate positions need no distinct."""
    bits = ev_keys.selectExpr("explode(array(p1, p2)) AS p").selectExpr(
        "shiftright(p, 6) AS w", "shiftleft(1L, int(p & 63)) AS b"
    )
    zeros = ev_keys.sparkSession.range(_Q149_M >> 6).selectExpr(
        "id AS w", "CAST(0 AS BIGINT) AS b"
    )
    return (
        bits.unionByName(zeros)
        .groupBy("w")
        .agg(F.expr("bit_or(b) AS v"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, v))), "
                "s -> s.v) AS _mask"
            )
        )
    )


def _q149_bit_set(p: str) -> str:
    """SQL text: bit ``p`` (∈ [0, m)) set in the ``_mask`` words."""
    return (
        f"getbit(element_at(_mask, int(shiftright({p}, 6)) + 1), "
        f"int({p} & 63)) = 1"
    )


def _q149_keyed(d: DataFrame, key_mode: str) -> DataFrame:
    """(doc_id, gk, p1, p2) per 5-gram occurrence of ``d``'s text.

    The tokens are split once per document and, in portable mode,
    char-folded once per token into ``tids``; each gram key then folds
    its 5-element slice. key_mode 'xxhash64' keys each gram by
    xxhash64 of its token slice instead, with no per-char work."""
    if key_mode == "portable":
        toks = (
            f"transform({tokens_sql()}, t -> aggregate("
            "transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT)), "
            f"CAST(0 AS BIGINT), (a, c) -> (a * 31 + c) % {_Q144_MOD}))"
        )

        def key(s):
            return (
                f"aggregate({s}, CAST(0 AS BIGINT), "
                f"(a, t) -> (a * 10007 + t) % {_Q149_GMOD})"
            )
    elif key_mode == "xxhash64":
        toks = tokens_sql()

        def key(s):
            return f"xxhash64({s})"
    else:
        raise ValueError(f"unknown key_mode: {key_mode}")
    # pmod: xxhash64 keys can be negative; portable keys are ≥ 0, where
    # pmod equals the oracle's %
    p1 = f"pmod(gk, {_Q149_M})"
    return d.selectExpr("doc_id", f"{toks} AS toks").selectExpr(
        "doc_id",
        f"explode(transform({_GRAM_STARTS}, "
        f"i -> {key(f'slice(toks, i + 1, {_Q121_N})')})) AS gk",
    ).selectExpr(
        "doc_id",
        "gk",
        f"{p1} AS p1",
        f"({p1} + 1 + pmod(gk, {_Q149_M - 1})) % {_Q149_M} AS p2",
    )


def bloom_decontaminate(
    spark: SparkSession, sf_dir: str, key_mode: str = "xxhash64"
) -> DataFrame:
    """Per train doc: gram count, Bloom hits and exact eval-key hits
    against the Bloom filter of the eval slice's gram keys. The two
    key modes share one plan and differ only in the gram-key
    expression (``_q149_keyed``)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    keyed = _q149_keyed(d, key_mode)
    # keyed is not pinned: the doc_id filters push below the
    # repartition, so the train branch folds only train docs and the
    # two eval branches only the 1/97 eval slice; a pin would
    # materialize every gram row of the corpus
    ev_rows = keyed.filter("doc_id % 97 = 0")
    ev = ev_rows.selectExpr("gk").distinct()
    train = (
        keyed.filter("doc_id % 97 != 0")
        .join(F.broadcast(ev.selectExpr("*", "1 AS _me")), "gk", "left")
        .crossJoin(F.broadcast(_q149_mask(ev_rows)))
        .selectExpr(
            "doc_id",
            f"CAST(({_q149_bit_set('p1')}) AND ({_q149_bit_set('p2')}) "
            "AS BIGINT) AS _bloom",
            "CAST(_me IS NOT NULL AS BIGINT) AS _key",
        )
    )
    return train.groupBy("doc_id").agg(
        F.expr("count(1) AS n_grams"),
        F.expr("sum(_bloom) AS n_bloom_hits"),
        F.expr("sum(_key) AS n_key_hits"),
        F.expr(
            "round(CAST(sum(_bloom) AS DOUBLE) / count(1), 6) AS bloom_frac"
        ),
    )


# ---------------------------------------------------------------------------
# q150 — paragraph-level exact dedup (north-star D2: the RefinedWeb /
# SlimPajama granularity BETWEEN q134's positioned spans and q78's
# whole-document MinHash; public method: Penedo et al. 2023 "The
# RefinedWeb Dataset" §exact deduplication — duplicated lines /
# paragraphs are removed keeping the FIRST occurrence in corpus order,
# which kills boilerplate chrome (headers, footers, nav blocks) that
# whole-doc dedup never sees and span dedup over-segments).
# Paragraph segmentation is a PARAMETER: production corpora split on
# the newline delimiter; the fixtures are single-line (FIXTURES.md),
# so the registered query uses the equivalent fixed _Q150_P-token
# blocks — the same plan, a different split expression.
# Scale shape: one narrow explode emits (doc_id, idx, ph) where ph =
# xxhash64(token block) — the 8-byte key every dedup family shuffles
# on (q32/q119 collision class; equality-of-hash ≡ equality-of-string
# at 2^-64, and the oracle recomputes first-occurrences on the STRINGS
# so the shortcut is re-proven per driver run). First-occurrence
# resolution is the skew-safe two-level groupBy chain, never a
# paragraph-sized window partition: (ph, doc_id) partial-agg (map-side
# combined, so a paragraph repeated 10M times at 100 TB arrives
# pre-collapsed), then a min(struct) per ph on the collapsed frame,
# then a doc_id count of the winners. n_paras is its own narrow
# scan+agg — two scans total (the q105 two-scan shape) instead of
# persisting a corpus-sized explode.
# ---------------------------------------------------------------------------
_Q150_P = 20  # tokens per paragraph block (newline split in production)


@register(
    "q150_paragraph_dedup",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), blocks AS (
  SELECT doc_id, i AS idx,
         array_to_string(
           toks[(i*{_Q150_P}+1):(i*{_Q150_P}+{_Q150_P})], ' ') AS para
  FROM tok,
       UNNEST(range(0, CAST(ceil(len(toks) / {_Q150_P}.0) AS BIGINT)))
         AS t(i)
), ranked AS (
  SELECT doc_id, idx,
         ROW_NUMBER() OVER (
           PARTITION BY para ORDER BY doc_id, idx) AS rn
  FROM blocks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS kept_frac
FROM ranked
GROUP BY doc_id
""",
)
def q150_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokens().alias("toks"))
    )
    toks = F.col("toks")
    n = F.array_size(toks)
    nblocks = F.ceil(n.cast("double") / _Q150_P).cast("int")
    seq = F.sequence(F.lit(0), nblocks - 1)
    occ = d.select(
        "doc_id",
        F.explode(
            F.transform(
                seq,
                lambda i: F.struct(
                    i.cast("bigint").alias("idx"),
                    F.xxhash64(
                        F.slice(toks, i * _Q150_P + 1, _Q150_P)
                    ).alias("ph"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.idx", "b.ph")
    # level 1: collapse to (ph, doc_id) BEFORE the per-ph min — the
    # partial agg combines map-side, so no hot paragraph ever lands
    # uncollapsed on one reducer (the window formulation would)
    per_doc = occ.groupBy("ph", "doc_id").agg(
        F.min("idx").alias("min_idx")
    )
    winners = per_doc.groupBy("ph").agg(
        F.min(F.struct("doc_id", "min_idx")).alias("fo")
    )
    n_kept = winners.groupBy(F.col("fo.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    n_paras = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras")
    )
    return n_paras.join(n_kept, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.round(
            F.coalesce("n_kept", F.lit(0)).cast("double")
            / F.col("n_paras"),
            6,
        ).alias("kept_frac"),
    )


# ---------------------------------------------------------------------------
# q155 — BM25 retrieval scoring (round 15; the tf-idf successor every
# retrieval/RAG pipeline ranks with — Robertson et al., Okapi BM25,
# TREC-3 1994; the idf form is Lucene's non-negative
# ln(1 + (N − df + ½)/(df + ½)) so scores never go negative for
# ubiquitous terms). score(d, Q) = Σ_t idf(t) · tf·(k1+1) /
# (tf + k1·(1 − b + b·dl/avgdl)) with the standard k1=1.2, b=0.75.
#
# Spark shape (the q31 lessons applied): ONE document scan feeds both
# the per-doc length dl = size(split(text)) — computed BEFORE the
# explode and carried through it, so no second scan and no dl join —
# and the (doc, term) tf agg, which is FILTERED to the query terms
# right at the explode (candidate rows are Θ(matching postings), never
# corpus×vocab). df per query term comes from a count() window over
# the already-restricted tf rows (q31's one-lazy-DAG trick: a term
# exchange over ≤|Q| distinct terms); N and avgdl ride along as ONE
# broadcast 1-row aggregate (a second narrow text-column pass — in a
# deployment those two scalars are index-time constants, not per-query
# work). Global top-20 by (rounded score, doc_id) is a
# TakeOrderedAndProject — no SinglePartition sort of the scored frame
# (plan-pinned; the rk window runs over the already-cut 20 rows).
# At 100 TB: tf/df/top-k are the canonical posting-list aggregations;
# everything shuffles on 8-byte-able keys and combines map-side.
# Full-value oracle: DuckDB runs the identical arithmetic; ORDER BY
# the ROUNDED score so the rank tie-break is engine-stable.
# ---------------------------------------------------------------------------
_Q155_TERMS = ("vector", "fast", "dup")
_Q155_K1 = 1.2
_Q155_B = 0.75
_Q155_TOPK = 20


def bm25_rank(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = _Q155_K1,
    b: float = _Q155_B,
    top_k: int = _Q155_TOPK,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score, rk): the ``top_k`` documents by Okapi BM25 for a
    bag of query terms. Only documents containing ≥1 query term are
    candidates (retrieval semantics — the posting-list intersection,
    not a corpus scan per query)."""
    toks = tokens(text_col)
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("double").alias("dl"),
        F.explode(toks).alias("term"),
    ).filter(F.col("term").isin(list(query_terms)))
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfw = F.count(F.lit(1)).over(Window.partitionBy("term"))
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(F.size(tokens(text_col))).alias("_avgdl"),
    )
    scored = (
        tf.withColumn("df", dfw.cast("double"))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_n") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(top_k)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "score", "rk")
    )


@register(
    "q155_bm25_retrieval",
    oracle=f"""
WITH stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
  FROM documents
), tok AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
         t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE t.term IN ('vector', 'fast', 'dup')
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, dl, term
), df AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_Q155_K1} + 1))
           / (tf.tf + {_Q155_K1}
              * (1 - {_Q155_B} + {_Q155_B} * tf.dl / stats.avgdl))
         ), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
         AS rk
FROM scored
ORDER BY score DESC, doc_id
LIMIT {_Q155_TOPK}
""",
)
def q155_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # catalog-gated layout branch (r15; the q121/q145 convention): a
    # provisioned session serves from the stored postings index —
    # Θ(postings(q)), no corpus scan — with value-identical
    # arithmetic, so the same full-value oracle proves the layout.
    # Fresh sessions (the driver's gate) always run the plain shape.
    ptbl, stbl = _postings_tables(sf_dir)
    if spark.catalog.tableExists(ptbl) and spark.catalog.tableExists(stbl):
        return _bm25_from_postings(spark, sf_dir, _Q155_TERMS)
    return bm25_rank(load_table(spark, sf_dir, "documents"), _Q155_TERMS)


# ---------------------------------------------------------------------------
# q157 — weighted sampling WITHOUT replacement (Efraimidis & Spirakis
# 2006, "Weighted random sampling with a reservoir" — the A-ES key
# trick: k smallest of key_i = −ln(u_i)/w_i is an exact weighted
# sample-without-replacement; training-mix jobs use it to draw a
# length-weighted document subset in ONE pass, no sequential
# reservoir). Determinism comes from the q109 convention: u_i is a
# portable multiplicative hash of doc_id, not an RNG — any engine
# recomputes the identical sample, and resampling with a different
# SALT is a new independent draw (the reshufflable-epoch property
# q153 gives orders).
#
# Arithmetic bounds: (doc_id % 2^20) · M < 2^52 (int64-exact in both
# engines, the q109 pre-mod lesson); u = (h+1)/(2^20+1) ∈ (0,1), so
# ln(u) is finite and negative; w = n_chars ≥ 1 on the fixture. The
# emitted key is ROUND(·,9) and the top-k ORDER BY uses the ROUNDED
# key (the q155 lesson: rank tie-breaks must be engine-stable —
# Java's and DuckDB's ln may differ in the last ulp).
#
# Spark shape: one narrow projection over the scan →
# TakeOrderedAndProject(k) — no shuffle at all beyond the top-k
# collect; at 100 TB this is the canonical "sample k of N" map-side
# pattern (each partition keeps its local top-k, the driver merges
# k-sized partials).
# ---------------------------------------------------------------------------
_Q157_K = 100
_Q157_MULT = 2654435761  # Knuth multiplicative constant (q109's)
_Q157_MOD = 1 << 20


@register(
    "q157_weighted_sample",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         -LN((((doc_id % {_Q157_MOD}) * {_Q157_MULT})
              % {_Q157_MOD} + 1.0) / {_Q157_MOD + 1})
         / n_chars AS key
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars, ROUND(key, 9) AS es_key
FROM keyed
ORDER BY ROUND(key, 9), doc_id
LIMIT {_Q157_K}
""",
)
def q157_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.pmod(
            F.pmod(F.col("doc_id"), F.lit(_Q157_MOD)) * F.lit(_Q157_MULT),
            F.lit(_Q157_MOD),
        )
        + F.lit(1.0)
    ) / F.lit(float(_Q157_MOD + 1))
    key = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(_Q157_K)
    )


# ---------------------------------------------------------------------------
# q158 — Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005
# §4): d=4 hash rows × w=61 counters estimate every term's frequency
# with one-sided error (est ≥ true, over-count ≤ collisions' mass) in
# O(d·w) state REGARDLESS of corpus size — the bounded-memory
# frequency primitive under vocabulary pruning / stopword discovery /
# hot-key detection at 100 TB, where an exact per-term count table is
# itself corpus-sized. w is deliberately SMALL here (61, prime) so
# the 31-term fixture vocabulary actually collides and the est>true
# over-count path is exercised, not just asserted.
#
# Portability: term → integer code by the q38 char-code convention
# (length·131 + 7·ascii(first) + 31·ascii(second) + ascii(last) — ascii('')
# is 0 in BOTH engines, so 1-char tokens are safe), spread over [0, P)
# with ONE multiply-mod-P (P = 2^31−1), then per-row Carter–Wegman
# universal hash bucket_r = ((a_r·x + b_r) mod P) mod w. The spread
# step is load-bearing: raw codes are ≲2^12, so without it a_r·code+b_r
# never wraps P and ANY affine per-row hash preserves the difference
# structure — all d rows then share one collision pattern mod w and
# min() degenerates to identical estimates for every term. With the
# spread, a_r·x ≈ 2^47 wraps P many times and each row collides
# independently. The candidate set for the report is the distinct
# vocabulary (a 100 TB deployment feeds sampled candidates — the
# sketch answers point queries, it does not enumerate).
#
# Spark shape (_cms_counters): explode → code/bucket projection
# replicated d× in-plan by the (r, a, b) generator (_cms_rows) →
# ONE groupBy on the (r, bucket) key (map-side combinable: ≤ d×w rows
# reach the shuffle) → broadcast the counter table onto the candidate
# terms → min over d estimates. Full-value oracle: identical integer
# arithmetic both engines.
# ---------------------------------------------------------------------------
_Q158_W = 61
_Q158_D = 4
_Q158_P = 2147483647
_Q158_SPREAD = 2654435761
_Q158_AB = ((48271, 0), (16807, 12345), (69621, 54321), (40692, 99991))
_Q158_TOPK = 10


def _cms_rows() -> str:
    """SQL text: the d sketch rows' (r, a, b) hash parameters as one
    generator over an array literal: selected beside a row, it
    replicates that row d× in-plan — no join, no scan, no job."""
    ab = [{"r": r, "a": a, "b": b} for r, (a, b) in enumerate(_Q158_AB)]
    return f"inline({sql_lit(ab)})"


def _cms_x(term: str) -> str:
    """SQL text: term → its spread code x in [0, P), the q38 char-code
    convention times one multiply-mod-P (int64-exact in both engines;
    the spread constant exceeds int, so it parses as a bigint)."""
    code = (
        f"length({term}) * 131 + ascii({term}) * 7"
        f" + ascii(substring({term}, 2, 1)) * 31"
        f" + ascii(substring({term}, -1, 1))"
    )
    return f"pmod(({code}) * {_Q158_SPREAD}, {_Q158_P})"


def _cms_bucket(x: str, a: str = "a", b: str = "b") -> str:
    """SQL text: sketch row r's counter for code x, ((a·x + b) mod P)
    mod w, by default over the (r, a, b) columns of _cms_rows."""
    return f"pmod(pmod({a} * {x} + {b}, {_Q158_P}), {_Q158_W})"


@register(
    "q158_cms_heavy_hitters",
    oracle=f"""
WITH tok AS (
  SELECT t.term AS term,
         ((LENGTH(t.term) * 131 + 7 * ascii(t.term)
           + 31 * ascii(substr(t.term, 2, 1))
           + ascii(substr(t.term, -1, 1))) * {_Q158_SPREAD})
           % {_Q158_P} AS x
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
), rows_ AS (
  SELECT r, a, b FROM (VALUES
    {', '.join(f'({r}, {a}, {b})' for r, (a, b) in enumerate(_Q158_AB))}
  ) v(r, a, b)
), counters AS (
  SELECT r, ((a * x + b) % {_Q158_P}) % {_Q158_W} AS bucket,
         COUNT(*) AS c
  FROM tok CROSS JOIN rows_
  GROUP BY 1, 2
), cand AS (
  SELECT term, ANY_VALUE(x) AS x, COUNT(*) AS true_n
  FROM tok GROUP BY term
), est AS (
  SELECT cand.term, cand.true_n, MIN(counters.c) AS est_n
  FROM cand JOIN rows_ ON TRUE
  JOIN counters
    ON counters.r = rows_.r
   AND counters.bucket =
       ((rows_.a * cand.x + rows_.b) % {_Q158_P}) % {_Q158_W}
  GROUP BY cand.term, cand.true_n
)
SELECT term, CAST(est_n AS BIGINT) AS est_n,
       CAST(true_n AS BIGINT) AS true_n,
       CAST(est_n - true_n AS BIGINT) AS overcount
FROM est
ORDER BY est_n DESC, term
LIMIT {_Q158_TOPK}
""",
)
def q158_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.selectExpr(f"explode({tokens_sql()}) AS term").selectExpr(
        "term", f"{_cms_x('term')} AS x"
    )
    (cms_tbl,) = _cms_tables(sf_dir)
    if spark.catalog.tableExists(cms_tbl):
        # served: candidate scoring reads the SAME stored (r, bucket)
        # delta SUM q160's point queries do — the d×w counter pass
        # (every corpus token replicated d×) disappears; the
        # only corpus-sized work left is the cand scan, which exists to
        # carry the ground-truth true_n column. Delta additivity is
        # pytest-pinned (stored ≡ fresh counters bit-for-bit), so the
        # same full-value oracle proves this branch.
        counters = (
            spark.table(cms_tbl)
            .groupBy("r", "bucket")
            .agg(F.sum("c").alias("c"))
        )
    else:
        counters = _cms_counters(spark, sf_dir, d)
    cand = tok.groupBy("term").agg(
        F.any_value("x").alias("x"),
        F.count(F.lit(1)).alias("true_n"),
    )
    ctr = counters.select(
        F.col("r").alias("cr"),
        F.col("bucket").alias("cbucket"),
        "c",
    )
    est = (
        cand.selectExpr("*", _cms_rows())
        .selectExpr("*", f"{_cms_bucket('x')} AS cand_bucket")
        .join(
            F.broadcast(ctr),
            (F.col("cr") == F.col("r"))
            & (F.col("cbucket") == F.col("cand_bucket")),
        )
        .groupBy("term", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        est.select(
            "term",
            F.col("est_n").cast("long").alias("est_n"),
            F.col("true_n").cast("long").alias("true_n"),
            (F.col("est_n") - F.col("true_n")).cast("long").alias(
                "overcount"
            ),
        )
        .orderBy(F.col("est_n").desc(), "term")
        .limit(_Q158_TOPK)
    )


# ---------------------------------------------------------------------------
# q159 — TRUE merge-table BPE apply (Sennrich et al. 2016, "Neural
# Machine Translation of Rare Words with Subword Units" — the r14
# verdict's named frontier item beyond q113's regex chunking, which
# cannot express hierarchical merges like ('m','er')→'mer' or
# ('jo','in')→'join'). The merge table is the shipped artifact of a
# BPE tokenizer (merges.txt); this one was TRAINED by the canonical
# corpus-weighted algorithm on the fixture vocabulary (12 rounds of
# count-adjacent-pairs → argmax (count desc, pair asc) → merge
# everywhere) and is fixed here as literals, exactly how production
# pipelines consume a released tokenizer.
#
# Apply semantics: merges in RANK order, each as one global
# left-to-right non-overlapping pass — precisely what chained
# replace() computes, IF the symbol representation is boundary-safe.
# Single-space separation is NOT: the string "ge r" contains "e r",
# so a naive replace would merge the tail of one symbol with its
# neighbor. Symbols are therefore DOUBLE-spaced with single-space
# ends (' m  e  r  g  e '), and a merge (A,B) rewrites ' A  B ' →
# ' AB ': both-side anchors make cross-symbol matches impossible, and
# the single-space pad of the replacement restores the double-space
# invariant against the next match's leading space, so overlapping
# chains (' a  a  a  a ' → ' aa  aa ') reproduce the trainer's pass
# semantics exactly. replace() is left-to-right non-overlapping in
# BOTH engines (verified: 'a a a a' / 'a a' → 'aa aa' in each).
#
# Scale shape: BPE applies to the DISTINCT vocabulary (model-state-
# sized — the q144 vocab-map pattern), never per corpus token; term
# counts weight the result. One explode → vocab groupBy → 12 chained
# narrow string ops on ≤|vocab| rows. Full-value oracle: identical
# replace chain in DuckDB, per-term rows ordered by term.
# ---------------------------------------------------------------------------
_Q159_MERGES = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
)


def _q159_oracle() -> str:
    spaced = (
        "' ' || array_to_string(string_split(term, ''), '  ') || ' '"
    )
    expr = spaced
    for a, b in _Q159_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
WITH vocab AS (
  SELECT t.term AS term, COUNT(*) AS n
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  GROUP BY 1
), applied AS (
  SELECT term, n, trim({expr}) AS sp FROM vocab
)
SELECT term, n,
       CAST(LENGTH(term) AS BIGINT) AS n_chars,
       CAST(len(string_split(sp, '  ')) AS BIGINT) AS n_pieces,
       replace(sp, '  ', ' ') AS pieces
FROM applied
ORDER BY term
"""


@register("q159_bpe_apply", oracle=_q159_oracle())
def q159_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sp = F.concat(
        F.lit(" "),
        F.concat_ws("  ", F.split(F.col("term"), "")),
        F.lit(" "),
    )
    for a, b in _Q159_MERGES:
        sp = F.replace(sp, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    sp = F.trim(sp)
    # no presentation orderBy (the q119 rule) — the oracle's ORDER BY
    # is harmless and the driver compare canonical-sorts both sides
    return vocab.select(
        "term",
        "n",
        F.length("term").cast("long").alias("n_chars"),
        F.size(F.split(sp, "  ")).cast("long").alias("n_pieces"),
        F.replace(sp, F.lit("  "), F.lit(" ")).alias("pieces"),
    )


# ---------------------------------------------------------------------------
# BM25 postings layout (round 15 — the retrieval engine's stored
# artifact): the inverted index every search deployment builds at
# ingest time so a query reads Θ(postings(q)) instead of re-scanning
# the corpus. Table (term, _t=xxhash64(term), doc_id, tf, dl)
# bucketBy(_t) — the 8-byte house key; a query-term filter
# _t IN (literals) bucket-prunes the scan — plus an APPEND-ONLY stats
# sidecar of (n_docs, sum_dl) delta rows: BM25's global constants are
# ADDITIVE, so an ingest batch appends one delta row and readers SUM
# the rows (no update-in-place anywhere — the same append-only
# contract as the postings themselves). df per query term needs no
# table at all: postings for term t ARE df(t) rows, so the serving
# scan's count() window yields it for free.
#
# q155 is the catalog-gated consumer: fresh sessions (the driver's
# oracle gate) run the plain corpus-scan shape; a provisioned session
# serves from the layout with VALUE-identical arithmetic (same tf/dl
# rows, N/avgdl from the summed deltas — long sums, double division,
# bit-equal to F.avg's sum/count), so the same full-value oracle
# proves the layout. The stats sidecar is the layout's second table
# (layouts.py), so a refresh appends one delta row to it.
# ---------------------------------------------------------------------------


def _postings_tables(sf_dir: str) -> tuple[str, str]:
    from dask_cuml_spark.layouts import layout_tables

    return layout_tables("postings", sf_dir)


def _postings_frame(
    spark: SparkSession, sf_dir: str, d: DataFrame | None = None
) -> DataFrame:
    """(term, _t, doc_id, tf, dl) — q155's tf aggregation, one exploded
    pass. ``d`` overrides the source (the incremental refresh passes
    only the appended files' docs through the same construction)."""
    if d is None:
        d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = tokens()
    tok = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.explode(toks).alias("term"),
    )
    return (
        tok.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", F.xxhash64("term").alias("_t"), "doc_id", "tf", "dl")
    )


def _postings_stats_delta(d: DataFrame) -> DataFrame:
    """One additive delta row (n_docs, sum_dl) for a corpus slice."""
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens())).cast("long").alias("sum_dl"),
    )


def _bm25_from_postings(
    spark: SparkSession,
    sf_dir: str,
    query_terms: tuple[str, ...],
    k1: float = _Q155_K1,
    b: float = _Q155_B,
    top_k: int = _Q155_TOPK,
) -> DataFrame:
    """q155's layout branch: Θ(postings(q)) — the bucketed scan is
    pruned by _t IN (query hashes) + term IN (strings; _t collisions
    across the 64-bit hash are re-checked by the string predicate),
    stats come from summing the delta sidecar (broadcast 1-row), df
    from a count() window over the already-tiny matching postings.
    Arithmetic is value-identical to the plain path, so the same
    full-value oracle proves the layout end-to-end."""
    ptbl, stbl = _postings_tables(sf_dir)
    # literal _t values (one tiny driver job) so the IN lands in the
    # scan as a pushable predicate on the bucketed/sorted column —
    # bucket + row-group pruning; the term-string predicate re-checks
    # any 64-bit hash collision
    hash_row = spark.range(1).select(
        *[
            F.xxhash64(F.lit(t)).alias(f"h{i}")
            for i, t in enumerate(query_terms)
        ]
    ).first()
    t_vals = [int(v) for v in hash_row]
    tf = (
        spark.table(ptbl)
        .filter(
            F.col("_t").isin(t_vals)
            & F.col("term").isin(list(query_terms))
        )
        .select(
            "term", "doc_id", "tf", F.col("dl").cast("double").alias("dl")
        )
    )
    stats = spark.table(stbl).agg(
        F.sum("n_docs").cast("double").alias("_n"),
        (
            F.sum("sum_dl").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("_avgdl"),
    )
    dfw = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = (
        tf.withColumn("df", dfw.cast("double"))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_n") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(top_k)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "score", "rk")
    )


# ---------------------------------------------------------------------------
# q160 — CMS point queries off the STORED sketch (the companion to
# q158): a Count-Min sketch is a mergeable summary — counters are PURE
# SUMS — so the stored form is an APPEND-ONLY table of (r, bucket, c)
# delta rows (one set per corpus snapshot / ingest batch) and readers
# SUM per (r, bucket) before taking the min over rows. The ingest
# stream appends a batch-sized delta (d×w rows) and a point query
# answers from O(d·w) state with NO corpus scan at all.
#
# q160 asks the sketch for the estimated frequencies of a fixed
# candidate-term set (q155's query terms + two more). Spark shape:
# the d rows per candidate term are one array literal; each delta row
# keeps the candidates whose (r, bucket) it counts (the bucket folded
# in-plan, no join, so no broadcast job), one zero row per (term, r)
# keeps untouched counters at 0, and ONE groupBy term takes the least
# over r of the per-r sums. Catalog-gated: fresh sessions feed freshly
# counted deltas (one delta set — the sum is the identity) into the
# same aggregate, so one full-value oracle proves both branches.
# ---------------------------------------------------------------------------
_Q160_TERMS = ("vector", "fast", "dup", "join", "the")
_CMS_PREFIX = f"dcs_cmssketch{_Q158_D}x{_Q158_W}_"


def _cms_tables(sf_dir: str) -> tuple[str]:
    from dask_cuml_spark.layouts import layout_tables

    return layout_tables("cms", sf_dir)


def _cms_counters(
    spark: SparkSession, sf_dir: str, d: DataFrame | None = None
) -> DataFrame:
    """(r, bucket, c) counter deltas for a corpus slice — q158's
    counter construction factored for reuse by the layout writer, the
    incremental refresh (batch slice), and q160's plain branch."""
    if d is None:
        d = load_table(spark, sf_dir, "documents")
    tok = d.selectExpr(f"explode({tokens_sql()}) AS term").selectExpr(
        f"{_cms_x('term')} AS x"
    )
    return (
        tok.selectExpr("x", _cms_rows())
        .selectExpr("r", f"{_cms_bucket('x')} AS bucket")
        .groupBy("r", "bucket")
        .agg(F.expr("count(1) AS c"))
    )


@register(
    "q160_cms_point_query",
    oracle=f"""
WITH tok AS (
  SELECT ((LENGTH(t.term) * 131 + 7 * ascii(t.term)
           + 31 * ascii(substr(t.term, 2, 1))
           + ascii(substr(t.term, -1, 1))) * {_Q158_SPREAD})
           % {_Q158_P} AS x
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
), rows_ AS (
  SELECT r, a, b FROM (VALUES
    {', '.join(f'({r}, {a}, {b})' for r, (a, b) in enumerate(_Q158_AB))}
  ) v(r, a, b)
), counters AS (
  SELECT r, ((a * x + b) % {_Q158_P}) % {_Q158_W} AS bucket,
         COUNT(*) AS c
  FROM tok CROSS JOIN rows_
  GROUP BY 1, 2
), cand AS (
  SELECT q.term,
         ((LENGTH(q.term) * 131 + 7 * ascii(q.term)
           + 31 * ascii(substr(q.term, 2, 1))
           + ascii(substr(q.term, -1, 1))) * {_Q158_SPREAD})
           % {_Q158_P} AS x
  FROM (VALUES {', '.join(f"('{t}')" for t in _Q160_TERMS)}) q(term)
)
SELECT cand.term, CAST(MIN(COALESCE(counters.c, 0)) AS BIGINT) AS est_n
FROM cand
JOIN rows_ ON TRUE
LEFT JOIN counters
  ON counters.r = rows_.r
 AND counters.bucket =
     ((rows_.a * cand.x + rows_.b) % {_Q158_P}) % {_Q158_W}
GROUP BY cand.term
""",
)
def q160_cms_point_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    (tbl,) = _cms_tables(sf_dir)
    deltas = (
        spark.table(tbl)
        if spark.catalog.tableExists(tbl)
        else _cms_counters(spark, sf_dir)
    )
    cand = sql_lit(
        [
            {"term": t, "r": r, "a": a, "b": b}
            for r, (a, b) in enumerate(_Q158_AB)
            for t in _Q160_TERMS
        ]
    )
    bucket = _cms_bucket(_cms_x("s.term"), "s.a", "s.b")
    counts = f"s -> s.r = r AND {bucket} = bucket"
    hits = deltas.selectExpr("c", f"inline(filter({cand}, {counts}))")
    zeros = spark.range(1).selectExpr(f"inline({cand})").selectExpr(
        "term", "r", "CAST(0 AS BIGINT) AS c"
    )
    per_r = ", ".join(
        f"sum(CASE WHEN r = {r} THEN c END)" for r in range(_Q158_D)
    )
    return (
        hits.selectExpr("term", "r", "c")
        .unionByName(zeros)
        .groupBy("term")
        .agg(F.expr(f"CAST(least({per_r}) AS BIGINT) AS est_n"))
    )


# ---------------------------------------------------------------------------
# q164 — retrieval evaluation metrics (round 16; completes the D5
# retrieval family q155 → ANN → q162 fusion with the step every RAG
# pipeline runs on every index build: MRR, nDCG@10, precision@10,
# recall@10 — Järvelin & Kekäläinen 2002 for nDCG, the classic
# rank-metric suite otherwise) over the BM25 ranking, against a
# GENERATIVE binary relevance label (rel(d) = doc_id % 7 == 3 — the
# q152/q161/q163 closed-form-truth convention: the METRIC arithmetic
# is what's under test, and DuckDB replays label + ranking + metric
# in full).
#
# Determinism: ranks are exact ints from q155's ROUND(,6)-score
# ordering; each DCG term is 1/log2(rk+1) — engine log2 may differ in
# the last ulp and the ≤10-term sum order is engine-chosen, so
# results agree to ~1e-15 and the ROUND(...,6) emitted values are
# identical (9 orders of margin). IDCG folds over
# sequence(1, min(R,10)) where R = corpus relevant count.
#
# Scale shape: the ranking leg is q155's (postings-served when
# provisioned, Θ(postings(q))); the label join is a column expression
# on the ≤20-row ranked frame; the corpus relevant count is ONE
# map-side-combinable scalar agg; everything downstream touches ≤ 2
# broadcast 1-row frames. Evaluating a retrieval stack at 100 TB
# costs one ranking + one count — the metric math is free.
# ---------------------------------------------------------------------------
_Q164_K = 10
_Q164_RANK_DEPTH = 20


@register(
    "q164_retrieval_metrics",
    oracle=f"""
WITH stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
  FROM documents
), tok AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
         t.term AS term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE t.term IN ('vector', 'fast', 'dup')
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, dl, term
), dfr AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN(1 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * ({_Q155_K1} + 1))
           / (tf.tf + {_Q155_K1}
              * (1 - {_Q155_B} + {_Q155_B} * tf.dl / stats.avgdl))
         ), 6) AS score
  FROM tf JOIN dfr USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
), bm AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
              AS INTEGER) AS rk
  FROM scored ORDER BY score DESC, doc_id LIMIT {_Q164_RANK_DEPTH}
), lab AS (
  SELECT rk, CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS rel
  FROM bm
), relcnt AS (
  SELECT COUNT(*) AS n_rel FROM documents WHERE doc_id % 7 = 3
), aggs AS (
  SELECT COUNT(*) AS n_ranked,
         MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel,
         SUM(CASE WHEN rel = 1 AND rk <= {_Q164_K}
             THEN 1 ELSE 0 END) AS hits,
         SUM(CASE WHEN rel = 1 AND rk <= {_Q164_K}
             THEN CAST(1 AS DOUBLE) / log2(CAST(rk + 1 AS DOUBLE))
             ELSE 0 END) AS dcg
  FROM lab
), idcg AS (
  SELECT n_rel,
         COALESCE(list_sum(list_transform(
           range(1, LEAST(n_rel, {_Q164_K}) + 1),
           i -> CAST(1 AS DOUBLE) / log2(CAST(i + 1 AS DOUBLE))
         )), 0) AS ideal
  FROM relcnt
)
SELECT CAST(n_ranked AS BIGINT) AS n_ranked,
       CAST(n_rel AS BIGINT) AS n_relevant,
       ROUND(COALESCE(CAST(1 AS DOUBLE) / first_rel, 0), 6) AS mrr,
       ROUND(CASE WHEN ideal > 0 THEN dcg / ideal ELSE 0 END, 6)
         AS ndcg_at_k,
       ROUND(CAST(hits AS DOUBLE) / {_Q164_K}, 6) AS precision_at_k,
       ROUND(CASE WHEN n_rel > 0
             THEN CAST(hits AS DOUBLE) / n_rel ELSE 0 END, 6)
         AS recall_at_k
FROM aggs CROSS JOIN idcg
""",
)
def q164_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _Q164_K
    d = load_table(spark, sf_dir, "documents")
    ptbl, stbl = _postings_tables(sf_dir)
    if spark.catalog.tableExists(ptbl) and spark.catalog.tableExists(stbl):
        bm = _bm25_from_postings(
            spark, sf_dir, _Q155_TERMS, top_k=_Q164_RANK_DEPTH
        )
    else:
        bm = bm25_rank(d, _Q155_TERMS, top_k=_Q164_RANK_DEPTH)
    lab = bm.select(
        "rk",
        (F.pmod(F.col("doc_id"), F.lit(7)) == 3)
        .cast("int")
        .alias("rel"),
    )
    one = F.lit(1.0)
    aggs = lab.agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
        F.sum(
            F.when(
                (F.col("rel") == 1) & (F.col("rk") <= k), 1
            ).otherwise(0)
        ).alias("hits"),
        F.sum(
            F.when(
                (F.col("rel") == 1) & (F.col("rk") <= k),
                one / F.log2(F.col("rk").cast("double") + F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        ).alias("dcg"),
    )
    relcnt = d.agg(
        F.sum(
            (F.pmod(F.col("doc_id"), F.lit(7)) == 3).cast("long")
        ).alias("n_rel")
    )
    idcg = relcnt.select(
        "n_rel",
        F.when(
            F.col("n_rel") > 0,
            F.aggregate(
                F.sequence(
                    F.lit(1),
                    F.least(F.col("n_rel"), F.lit(k)).cast("int"),
                ),
                F.lit(0.0),
                lambda acc, i: acc
                + one / F.log2(i.cast("double") + F.lit(1.0)),
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("ideal"),
    )
    return (
        aggs.crossJoin(F.broadcast(idcg))
        .select(
            F.col("n_ranked").cast("long").alias("n_ranked"),
            F.col("n_rel").cast("long").alias("n_relevant"),
            F.round(
                F.coalesce(
                    one / F.col("first_rel").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.when(
                    F.col("ideal") > 0, F.col("dcg") / F.col("ideal")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg_at_k"),
            F.round(
                F.col("hits").cast("double") / F.lit(float(k)), 6
            ).alias("precision_at_k"),
            F.round(
                F.when(
                    F.col("n_rel") > 0,
                    F.col("hits").cast("double")
                    / F.col("n_rel").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("recall_at_k"),
        )
    )
