"""Operator-level tests: estimators verified against numpy closed forms
(the reference's own strategy — golden = sklearn/numpy; SURVEY.md §5.1),
plus the LSH/dedup/multimodal plumbing on fixture data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_cuml_spark.io import load_table
from dask_cuml_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup,
    simhash,
)
from dask_cuml_spark.operators.knn import brute_force_knn, lsh_knn
from dask_cuml_spark.operators.kmeans import KMeans
from dask_cuml_spark.operators.linear import LinearRegression, Ridge
from dask_cuml_spark.operators.metrics import accuracy, mse, r2_score
from dask_cuml_spark.operators.multimodal import (
    attach_fake_binary,
    extract_image_features,
    frame_sample,
)
from dask_cuml_spark.operators.preprocessing import (
    MinMaxScaler,
    StandardScaler,
    train_test_split,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def lineitem_np(spark):
    pdf = (
        load_table(spark, SF, "lineitem")
        .select("l_quantity", "l_discount", "l_tax", "l_extendedprice")
        .toPandas()
    )
    return pdf


def test_ols_matches_numpy_lstsq(spark, lineitem_np):
    feats = ["l_quantity", "l_discount", "l_tax"]
    model = LinearRegression().fit(
        load_table(spark, SF, "lineitem"), feats, "l_extendedprice"
    )
    X = np.column_stack([lineitem_np[c] for c in feats] + [np.ones(len(lineitem_np))])
    beta, *_ = np.linalg.lstsq(X, lineitem_np["l_extendedprice"], rcond=None)
    np.testing.assert_allclose(model.coef_, beta[:-1], rtol=1e-8)
    np.testing.assert_allclose(model.intercept_, beta[-1], rtol=1e-8)


def test_ols_predict_is_expression(spark):
    l = load_table(spark, SF, "lineitem")
    model = LinearRegression().fit(l, ["l_quantity"], "l_extendedprice")
    scored = model.predict(l.limit(100))
    assert "prediction" in scored.columns
    assert scored.filter(F.col("prediction").isNull()).count() == 0


def test_ridge_matches_numpy_closed_form(spark, lineitem_np):
    feats = ["l_quantity", "l_discount"]
    alpha = 7.5
    model = Ridge(alpha=alpha).fit(
        load_table(spark, SF, "lineitem"), feats, "l_extendedprice"
    )
    X = np.column_stack([lineitem_np[c] for c in feats] + [np.ones(len(lineitem_np))])
    y = lineitem_np["l_extendedprice"].to_numpy()
    reg = np.eye(3) * alpha
    reg[2, 2] = 0.0
    beta = np.linalg.solve(X.T @ X + reg, X.T @ y)
    np.testing.assert_allclose(model.coef_, beta[:-1], rtol=1e-8)
    np.testing.assert_allclose(model.intercept_, beta[-1], rtol=1e-8)


def test_kmeans_matches_numpy_lloyd(spark):
    emb = load_table(spark, SF, "embeddings")
    model = KMeans(k=5, max_iter=3, tol=0.0).fit(emb)
    # numpy reference: identical deterministic Lloyd from the same init,
    # using the kernel's score formulation (|c|² - 2x·c; |x|² dropped)
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    centers = X[:5].copy()
    for _ in range(3):
        c_norms = (centers * centers).sum(axis=1)
        scores = c_norms[None, :] - 2.0 * (X @ centers.T)
        assign = scores.argmin(axis=1)  # ties broken by lowest index
        new = centers.copy()
        for c in range(5):
            if (assign == c).any():
                new[c] = X[assign == c].sum(axis=0) / (assign == c).sum()
        centers = new
    np.testing.assert_allclose(model.cluster_centers_, centers, rtol=1e-9)
    assert model.n_iter_ == 3


def test_kmeans_predict_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    model = KMeans(k=3, max_iter=1).fit(emb)
    a = model.predict(emb).select("vec_id", "cluster").toPandas()
    b = model.predict(emb).select("vec_id", "cluster").toPandas()
    assert a.sort_values("vec_id").equals(b.sort_values("vec_id"))


def test_brute_force_knn_matches_numpy(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    res = brute_force_knn(q, c, k=3, exclude_same_id=True).toPandas()
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    for qid in range(5):
        d = ((X - X[qid]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        expect = [i for i in order if ids[i] != qid][:3]
        got = res[res.query_id == qid].sort_values("rk")["neighbor_id"].tolist()
        assert got == [int(ids[i]) for i in expect], f"query {qid}"


def test_lsh_knn_recall_against_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    exact = brute_force_knn(q, c, k=5).toPandas()
    approx = lsh_knn(q, c, dim=64, k=5, n_planes=6, n_tables=8).toPandas()
    # random near-orthogonal vectors are the LSH worst case; just require
    # meaningful recall and exact determinism of the operator itself
    exact_set = set(zip(exact.query_id, exact.neighbor_id))
    approx_set = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"
    again = lsh_knn(q, c, dim=64, k=5, n_planes=6, n_tables=8).toPandas()
    assert set(zip(again.query_id, again.neighbor_id)) == approx_set


def test_exact_dedup_keeps_min_id(spark):
    d = load_table(spark, SF, "documents")
    # inject controlled duplicates: copy doc 0's text onto ids 490..494
    dup = d.withColumn(
        "text",
        F.when(
            F.col("doc_id").isin([490, 491, 492, 493, 494]),
            F.lit("aa bb cc dd ee ff gg hh"),
        ).otherwise(F.col("text")),
    )
    out = exact_dedup(dup)
    kept = {r.doc_id for r in out.filter(F.col("text") == "aa bb cc dd ee ff gg hh").collect()}
    assert kept == {490}
    assert out.count() == d.count() - 4


def test_minhash_near_dup_golden(spark):
    # hand-built golden set: 2 near-dup pairs + unrelated docs
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tomorrow"),
        (3, "completely different text about spark and distributed engines"),
        (4, "completely different text about spark and distributed systems"),
        (5, "nothing in common with anything else at all here folks"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # production banding (12 bands x 3 rows): its p=0.99 recall knee sits
    # at J=0.683, safely below both golden pairs (J=0.8 and J=0.75) — the
    # former 8x4 banding put the (3,4) pair at p=0.95, i.e. hash-family
    # seed luck, which the round-5 single-string-hash family exposed
    pairs = minhash_near_dup(
        df, n=2, num_hashes=36, bands=12, threshold=0.5
    ).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    assert (1, 2) in found
    assert (3, 4) in found
    assert all(p in {(1, 2), (3, 4)} for p in found)


def test_simhash_similar_docs_close(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.simhash for r in simhash(df).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_standard_scaler_moments(spark):
    c = load_table(spark, SF, "customer")
    scaled = StandardScaler().fit(c, ["c_acctbal"]).transform(c)
    row = scaled.agg(
        F.avg("c_acctbal_z").alias("mu"), F.stddev_samp("c_acctbal_z").alias("sd")
    ).collect()[0]
    assert abs(row["mu"]) < 1e-9
    assert abs(row["sd"] - 1.0) < 1e-9


def test_minmax_scaler_range(spark):
    c = load_table(spark, SF, "customer")
    scaled = MinMaxScaler().fit(c, ["c_acctbal"]).transform(c)
    row = scaled.agg(
        F.min("c_acctbal_01").alias("lo"), F.max("c_acctbal_01").alias("hi")
    ).collect()[0]
    assert row["lo"] == 0.0 and row["hi"] == 1.0


def test_train_test_split_deterministic_partition(spark):
    o = load_table(spark, SF, "orders")
    tr1, te1 = train_test_split(o, "o_orderkey", 0.25, seed=1)
    tr2, te2 = train_test_split(o.repartition(17), "o_orderkey", 0.25, seed=1)
    assert te1.count() == te2.count()
    assert tr1.count() + te1.count() == o.count()
    frac = te1.count() / o.count()
    assert 0.2 < frac < 0.3
    # same rows regardless of partitioning
    ids1 = {r.o_orderkey for r in te1.select("o_orderkey").collect()}
    ids2 = {r.o_orderkey for r in te2.select("o_orderkey").collect()}
    assert ids1 == ids2


def test_metrics_match_numpy(spark, lineitem_np):
    l = load_table(spark, SF, "lineitem")
    model = LinearRegression().fit(l, ["l_quantity"], "l_extendedprice")
    scored = model.predict(l)
    y = lineitem_np["l_extendedprice"].to_numpy()
    x = lineitem_np["l_quantity"].to_numpy()
    pred = model.intercept_ + model.coef_[0] * x
    assert abs(mse(scored, "l_extendedprice", "prediction") - ((y - pred) ** 2).mean()) < 1e-4
    ss_res = ((y - pred) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    assert abs(r2_score(scored, "l_extendedprice", "prediction") - (1 - ss_res / ss_tot)) < 1e-9


def test_accuracy_simple(spark):
    e = load_table(spark, SF, "embeddings")
    scored = e.withColumn("pred", F.col("label"))
    assert accuracy(scored, "label", "pred") == 1.0


def test_multimodal_image_features(spark):
    d = load_table(spark, SF, "documents").limit(50)
    feats = extract_image_features(attach_fake_binary(d)).toPandas()
    assert len(feats) == 50
    assert set(feats.columns) == {"doc_id", "width", "height", "mean_luma", "feature_vec"}
    assert all(len(v) == 8 for v in feats.feature_vec)
    assert all(abs(sum(v) - 1.0) < 1e-3 for v in feats.feature_vec)


def test_multimodal_frame_sample_one_to_many(spark):
    d = load_table(spark, SF, "documents").limit(10)
    frames = frame_sample(attach_fake_binary(d), every_n=2).toPandas()
    assert len(frames) >= 10
    assert (frames.frame_idx % 2 == 0).all()


def test_hashing_tf_consistent_and_complete(spark):
    from dask_cuml_spark.operators.naive_bayes import hashing_tf

    d = load_table(spark, SF, "documents").limit(100)
    tf = hashing_tf(d, num_features=64)
    pdf = tf.toPandas()
    assert (pdf.bucket >= 0).all() and (pdf.bucket < 64).all()
    # total term mass preserved
    total_terms = d.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).collect()[0]["n"]
    assert pdf.tf.sum() == total_terms
    # same term always lands in the same bucket
    again = hashing_tf(d, num_features=64).toPandas()
    a = pdf.sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    assert a.equals(b)


def test_ivf_index_recall_and_full_probe_exactness(spark):
    from dask_cuml_spark.operators.ivf import IVFIndex

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    exact = brute_force_knn(q, c.withColumnRenamed("neighbor_id", "vec_id")
                            .withColumnRenamed("cv", "embedding")
                            .select(F.col("vec_id").alias("neighbor_id"),
                                    F.col("embedding").alias("cv")), k=5)
    exact_set = set(zip(*[exact.toPandas()[c] for c in ("query_id", "neighbor_id")]))

    idx = IVFIndex(n_cells=8, kmeans_iters=3).fit(emb)
    # full probe (nprobe = n_cells) must equal exact brute force
    full = idx.search(q, k=5, nprobe=8).toPandas()
    full_set = set(zip(full.query_id, full.neighbor_id))
    assert full_set == exact_set
    # partial probe trades recall for scan fraction but keeps some overlap
    part = idx.search(q, k=5, nprobe=3).toPandas()
    part_set = set(zip(part.query_id, part.neighbor_id))
    recall = len(part_set & exact_set) / len(exact_set)
    assert recall >= 0.3, recall
    # determinism
    again = idx.search(q, k=5, nprobe=3).toPandas()
    assert set(zip(again.query_id, again.neighbor_id)) == part_set


def test_ivf_sqrt_cells_resolves_and_stays_exact(spark):
    """r8 (verdict task 7): n_cells='sqrt' resolves to ~√n at fit time —
    the production quantizer scaling (fit Θ(n^1.5), not Θ(n·k) with
    k ∝ n) — and the index keeps the full-probe == brute-force
    exactness guarantee at the resolved cell count."""
    from dask_cuml_spark.operators.ivf import IVFIndex

    emb = load_table(spark, SF, "embeddings")  # 500 rows → 22 cells
    idx = IVFIndex(n_cells="sqrt", kmeans_iters=2).fit(emb)
    assert idx.n_cells == "sqrt"  # the SPEC is never mutated (advisor r8)
    assert idx.n_cells_ == round(500**0.5) == 22
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    exact = brute_force_knn(q, c, k=5)
    exact_set = set(
        zip(*[exact.toPandas()[col] for col in ("query_id", "neighbor_id")])
    )
    full = idx.search(q, k=5, nprobe=idx.n_cells_).toPandas()
    assert set(zip(full.query_id, full.neighbor_id)) == exact_set
    # advisor r8: REFITTING the same instance on a different-sized
    # dataset must re-derive √n, not reuse the first resolution
    idx.fit(emb.filter(F.col("vec_id") < 100))
    assert idx.n_cells_ == round(100**0.5) == 10


def test_adjusted_rand_score_known_values(spark):
    from dask_cuml_spark.operators.metrics import adjusted_rand_score

    # identical labelings -> 1.0
    e = load_table(spark, SF, "embeddings").withColumn("pred", F.col("label"))
    assert abs(adjusted_rand_score(e, "label", "pred") - 1.0) < 1e-12
    # label-permuted -> still 1.0 (ARI is permutation-invariant)
    perm = e.withColumn("pred", (F.col("label") + 3) % 10)
    assert abs(adjusted_rand_score(perm, "label", "pred") - 1.0) < 1e-12
    # independent labeling -> ~0
    rand = e.withColumn("pred", (F.col("vec_id") * 7919) % 10)
    assert abs(adjusted_rand_score(rand, "label", "pred")) < 0.05


def test_adjusted_rand_frame_matches_score_and_textbook(spark):
    """The float API and the lazy one-row frame are one computation,
    self-ARI is exactly 1.0, and the CUBE pair-count sums equal the
    textbook contingency-table closed form computed here in Python."""
    from collections import Counter

    from dask_cuml_spark.operators.metrics import (
        adjusted_rand_frame,
        adjusted_rand_score,
    )

    e = load_table(spark, SF, "embeddings").withColumn(
        "pred", (F.col("vec_id") * 7919) % 7
    )
    row = adjusted_rand_frame(e, "label", "pred").first()
    assert adjusted_rand_score(e, "label", "pred") == row["ari"]
    assert adjusted_rand_score(e, "label", "label") == 1.0
    # no rows means no pairs to disagree on
    assert adjusted_rand_score(e.filter(F.lit(False)), "label", "pred") == 1.0

    pairs = [(r.label, r.pred) for r in e.select("label", "pred").collect()]

    def comb2(x):
        return x * (x - 1) / 2.0

    sum_ij = sum(comb2(v) for v in Counter(pairs).values())
    sum_a = sum(comb2(v) for v in Counter(a for a, _ in pairs).values())
    sum_b = sum(comb2(v) for v in Counter(b for _, b in pairs).values())
    expected = sum_a * sum_b / comb2(len(pairs))
    max_index = (sum_a + sum_b) / 2.0
    assert (row["sum_ij"], row["sum_a"], row["sum_b"], row["n"]) == (
        sum_ij, sum_a, sum_b, len(pairs)
    )
    assert row["ari"] == (sum_ij - expected) / (max_index - expected)


def test_merge_upsert_null_update_wins(spark):
    """CDC NULL semantics: a matched update row fully wins — an explicit
    NULL update value overwrites the target's non-NULL value (ADVICE r1)."""
    from dask_cuml_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "keep", 10.0), (2, "old", 20.0)], ["k", "name", "val"]
    )
    updates = spark.createDataFrame(
        [(2, None), (3, 30.0)], "k long, val double"
    )
    out = (
        merge_upsert(target, updates, "k", ["val"])
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    assert out.loc[1, "val"] == 10.0  # untouched
    assert out.loc[2, "name"] == "old" and np.isnan(out.loc[2, "val"])  # nulled
    assert out.loc[3, "val"] == 30.0  # insert


def test_multimodal_decoder_branches(spark):
    """Both decode branches work: the stub always, PIL when importable
    (skip otherwise) — VERDICT r1 'real decode behind a feature flag'."""
    from dask_cuml_spark.operators.multimodal import (
        attach_fake_binary,
        extract_image_features,
        resolve_decoder,
        _auto_decode,
        _pil_decode,
    )

    d = attach_fake_binary(
        load_table(spark, SF, "documents").limit(20)
    )
    out = extract_image_features(d, decode_mode="fake").toPandas()
    assert len(out) == 20 and (out.width > 0).all()

    # auto resolves per-environment without raising: PIL when importable,
    # else the magic-byte dispatcher (real PNG decode + stub fallback)
    assert resolve_decoder("auto") in (_auto_decode, _pil_decode)

    pytest.importorskip("PIL")
    import io as _io

    from PIL import Image

    buf = _io.BytesIO()
    Image.new("L", (4, 3), color=7).save(buf, format="PNG")
    img = resolve_decoder("pil")(buf.getvalue())
    assert img.shape == (3, 4) and int(img.mean()) == 7


def test_gemm_float32_dtype_close_to_float64(spark):
    """The float32 kernel path (100 TB width saver) agrees with float64
    within float32 tolerance on the fixture embeddings."""
    from dask_cuml_spark.operators.gemm import pairwise_similarity_above

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    f64 = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in pairwise_similarity_above(e, 0.35).collect()
    }
    f32 = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in pairwise_similarity_above(
            e, 0.35, dtype=np.float32
        ).collect()
    }
    assert len(f64) > 0
    # pair sets may differ only for sims within float32 eps of the cut
    common = set(f64) & set(f32)
    assert len(common) >= max(len(f64) - 5, 1)
    for k in common:
        assert abs(f64[k] - f32[k]) < 1e-5


def test_gemm_float32_narrows_shuffled_vectors(spark):
    """float32 mode must narrow the vector column BEFORE the blocked
    replicate+shuffle — array<float> on the wire is the entire point
    (half the shuffle/Arrow bytes of array<double>); casting only inside
    the numpy kernel would save nothing (VERDICT r2 #8)."""
    from dask_cuml_spark.operators.gemm import pairwise_similarity_above

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan32 = (
        pairwise_similarity_above(e, 0.35, dtype=np.float32)
        ._jdf.queryExecution().analyzed().toString()
    )
    plan64 = (
        pairwise_similarity_above(e, 0.35)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "as float)" in plan32, plan32
    assert "as float)" not in plan64


def test_dbscan_float32_eps_join_matches_on_fixture(spark):
    """dbscan(dtype=float32): same labeling as float64 on the fixture
    (no eps-boundary mass within float32 tolerance there), with the
    narrow shuffle documented for the 100 TB path."""
    from dask_cuml_spark.operators.dbscan import dbscan

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = (
        dbscan(e, eps=1.18, min_pts=3)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    b = (
        dbscan(e, eps=1.18, min_pts=3, dtype=np.float32)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert a.equals(b)


def test_simhash_near_dup_finds_known_near_pairs(spark):
    """The banded SimHash pipeline must surface the fixture's known
    near-duplicate pairs (the same golden pairs the exact-Jaccard q35
    finds at threshold 0.9) within hamming 3, and never emit unordered
    or over-threshold rows."""
    from dask_cuml_spark.operators.dedup import simhash_near_dup

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = simhash_near_dup(d, bands=4, max_hamming=3).toPandas()
    assert len(out) > 0
    assert (out.id_a < out.id_b).all()
    assert (out.hamming <= 3).all()
    assert not out.duplicated(["id_a", "id_b"]).any()
    # determinism: second run bit-identical (seeded xxhash)
    out2 = simhash_near_dup(d, bands=4, max_hamming=3).toPandas()
    key = lambda f: sorted(map(tuple, f.values.tolist()))  # noqa: E731
    assert key(out) == key(out2)


# --- functions/json.py: flat-object fast path ------------------------------


def test_fast_get_long_parity_with_from_json_on_fixture(spark):
    """Every fixture props row takes the fast path and agrees with the
    full Jackson parse (q22's correctness depends on this)."""
    from pyspark.sql import functions as F

    from dask_cuml_spark.functions.json import fast_get_long
    from dask_cuml_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    n_diff = (
        e.select(
            fast_get_long("props", "k").alias("fast"),
            F.from_json("props", "k BIGINT").getField("k").alias("full"),
        )
        .filter(
            ~(
                (F.col("fast") == F.col("full"))
                | (F.col("fast").isNull() & F.col("full").isNull())
            )
        )
        .count()
    )
    assert n_diff == 0


def test_fast_get_long_fallback_rows(spark):
    """Rows the anchored regexp can't match fall back to the exact
    Jackson path; the documented divergence (fake key inside an earlier
    string value) is pinned so a behavior change is visible."""
    from dask_cuml_spark.functions.json import fast_get_long

    rows = [
        ('{"k": 7}', 7),  # fast path
        ('{"j": 1, "k": -3}', -3),  # fast path, anchored on comma
        ('{"k": "12"}', 12),  # quoted value -> fallback parses
        ('{"j": 5}', None),  # absent key -> both paths null
        ("not json", None),
        (None, None),
        # fake key inside a string value: in VALID JSON inner quotes are
        # escaped (\"k\"), so the [{,]\s*" anchor can't match them —
        # strings cannot fool the fast path
        ('{"msg": "x,\\"k\\": 5", "k": 9}', 9),
        ('{"msg": "x,\\"k\\": 5}", "k": 9}', 9),
        # nested structure routes to the exact Jackson path (round-5
        # flat gate — the former documented divergence is closed):
        # $.k JSON semantics give the TOP-LEVEL 9, not the inner 5
        ('{"a": {"k": 5}, "k": 9}', 9),
        ('{"a": [{"k": 5}], "k": 9}', 9),
        ('{"a": [1, 2], "k": 9}', 9),  # any nesting disables fast path
    ]
    df = spark.createDataFrame(
        [(r[0],) for r in rows], "props string"
    ).withColumn("k", fast_get_long("props", "k"))
    got = [r["k"] for r in df.collect()]
    assert got == [r[1] for r in rows]


def test_events_loader_adapts_to_fixture_encoding(spark, tmp_path):
    """Fixture-encoding contract (round-3 regression class): the driver
    has regenerated events.ts as TIMESTAMP(NANOS)-as-int64 AND as
    TIMESTAMP_MICROS across rounds. The loader must yield identical
    ts_us under every encoding it may meet: int64-nanos, micros NTZ
    (isAdjustedToUTC=false), and micros LTZ (isAdjustedToUTC=true)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_cuml_spark.io import load_table

    src = pq.read_table(
        "/root/testdata/sf0.001/events.parquet"
    ).slice(0, 200)
    ts = src.column("ts")  # timestamp[us], naive

    encodings = {
        "ntz_us": ts,
        "nanos_i64": ts.cast(pa.timestamp("ns")),
        "ltz_us": ts.cast(pa.timestamp("us", tz="UTC")),
    }
    got = {}
    for enc, col in encodings.items():
        d = tmp_path / enc
        d.mkdir()
        pq.write_table(
            src.set_column(src.schema.get_field_index("ts"), "ts", col),
            d / "events.parquet",
        )
        df = load_table(spark, str(d), "events")
        got[enc] = dict(
            df.select("event_id", "ts_us").toPandas().itertuples(index=False)
        )
    assert got["ntz_us"] == got["nanos_i64"] == got["ltz_us"]
    # and the NTZ path (current fixture) agrees with DuckDB's epoch_us
    import duckdb

    want = dict(
        duckdb.sql(
            "SELECT event_id, epoch_us(ts) FROM "
            "'/root/testdata/sf0.001/events.parquet' ORDER BY event_id LIMIT 200"
        ).fetchall()
    )
    assert got["ntz_us"] == want


def test_streaming_entry_adapts_to_nanos_encoding(spark, tmp_path):
    """The streaming entry points infer the events schema themselves
    (readStream needs an explicit schema), so they must carry the same
    nanos-int64 resilience as io.load_table — in a session where nothing
    has set the nanosAsLong conf yet (the advisor's round-4 concern).
    Re-encode the fixture as TIMESTAMP(NANOS), clear the conf, and the
    streaming sessionizer must produce the same sessions as it does on
    the micros encoding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_cuml_spark.streaming.sessionize import stream_sessionize

    src = pq.read_table("/root/testdata/sf0.001/events.parquet").slice(0, 500)
    i = src.schema.get_field_index("ts")
    runs = {}
    for enc, col in {
        "us": src.column("ts"),
        "ns": src.column("ts").cast(pa.timestamp("ns")),
    }.items():
        d = tmp_path / enc
        d.mkdir()
        pq.write_table(src.set_column(i, "ts", col), d / "events.parquet")
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        runs[enc] = (
            stream_sessionize(spark, str(d))
            .toPandas()
            .sort_values(["user_id", "session_start_us"])
            .reset_index(drop=True)
        )
    assert len(runs["us"]) > 0
    assert runs["us"].equals(runs["ns"])


def _encode_png(arr: np.ndarray, filters: list[int] | None = None) -> bytes:
    """Minimal in-test PNG encoder (stdlib zlib+struct): 8-bit gray (h,w)
    or color (h,w,3|4), one chosen filter type per scanline so every
    unfilter branch of the decoder is exercised."""
    import struct
    import zlib

    if arr.ndim == 2:
        color, bpp = 0, 1
        px = arr[:, :, None]
    else:
        color, bpp = {3: 2, 4: 6}[arr.shape[2]], arr.shape[2]
        px = arr
    h, w = arr.shape[:2]
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.intp)
    for y, ftype in zip(range(h), filters):
        cur = px[y].reshape(-1).astype(np.intp)
        if ftype == 0:
            out = cur
        elif ftype == 1:  # Sub
            a = np.concatenate([np.zeros(bpp, dtype=np.intp), cur[:-bpp]])
            out = (cur - a) & 0xFF
        elif ftype == 2:  # Up
            out = (cur - prev) & 0xFF
        elif ftype == 3:  # Average
            a = np.concatenate([np.zeros(bpp, dtype=np.intp), cur[:-bpp]])
            out = (cur - ((a + prev) >> 1)) & 0xFF
        else:  # Paeth
            out = np.zeros(w * bpp, dtype=np.intp)
            for x in range(w * bpp):
                a = cur[x - bpp] if x >= bpp else 0
                b, c = prev[x], (prev[x - bpp] if x >= bpp else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[x] = (cur[x] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_real_bytes_roundtrip():
    """The pure-Python PNG decoder must invert the encoder for every
    filter type, on gray AND color, and reduce color via ITU-R 601 luma."""
    from dask_cuml_spark.operators.multimodal import _png_decode

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (11, 7), dtype=np.uint8)
    for filters in ([0] * 11, [1] * 11, [2] * 11, [3] * 11, [4] * 11,
                    [0, 1, 2, 3, 4, 0, 1, 2, 3, 4, 0]):
        got = _png_decode(_encode_png(gray, filters))
        np.testing.assert_array_equal(got, gray)
    rgb = rng.integers(0, 256, (5, 9, 3), dtype=np.uint8)
    got = _png_decode(_encode_png(rgb, [4, 3, 2, 1, 0]))
    r, g, b = (rgb[:, :, i].astype(np.uint32) for i in range(3))
    # PIL ImagingConvert L24 fixed-point arithmetic, bit-for-bit
    np.testing.assert_array_equal(
        got, ((r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16).astype(np.uint8)
    )
    rgba = rng.integers(0, 256, (4, 4, 4), dtype=np.uint8)
    got = _png_decode(_encode_png(rgba, [0, 1, 2, 4]))
    assert got.shape == (4, 4)


def test_multimodal_real_png_through_spark_pipeline(spark):
    """D9 end-to-end on REAL image bytes: encode distinct PNGs, run them
    through extract_image_features with decode_mode='auto' (PNG magic →
    real decoder), verify per-image dimensions, luma, and histogram."""
    from dask_cuml_spark.operators.multimodal import extract_image_features

    rng = np.random.default_rng(11)
    imgs = {
        1: rng.integers(0, 256, (16, 24), dtype=np.uint8),
        2: rng.integers(0, 256, (8, 8, 3), dtype=np.uint8),
        3: np.full((5, 5), 200, dtype=np.uint8),
    }
    rows = [(k, bytearray(_encode_png(v, [i % 5 for i in range(v.shape[0])])))
            for k, v in imgs.items()]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in extract_image_features(df, decode_mode="auto").collect()
    }
    assert out[1]["width"] == 24 and out[1]["height"] == 16
    np.testing.assert_allclose(out[1]["mean_luma"], imgs[1].mean(), rtol=1e-6)
    assert out[2]["width"] == 8 and out[2]["height"] == 8
    assert out[3]["mean_luma"] == 200.0
    hist = np.histogram(imgs[1], bins=8, range=(0, 256))[0]
    np.testing.assert_allclose(
        out[1]["feature_vec"], (hist / hist.sum()).astype(np.float32), rtol=1e-6
    )


def test_estimator_facades_fit_predict_and_kneighbors(spark):
    """Reference API conveniences (cuml.dask KMeans.fit_predict,
    NearestNeighbors.fit/.kneighbors): facades must equal the functional
    kernels they wrap, and kneighbors_arrays must return the aligned
    (distances, indices) convention."""
    from dask_cuml_spark.operators.kmeans import KMeans
    from dask_cuml_spark.operators.knn import NearestNeighbors, brute_force_knn

    e = load_table(spark, SF, "embeddings")

    km = KMeans(k=4, max_iter=2, tol=0.0)
    via_facade = {
        (r["vec_id"], r["cluster"])
        for r in km.fit_predict(e).select("vec_id", "cluster").collect()
    }
    km2 = KMeans(k=4, max_iter=2, tol=0.0).fit(e)
    via_steps = {
        (r["vec_id"], r["cluster"])
        for r in km2.predict(e).select("vec_id", "cluster").collect()
    }
    assert via_facade == via_steps
    np.testing.assert_allclose(km.cluster_centers_, km2.cluster_centers_)

    nn = NearestNeighbors(n_neighbors=3).fit(e)
    q = e.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rk"]): (r["neighbor_id"], r["dist"])
        for r in nn.kneighbors(q).collect()
    }
    want = {
        (r["query_id"], r["rk"]): (r["neighbor_id"], r["dist"])
        for r in brute_force_knn(
            q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")),
            e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
            k=3,
        ).collect()
    }
    assert got == want

    qids, dist, idx = nn.kneighbors_arrays(q)
    assert list(qids) == [0, 1, 2, 3, 4]
    assert dist.shape == (5, 3) and idx.shape == (5, 3)
    # self is always the nearest neighbor of a fitted point
    np.testing.assert_array_equal(idx[:, 0], qids)
    np.testing.assert_allclose(dist[:, 0], 0.0, atol=1e-6)
    assert (np.diff(dist, axis=1) >= -1e-12).all()

    # Shortfall path (advisor round-4): fewer candidates than k must
    # yield NaN / -1 filled slots, not a reshape error or a silent
    # cross-query misalignment.
    few = e.filter(F.col("vec_id") < 2)
    nn_short = NearestNeighbors(n_neighbors=3).fit(few)
    qids2, dist2, idx2 = nn_short.kneighbors_arrays(q)
    assert dist2.shape == (5, 3) and idx2.shape == (5, 3)
    assert (idx2[:, 2] == -1).all() and np.isnan(dist2[:, 2]).all()
    assert (idx2[:, :2] != -1).all() and not np.isnan(dist2[:, :2]).any()
    # the filled columns still carry the true 2-candidate ranking
    np.testing.assert_array_equal(idx2[0, :2], [0, 1])


def test_q02_eager_agg_both_shapes_agree(spark, monkeypatch):
    """q02's cost-gated join shape must be a pure physical choice:
    forcing any of the three branches yields identical results."""
    import dask_cuml_spark.queries.relational as rel

    monkeypatch.setattr(rel, "_Q02_EAGER_AGG_MIN_ORDERS_BYTES", 1 << 60)
    assert rel.q02_plan_branch(spark, SF) == "direct"
    direct = {tuple(r) for r in rel.q02_revenue_by_nation(spark, SF).collect()}
    monkeypatch.setattr(rel, "_Q02_EAGER_AGG_MIN_ORDERS_BYTES", 0)
    monkeypatch.setattr(rel, "_Q02_BCAST_CMAP_MAX_CUSTOMER_BYTES", 0)
    assert rel.q02_plan_branch(spark, SF) == "eager-agg"
    eager = {tuple(r) for r in rel.q02_revenue_by_nation(spark, SF).collect()}
    monkeypatch.setattr(rel, "_Q02_BCAST_CMAP_MAX_CUSTOMER_BYTES", 1 << 60)
    assert rel.q02_plan_branch(spark, SF) == "bcast-cmap"
    bcast = {tuple(r) for r in rel.q02_revenue_by_nation(spark, SF).collect()}
    assert direct == eager == bcast and len(direct) > 0


def test_q123_vocab_coverage_invariants(spark):
    """Structural truths of coverage sizing: the 95%-vocab is never
    larger than the vocabulary, never empty when tokens exist, and the
    vocab_95 terms do reach >=95% coverage while vocab_95 - 1 terms do
    NOT (tight threshold, integer-exact)."""
    from dask_cuml_spark.queries.text import (
        q123_vocab_coverage,
        tokens,
    )

    rows = {r.lang: r for r in q123_vocab_coverage(spark, SF).collect()}
    assert rows
    d = load_table(spark, SF, "documents")
    tf = (
        d.select("lang", F.explode(tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pdf = tf.toPandas()
    for lang, r in rows.items():
        assert 0 < r.vocab_95 <= r.n_terms
        g = pdf[pdf.lang == lang].sort_values(
            ["cnt", "term"], ascending=[False, True]
        )
        cum = g.cnt.cumsum()
        top = int(cum.iloc[r.vocab_95 - 1])
        assert top * 100 >= r.total_tokens * 95
        if r.vocab_95 > 1:
            assert int(cum.iloc[r.vocab_95 - 2]) * 100 < r.total_tokens * 95


def test_q124_embedding_outliers_invariants(spark):
    """Structural truths of the p99 gate: every vector gets a row,
    flagged count == #dists strictly above the exact interpolated p99
    (≈1% of rows), and every flagged dist exceeds every unflagged."""
    from dask_cuml_spark.queries.vector import q124_embedding_outliers

    pdf = q124_embedding_outliers(spark, SF).toPandas()
    n = load_table(spark, SF, "embeddings").count()
    assert len(pdf) == n
    out = pdf[pdf.is_outlier == 1]
    assert 0 < len(out) <= max(1, int(n * 0.011) + 1)
    assert out.center_dist.min() > pdf[pdf.is_outlier == 0].center_dist.max()


def test_q124_empty_input_gives_empty_typed_frame(spark):
    """No vectors: the in-plan centroid is empty, so the body yields
    zero rows with the query's schema and needs no special case."""
    from dask_cuml_spark.queries.vector import _q124_outliers

    empty = load_table(spark, SF, "embeddings").filter(F.lit(False))
    out = _q124_outliers(empty)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("vec_id", "bigint"),
        ("center_dist", "double"),
        ("is_outlier", "int"),
    ]


def test_q121_gram_layout_branch(spark):
    """r8: with the inverted-index gram layout registered for an
    sf_dir, q121 reads it instead of re-constructing grams, returns
    identical values, and the wide (doc_id, _h) window exchange is
    GONE — the only remaining exchange is the unavoidable doc_id
    aggregate."""
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import build_layout

    plain = {
        tuple(r) for r in T.q121_boilerplate_ngrams(spark, SF).collect()
    }
    build_layout(spark, SF, "grams")
    try:
        d = T.q121_boilerplate_ngrams(spark, SF)
        got = {tuple(r) for r in d.collect()}
        assert got == plain and len(got) > 0
        fin = (
            d._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in fin, fin[:2000]
        assert fin.count("Exchange hashpartitioning") == 1, fin[:2500]
        assert "Exchange hashpartitioning(doc_id" in fin
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {T._gram_table(SF)}")
    # layout dropped → back to the construction branch
    assert not spark.catalog.tableExists(T._gram_table(SF))


def test_q02_bucketed_layout_branch(spark, monkeypatch):
    """r8: with the co-located bucketed layout registered for an sf_dir,
    q02 picks the 'bucketed' branch, returns identical values, and the
    wide lineitem⋈orders join runs with NO exchange on either input
    (the only hashpartitioning exchanges sit above the 25-group agg).
    With customer pushed over the broadcast cap the gate composes the
    layout with the eager-agg shape ('bucketed-eager') instead — same
    values, orderkey rollup/join still off the bucketed scans."""
    import dask_cuml_spark.queries.relational as rel
    from dask_cuml_spark.layouts import build_layout

    plain = {tuple(r) for r in rel.q02_revenue_by_nation(spark, SF).collect()}
    build_layout(spark, SF, "q02")
    try:
        assert rel.q02_plan_branch(spark, SF) == "bucketed"
        d = rel.q02_revenue_by_nation(spark, SF)
        got = {tuple(r) for r in d.collect()}
        assert got == plain and len(got) > 0
        monkeypatch.setattr(rel, "_Q02_BCAST_CMAP_MAX_CUSTOMER_BYTES", 0)
        assert rel.q02_plan_branch(spark, SF) == "bucketed-eager"
        dbe = rel.q02_revenue_by_nation(spark, SF)
        be = {tuple(r) for r in dbe.collect()}
        assert be == plain
        # the composite's point: the per-orderkey rollup AND the wide
        # join run off the bucketed scans — no orderkey exchange at all
        fbe = (
            dbe._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in fbe, fbe[:2000]
        assert "Exchange hashpartitioning(l_orderkey" not in fbe
        assert "Exchange hashpartitioning(o_orderkey" not in fbe
        monkeypatch.setattr(
            rel, "_Q02_BCAST_CMAP_MAX_CUSTOMER_BYTES", 48 << 20
        )
        final = (
            d._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in final, final[:2000]
        # the wide join itself must not shuffle its inputs: at most the
        # two post-agg exchanges (c_nationkey rollup + nation/region
        # rollup) may appear — the plain bcast-cmap plan has a third,
        # the 60 M-row lineitem⋈orders input shuffle this layout kills
        assert final.count("Exchange hashpartitioning") <= 2, final[:2500]
    finally:
        bo, bl = rel._q02_bucket_tables(SF)
        spark.sql(f"DROP TABLE IF EXISTS {bo}")
        spark.sql(f"DROP TABLE IF EXISTS {bl}")
    assert rel.q02_plan_branch(spark, SF) != "bucketed"


def test_q119_gram_layout_branch(spark):
    """r9 (verdict task 3): q119 reads the SAME inverted-index gram
    layout q121 reads — with it registered, the contamination check is
    a bucketed scan + broadcast semi-overlap + one doc_id aggregate,
    value-identical to the construction branch."""
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import build_layout

    plain = {
        tuple(r) for r in T.q119_contamination_check(spark, SF).collect()
    }
    build_layout(spark, SF, "grams")
    try:
        d = T.q119_contamination_check(spark, SF)
        got = {tuple(r) for r in d.collect()}
        assert got == plain and len(got) > 0
        fin = (
            d._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in fin, fin[:2000]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {T._gram_table(SF)}")


def test_q112_stored_index_branch(spark):
    """r9 (verdict task 3): with the corpus LSH index provisioned
    (layouts 'q112'), q112 signs ONLY the new batch and probes the
    stored band/shingle tables — value-identical to the
    derive-in-query branch (signatures are deterministic; shingle-set
    array order never matters downstream)."""
    import dask_cuml_spark.queries.pandas_udfs as P
    from dask_cuml_spark.layouts import build_layout

    plain = {
        tuple(r) for r in P.q112_incremental_dedup(spark, SF).collect()
    }
    build_layout(spark, SF, "q112")
    bt, st = P._q112_index_tables(SF)
    try:
        got = {
            tuple(r) for r in P.q112_incremental_dedup(spark, SF).collect()
        }
        assert got == plain and len(got) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bt}")
        spark.sql(f"DROP TABLE IF EXISTS {st}")


def test_ensure_layouts_idempotent_and_stale_gc(spark, tmp_path):
    """r9 (verdict task 5): ensure_layouts provisions each layout once
    (second call reports 0.0 s — already present under the current
    source fingerprint), and a layout whose source parquet was
    REWRITTEN stops matching (fingerprint tag changes) — the stale
    table is dropped and the layout rebuilt, never silently served."""
    import os
    import shutil

    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import ensure_layouts

    # private fixture copy: the GC leg rewrites documents.parquet
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("documents",):
        shutil.copy(f"{SF}/{t}.parquet", f"{sf}/{t}.parquet")

    first = ensure_layouts(spark, sf, layouts=("grams",))
    assert first["grams"] > 0.0
    tbl1 = T._gram_table(sf)
    assert spark.catalog.tableExists(tbl1)
    again = ensure_layouts(spark, sf, layouts=("grams",))
    assert again["grams"] == 0.0  # idempotent: no rewrite

    # rewrite the source → tag changes → old layout is stale
    shutil.copy(f"{SF}/documents.parquet", f"{sf}/documents.parquet")
    os.utime(f"{sf}/documents.parquet")
    tbl2 = T._gram_table(sf)
    assert tbl2 != tbl1  # fingerprint moved
    assert not spark.catalog.tableExists(tbl2)  # consumers: plain branch
    rebuilt = ensure_layouts(spark, sf, layouts=("grams",))
    assert rebuilt["grams"] > 0.0
    assert spark.catalog.tableExists(tbl2)
    assert not spark.catalog.tableExists(tbl1)  # stale GC'd
    spark.sql(f"DROP TABLE IF EXISTS {tbl2}")


def test_ensure_layouts_steady_state_launches_no_jobs(spark, tmp_path):
    """The per-batch provisioning call of an ingest stream pays no
    Spark job when nothing changed: the stale-GC and the refresh
    detector read the catalog with SHOW TABLES (not listTables, which
    collects a DataFrame: one job plus one per partition, per call), and
    each layout's manifest is a table property read with SHOW
    TBLPROPERTIES (not a sidecar table collected back). After one
    appended part, each refresh reads the batch once with its schema
    taken from the part's footer, so no schema-inference job runs."""
    import os
    import shutil

    import pyarrow.parquet as pq_mod
    from conftest import SF_SMOKE

    import dask_cuml_spark.queries.text as T
    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.benchlib import max_job_id
    from dask_cuml_spark.layouts import (
        ensure_layouts,
        layout_tables,
        refresh_layout,
    )
    from dask_cuml_spark.operators.layout import (
        read_layout_manifest,
        source_files,
    )

    sf = str(tmp_path / "sf")
    for t in ("documents", "embeddings"):
        os.makedirs(f"{sf}/{t}.parquet")
        shutil.copy(
            f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet/part-0.parquet"
        )
    three = ("grams", "signs", "cms")
    first = ensure_layouts(spark, sf, layouts=three)
    assert all(first[n] > 0.0 for n in three)
    tables = {
        "documents.parquet": (T._gram_table(sf), T._cms_tables(sf)[0]),
        "embeddings.parquet": V._sig_tables(sf),
    }

    j0 = max_job_id(spark)
    again = ensure_layouts(spark, sf, layouts=three)
    assert max_job_id(spark) == j0
    assert again == {n: 0.0 for n in three}

    j0 = max_job_id(spark)
    got = {
        t: read_layout_manifest(spark, t)
        for ts in tables.values()
        for t in ts
    }
    assert max_job_id(spark) == j0
    for src, ts in tables.items():
        for t in ts:
            assert got[t] == source_files(sf, src), t

    for t in ("documents", "embeddings"):
        part = pq_mod.read_table(f"{SF_SMOKE}/{t}.parquet").slice(0, 100)
        pq_mod.write_table(part, f"{sf}/{t}.parquet/part-1.parquet")
    # grams, signs and cms refreshes ran 4, 5 and 3 jobs when the batch
    # schema was inferred; signs also probes the embedding width with
    # one job over the whole source, whose load reads a footer schema
    for name, most in (("grams", 3), ("signs", 3), ("cms", 2)):
        j0 = max_job_id(spark)
        inc = refresh_layout(spark, sf, name)
        jobs = max_job_id(spark) - j0
        assert inc is not None and inc > 0.0 and jobs <= most, (name, jobs)
        assert ensure_layouts(spark, sf, layouts=(name,)) == {name: 0.0}
        for t in layout_tables(name, sf):
            assert spark.catalog.tableExists(t), t
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_layout_manifest_property_round_trip(spark, tmp_path):
    """The source-file manifest is a property of the layout's primary
    table: it equals source_files() after a full build, the renamed
    new-tag table carries the grown manifest after an append, a table
    without it falls back to the full rebuild, and part-file names the
    SQL text must escape (quote, backslash, '${...}') round-trip."""
    import os

    import pyarrow.parquet as pq_mod
    from conftest import SF_SMOKE

    import dask_cuml_spark.layouts as L
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import ensure_layouts, refresh_layout
    from dask_cuml_spark.operators.layout import (
        MANIFEST_PROPERTY,
        drop_table_and_location,
        read_layout_manifest,
        source_files,
        write_layout_manifest,
    )

    sf = str(tmp_path / "sf")
    ddir = os.path.join(sf, "documents.parquet")
    os.makedirs(ddir)
    t = pq_mod.read_table(f"{SF_SMOKE}/documents.parquet")
    pq_mod.write_table(t.slice(0, 300), os.path.join(ddir, "part-0.parquet"))

    assert ensure_layouts(spark, sf, layouts=("grams",))["grams"] > 0.0
    tbl1 = T._gram_table(sf)
    assert read_layout_manifest(spark, tbl1) == source_files(
        sf, "documents.parquet"
    )

    # append + rename: the new-tag table carries the grown manifest
    pq_mod.write_table(
        t.slice(300, 100), os.path.join(ddir, "part-1.parquet")
    )
    assert ensure_layouts(spark, sf, layouts=("grams",))["grams"] > 0.0
    tbl2 = T._gram_table(sf)
    assert not spark.catalog.tableExists(tbl1)
    grown = source_files(sf, "documents.parquet")
    assert len(grown) == 2 and read_layout_manifest(spark, tbl2) == grown

    # no manifest → no fast path → the full writer rebuilds
    spark.sql(
        f"ALTER TABLE {tbl2} UNSET TBLPROPERTIES ('{MANIFEST_PROPERTY}')"
    )
    assert read_layout_manifest(spark, tbl2) is None
    pq_mod.write_table(t.slice(400), os.path.join(ddir, "part-2.parquet"))
    assert refresh_layout(spark, sf, "grams") is None
    calls = []
    real = L.build_layout

    def _spy(sp, sd, name):
        calls.append(sd)
        return real(sp, sd, name)

    L.build_layout = _spy
    try:
        assert ensure_layouts(spark, sf, layouts=("grams",))["grams"] > 0.0
    finally:
        L.build_layout = real
    assert calls == [sf]
    tbl3 = T._gram_table(sf)
    assert read_layout_manifest(spark, tbl3) == source_files(
        sf, "documents.parquet"
    )
    stored = sorted(map(tuple, spark.table(tbl3).collect()))
    fresh = sorted(map(tuple, T._positioned_grams(spark, sf).collect()))
    assert stored == fresh and len(stored) > 0
    spark.sql(f"DROP TABLE IF EXISTS {tbl3}")

    # names that need escaping in the ALTER TABLE statement's text
    odd = str(tmp_path / "odd")
    os.makedirs(os.path.join(odd, "t.parquet"))
    names = ("it's.parquet", "back\\slash.parquet", "${spark.app.name}.parquet")
    for i, n in enumerate(names):
        with open(os.path.join(odd, "t.parquet", n), "w") as fh:
            fh.write("x" * (i + 1))
    probe = "dcs_manifest_probe"
    drop_table_and_location(spark, probe)
    spark.range(1).write.saveAsTable(probe)
    try:
        write_layout_manifest(spark, odd, "t.parquet", probe)
        want = source_files(odd, "t.parquet")
        assert {os.path.basename(f) for f in want} == set(names)
        assert read_layout_manifest(spark, probe) == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {probe}")


def test_get_spark_puts_package_on_worker_path(tmp_path):
    """A driver that imports the package by sys.path from a working
    directory outside the repository (no PYTHONPATH) must still run
    pandas-UDF queries: their closures reference this package, so the
    Python workers must be able to import it."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {repo!r})
            from dask_cuml_spark.operators.binhash import (
                hyperplanes,
                sign_signatures,
            )
            from dask_cuml_spark.session import get_spark

            spark = get_spark("worker-path", master="local[1]",
                              shuffle_partitions=1)
            df = spark.createDataFrame(
                [(1, [1.0, -1.0])], "vec_id long, embedding array<double>"
            )
            rows = sign_signatures(
                df, "vec_id", "embedding", hyperplanes(64, 2)
            ).collect()
            spark.stop()
            print("rows", len(rows))
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    r = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0 and "rows 1" in r.stdout, r.stderr[-4000:]


def test_gram_layout_incremental_refresh(spark, tmp_path):
    """r13 (verdict task 4): an APPEND-ONLY source change (new part
    files, old files bit-unchanged) refreshes the grams layout by
    writing ONLY the new docs' positioned grams into the existing
    bucketed table and renaming it to the new fingerprint tag —
    Θ(|new batch|), the q112 posture. Stored ≡ plain must hold on the
    incremental table exactly as on a full build, and the bucket spec
    must survive the append (consumers stay exchange-free)."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import ensure_layouts

    sf = str(tmp_path / "sf")
    ddir = os.path.join(sf, "documents.parquet")
    os.makedirs(ddir)
    t = pq_mod.read_table(f"{SF}/documents.parquet")
    pq_mod.write_table(t.slice(0, 300), os.path.join(ddir, "part-0.parquet"))

    first = ensure_layouts(spark, sf, layouts=("grams",))
    assert first["grams"] > 0.0
    tbl1 = T._gram_table(sf)
    assert spark.catalog.tableExists(tbl1)

    # append-only ingest: a NEW part file, part-0 untouched
    pq_mod.write_table(
        t.slice(300), os.path.join(ddir, "part-1.parquet")
    )
    tbl2 = T._gram_table(sf)
    assert tbl2 != tbl1 and not spark.catalog.tableExists(tbl2)
    inc = ensure_layouts(spark, sf, layouts=("grams",))
    assert inc["grams"] > 0.0
    assert spark.catalog.tableExists(tbl2)  # renamed to the new tag
    assert not spark.catalog.tableExists(tbl1)
    # stored ≡ plain on the incremental table (bit-identity, the same
    # pin every layout carries on full builds)
    stored = sorted(map(tuple, spark.table(tbl2).collect()))
    fresh = sorted(map(tuple, T._positioned_grams(spark, sf).collect()))
    assert stored == fresh and len(stored) > 0
    # bucket spec survived the append + rename
    spec = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl2}").collect()
    }
    assert spec.get("Num Buckets") == str(T._Q121_BUCKETS)
    # consumer frame identical through the layout branch
    via_layout = sorted(map(tuple, T._gram_pairs(spark, sf).collect()))
    plain = sorted(map(tuple, T._q121_hashed_grams(spark, sf).collect()))
    assert via_layout == plain
    # idempotent after refresh
    assert ensure_layouts(spark, sf, layouts=("grams",))["grams"] == 0.0
    spark.sql(f"DROP TABLE IF EXISTS {tbl2}")


def test_signs_layout_incremental_refresh(spark, tmp_path):
    """The grams incremental mechanism generalized (r13): an
    append-only embeddings ingest refreshes the binary signature index
    by GEMM-hashing ONLY the new vectors and appending — stored ≡
    fresh bit-identity must hold on the incremental table (planes are
    seed-derived, so old and new rows share one derivation by
    construction)."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.operators.binhash import (
        hyperplanes,
        sign_signatures,
    )
    from dask_cuml_spark.io import load_table as lt

    sf = str(tmp_path / "sf")
    edir = os.path.join(sf, "embeddings.parquet")
    os.makedirs(edir)
    t = pq_mod.read_table(f"{SF}/embeddings.parquet")
    pq_mod.write_table(t.slice(0, 300), os.path.join(edir, "part-0.parquet"))

    first = ensure_layouts(spark, sf, layouts=("signs",))
    assert first["signs"] > 0.0
    (tbl1,) = V._sig_tables(sf)
    assert spark.catalog.tableExists(tbl1)

    pq_mod.write_table(t.slice(300), os.path.join(edir, "part-1.parquet"))
    (tbl2,) = V._sig_tables(sf)
    assert tbl2 != tbl1 and not spark.catalog.tableExists(tbl2)
    inc = ensure_layouts(spark, sf, layouts=("signs",))
    assert inc["signs"] > 0.0
    assert spark.catalog.tableExists(tbl2)
    assert not spark.catalog.tableExists(tbl1)
    # stored ≡ fresh on the full corpus, bit-identical
    e = lt(spark, sf, "embeddings").select("vec_id", "embedding")
    dim = len(e.filter(F.col("embedding").isNotNull()).first()["embedding"])
    fresh = sorted(
        map(
            tuple,
            sign_signatures(
                e, "vec_id", "embedding", hyperplanes(128, dim, 7)
            ).collect(),
        )
    )
    stored = sorted(map(tuple, spark.table(tbl2).collect()))
    assert [(r[0], list(r[1])) for r in stored] == [
        (r[0], list(r[1])) for r in fresh
    ] and len(stored) > 0
    # idempotent after refresh
    assert ensure_layouts(spark, sf, layouts=("signs",))["signs"] == 0.0
    spark.sql(f"DROP TABLE IF EXISTS {tbl2}")


def test_ensure_layouts_heals_partial_multitable(spark, tmp_path):
    """advisor r13 (medium): a multi-table layout left PARTIALLY built
    (pq codes present, model sidecar missing — an interrupted build)
    must be healed by the full writer on the next ensure_layouts call.
    The incremental detector's 0.0 early-return attests only the
    primary table, so honoring it blindly left the layout broken
    forever with consumers silently on the plain branch."""
    import os
    import shutil

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.layouts import ensure_layouts

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        f"{sf}/embeddings.parquet",
    )

    first = ensure_layouts(spark, sf, layouts=("pq",))
    assert first["pq"] > 0.0
    codes_tbl, model_tbl = V._pq_tables(sf)
    assert spark.catalog.tableExists(codes_tbl)
    assert spark.catalog.tableExists(model_tbl)

    # simulate the interrupted build: sidecar gone, codes present
    spark.sql(f"DROP TABLE {model_tbl}")
    healed = ensure_layouts(spark, sf, layouts=("pq",))
    assert healed["pq"] > 0.0  # NOT 0.0 — the writer re-ran
    assert spark.catalog.tableExists(codes_tbl)
    assert spark.catalog.tableExists(model_tbl)
    # the healed layout actually serves: stored codes come back
    _cb, _ct, coded, from_layout = V._pq_serving(spark, sf)
    assert from_layout and coded.count() > 0
    for t in (codes_tbl, model_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_refresh_unknown_append_rebuilds(spark, tmp_path):
    """advisor r13: an appended source file WITHOUT the .parquet suffix
    (Spark's reader picks up any non-marker file, extension or not)
    must force a full rebuild — the old fast path skipped it from the
    append list while the manifest recorded it as consumed, silently
    and permanently excluding its rows from the layout. Write markers
    (_SUCCESS, .crc dotfiles) must NOT force a rebuild."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import ensure_layouts, refresh_layout

    sf = str(tmp_path / "sf")
    ddir = os.path.join(sf, "documents.parquet")
    os.makedirs(ddir)
    t = pq_mod.read_table(f"{SF}/documents.parquet")
    pq_mod.write_table(t.slice(0, 300), os.path.join(ddir, "part-0.parquet"))
    first = ensure_layouts(spark, sf, layouts=("grams",))
    assert first["grams"] > 0.0

    # marker-only append: the incremental path still applies (no data)
    open(os.path.join(ddir, "_SUCCESS"), "w").close()
    tbl_m = T._gram_table(sf)
    inc = refresh_layout(spark, sf, "grams")
    assert inc is not None  # markers tolerated, not rebuild territory
    assert spark.catalog.tableExists(tbl_m)

    # hidden ".parquet" append: Spark's directory readers IGNORE
    # dotfiles, so its rows must never enter the layout either —
    # treated as a marker (incremental still applies, rows excluded),
    # keeping stored ≡ plain (r14 self-review)
    pq_mod.write_table(
        t.slice(0, 5), os.path.join(ddir, ".hidden.parquet")
    )
    tbl_h = T._gram_table(sf)
    assert refresh_layout(spark, sf, "grams") is not None
    assert spark.catalog.tableExists(tbl_h)
    stored_h = sorted(map(tuple, spark.table(tbl_h).collect()))
    fresh_h = sorted(map(tuple, T._positioned_grams(spark, sf).collect()))
    assert stored_h == fresh_h

    # data append WITHOUT the .parquet suffix: parquet bytes Spark will
    # read, invisible to the suffix-filtered append list → must refuse
    # the fast path so the rebuild picks the rows up
    pq_mod.write_table(t.slice(300, 100), os.path.join(ddir, "part-1.data"))
    assert refresh_layout(spark, sf, "grams") is None
    rebuilt = ensure_layouts(spark, sf, layouts=("grams",))
    assert rebuilt["grams"] > 0.0
    tbl2 = T._gram_table(sf)
    stored = sorted(map(tuple, spark.table(tbl2).collect()))
    fresh = sorted(map(tuple, T._positioned_grams(spark, sf).collect()))
    # the .data rows are IN the layout (old behavior lost them forever)
    assert stored == fresh and len(stored) > 0
    n_docs = load_table(spark, sf, "documents").count()
    assert n_docs == 400  # Spark read the extension-less part too
    spark.sql(f"DROP TABLE IF EXISTS {tbl2}")


def test_pq_layout_incremental_refresh(spark, tmp_path):
    """FAISS IndexIVFPQ.add() semantics (r13): an append-only
    embeddings ingest encodes ONLY the new vectors with the EXISTING
    codebooks/centroids from the stored model sidecar (add() never
    retrains) and appends into the bucketed codes table; the sidecar
    rides to the new tag with its content untouched. Pin: the
    refreshed table ≡ same-model encode of the full corpus (NOT a
    from-scratch rebuild, which would refit), and the bucket spec
    survives."""
    import os

    import numpy as np
    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.io import load_table as lt
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.operators.quantize import (
        _assignment_expr_on,
        pq_encode,
    )

    sf = str(tmp_path / "sf")
    edir = os.path.join(sf, "embeddings.parquet")
    os.makedirs(edir)
    t = pq_mod.read_table(f"{SF}/embeddings.parquet")
    pq_mod.write_table(t.slice(0, 300), os.path.join(edir, "part-0.parquet"))

    first = ensure_layouts(spark, sf, layouts=("pq",))
    assert first["pq"] > 0.0
    codes1, model1 = V._pq_tables(sf)
    assert spark.catalog.tableExists(codes1)
    # the model snapshot BEFORE the ingest — add() must not change it
    model_rows = sorted(map(tuple, spark.table(model1).collect()))

    pq_mod.write_table(t.slice(300), os.path.join(edir, "part-1.parquet"))
    codes2, model2 = V._pq_tables(sf)
    assert codes2 != codes1 and not spark.catalog.tableExists(codes2)
    inc = ensure_layouts(spark, sf, layouts=("pq",))
    assert inc["pq"] > 0.0
    assert spark.catalog.tableExists(codes2)
    assert spark.catalog.tableExists(model2)
    assert not spark.catalog.tableExists(codes1)
    assert not spark.catalog.tableExists(model1)
    # sidecar content untouched by the refresh
    assert sorted(map(tuple, spark.table(model2).collect())) == model_rows
    # stored-incremental ≡ same-model encode of the FULL corpus
    mr = spark.table(model2).collect()
    pqr = sorted((r for r in mr if r.kind == "pq"), key=lambda r: (r.s, r.j))
    iv = sorted((r for r in mr if r.kind == "ivf"), key=lambda r: r.j)
    codebooks = [
        np.array([r.center for r in pqr if r.s == s])
        for s in range(max(r.s for r in pqr) + 1)
    ]
    centers = np.array([r.center for r in iv])
    e = lt(spark, sf, "embeddings").select("vec_id", "embedding")
    fresh = (
        pq_encode(e, codebooks)
        .select(
            "vec_id",
            _assignment_expr_on(F.col("embedding"), centers).alias(
                "cell_id"
            ),
            "codes",
        )
        .collect()
    )
    norm = lambda rows: sorted((r.vec_id, r.cell_id, tuple(r.codes)) for r in rows)  # noqa: E731
    assert norm(spark.table(codes2).collect()) == norm(fresh)
    assert ensure_layouts(spark, sf, layouts=("pq",))["pq"] == 0.0
    for tbl in (codes2, model2):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_q02_layout_incremental_refresh(spark, tmp_path):
    """The simplest incremental consumer (r13): an append-only fact
    ingest (new orders AND lineitem part files) appends only those
    rows into the bucketed tables and renames both to the new combined
    fingerprint tag. Stored ≡ source row sets must hold, the bucket
    spec must survive, and a grown single source also refreshes."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.relational as R
    from dask_cuml_spark.layouts import ensure_layouts

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("orders", "lineitem"):
        os.makedirs(os.path.join(sf, f"{t}.parquet"))
        full = pq_mod.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq_mod.write_table(
            full.slice(0, len(full) // 2),
            os.path.join(sf, f"{t}.parquet", "part-0.parquet"),
        )

    first = ensure_layouts(spark, sf, layouts=("q02",))
    assert first["q02"] > 0.0
    bo1, bl1 = R._q02_bucket_tables(sf)
    assert spark.catalog.tableExists(bo1)

    for t in ("orders", "lineitem"):
        full = pq_mod.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq_mod.write_table(
            full.slice(len(full) // 2),
            os.path.join(sf, f"{t}.parquet", "part-1.parquet"),
        )
    bo2, bl2 = R._q02_bucket_tables(sf)
    assert bo2 != bo1 and not spark.catalog.tableExists(bo2)
    inc = ensure_layouts(spark, sf, layouts=("q02",))
    assert inc["q02"] > 0.0
    for tbl in (bo2, bl2):
        assert spark.catalog.tableExists(tbl), tbl
    for tbl in (bo1, bl1):
        assert not spark.catalog.tableExists(tbl), tbl
    # stored ≡ source rows after the append (row-set equality)
    for t, tbl in (("orders", bo2), ("lineitem", bl2)):
        src = sorted(
            map(tuple, spark.read.parquet(f"{sf}/{t}.parquet").collect())
        )
        got = sorted(map(tuple, spark.table(tbl).collect()))
        assert got == src and len(got) > 0, t
    assert ensure_layouts(spark, sf, layouts=("q02",))["q02"] == 0.0
    for tbl in (bo2, bl2):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_pack_layout_incremental_refresh_and_interleave_fallback(
    spark, tmp_path
):
    """The packing manifest is a global prefix sum in doc_id order, so
    the r13 incremental path applies ONLY when appended ids sort
    strictly after every packed one (stream grows as a suffix): then
    old placements are untouched and new ones are the batch's prefix
    sum shifted by the packed-token total — stored ≡ plain full
    recompute, bit-for-bit. Interleaved ids must fall back to the full
    rebuild (IncrementalNotApplicable is raised BEFORE any write)."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import ensure_layouts

    t = pq_mod.read_table(f"{SF}/documents.parquet").sort_by("doc_id")

    # --- suffix-stable append: incremental
    sf = str(tmp_path / "sf")
    ddir = os.path.join(sf, "documents.parquet")
    os.makedirs(ddir)
    pq_mod.write_table(t.slice(0, 300), os.path.join(ddir, "part-0.parquet"))
    assert ensure_layouts(spark, sf, layouts=("pack",))["pack"] > 0.0
    (tbl1,) = T._pack_tables(sf)
    rows_before = {
        r.doc_id: tuple(r) for r in spark.table(tbl1).collect()
    }
    pq_mod.write_table(t.slice(300), os.path.join(ddir, "part-1.parquet"))
    (tbl2,) = T._pack_tables(sf)
    assert tbl2 != tbl1
    assert ensure_layouts(spark, sf, layouts=("pack",))["pack"] > 0.0
    assert spark.catalog.tableExists(tbl2)
    assert not spark.catalog.tableExists(tbl1)
    stored = {r.doc_id: tuple(r) for r in spark.table(tbl2).collect()}
    # old placements bit-unchanged, and the whole table equals a plain
    # full recompute on the grown corpus
    for d, row in rows_before.items():
        assert stored[d] == row, d
    fresh = {
        r.doc_id: tuple(r)
        for r in T._placements_plain(spark, sf).collect()
    }
    assert stored == fresh
    assert ensure_layouts(spark, sf, layouts=("pack",))["pack"] == 0.0
    spark.sql(f"DROP TABLE IF EXISTS {tbl2}")

    # --- interleaved ids: precondition fails pre-write → full rebuild
    sf2 = str(tmp_path / "sf2")
    ddir2 = os.path.join(sf2, "documents.parquet")
    os.makedirs(ddir2)
    pq_mod.write_table(
        t.slice(300), os.path.join(ddir2, "part-0.parquet")
    )  # HIGH ids first
    assert ensure_layouts(spark, sf2, layouts=("pack",))["pack"] > 0.0
    pq_mod.write_table(
        t.slice(0, 300), os.path.join(ddir2, "part-1.parquet")
    )  # then LOW ids appended — interleaves the stream order
    assert ensure_layouts(spark, sf2, layouts=("pack",))["pack"] > 0.0
    (tbl3,) = T._pack_tables(sf2)
    got = {r.doc_id: tuple(r) for r in spark.table(tbl3).collect()}
    want = {
        r.doc_id: tuple(r)
        for r in T._placements_plain(spark, sf2).collect()
    }
    assert got == want and len(got) == t.num_rows
    spark.sql(f"DROP TABLE IF EXISTS {tbl3}")


# ---------------------------------------------------------------------------
# langid operators (round 5): sampled-profile determinism + classify
# contract (operators/langid.py).
# ---------------------------------------------------------------------------
def test_langid_sampled_profile_deterministic_and_full_equiv(spark):
    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.langid import build_profiles, char_ngrams

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    tri = char_ngrams(d, "text", n=3, keep_cols=("doc_id", "lang"))
    # full-rate sample (2^20 ppm) must equal the unsampled profile —
    # the scale path degrades to identity when the sample covers all.
    full = build_profiles(tri, "lang", topk=20)
    sampled_all = build_profiles(tri, "lang", topk=20, sample_ppm=1 << 20)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, sampled_all.collect())
    )
    # half-rate sample is bit-reproducible across invocations (hash
    # predicate, no RNG) and keeps the (label, ngram) schema.
    s1 = sorted(map(tuple, build_profiles(tri, "lang", topk=20, sample_ppm=1 << 19).collect()))
    s2 = sorted(map(tuple, build_profiles(tri, "lang", topk=20, sample_ppm=1 << 19).collect()))
    assert s1 == s2 and len(s1) > 0


def test_langid_classify_score_and_default_contract(spark):
    from dask_cuml_spark.operators.langid import (
        build_profiles,
        char_ngrams,
        classify,
    )

    rows = [
        (0, "aaaa bbbb", "x"),
        (1, "aaaa aaaa", "x"),
        (2, "cccc dddd", "y"),
        (3, "zz", "y"),  # shorter than n=4 → no ngrams → absent from preds
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    tri = char_ngrams(d, "text", n=4, keep_cols=("doc_id", "lang"))
    prof = build_profiles(tri, "lang", topk=3)
    preds = {r.doc_id: (r.lang_pred, r.score) for r in classify(tri, prof).collect()}
    assert preds[1][0] == "x"  # pure-a doc hits x's profile hardest
    assert 3 not in preds  # too-short doc: caller coalesces to default
    assert all(s > 0 for _, s in preds.values())


def test_langid_classify_strategies_agree(spark):
    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.langid import (
        build_profiles,
        char_ngrams,
        classify,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    tri = char_ngrams(d, "text", n=3, keep_cols=("doc_id", "lang"))
    prof = build_profiles(tri, "lang", topk=50)
    a = sorted(map(tuple, classify(tri, prof, strategy="join").collect()))
    b = sorted(map(tuple, classify(tri, prof, strategy="pivot").collect()))
    assert a == b and len(a) > 0


def test_resize_images_roundtrip(spark):
    """resize_images must decode real PNG bytes, nearest-neighbor
    downsample on the deterministic integer grid, and re-encode PNGs the
    pure-Python decoder inverts — end-to-end through mapInPandas."""
    from dask_cuml_spark.operators.multimodal import (
        _png_decode,
        resize_images,
    )

    rng = np.random.default_rng(7)
    imgs = {i: rng.integers(0, 256, (12, 9), dtype=np.uint8) for i in range(4)}
    rows = [(i, bytearray(_encode_png(a))) for i, a in imgs.items()]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    out = {r.doc_id: r for r in resize_images(df, 4, 5).collect()}
    assert set(out) == set(imgs)
    for i, arr in imgs.items():
        r = out[i]
        assert (r.width, r.height) == (4, 5)
        got = _png_decode(bytes(r.payload))
        ys = (np.arange(5) * 12) // 5
        xs = (np.arange(4) * 9) // 4
        assert np.array_equal(got, arr[ys][:, xs])


def test_resize_images_rejects_non_png_loudly(spark):
    """Tripwire (verdict r5 #8): a non-PNG payload through resize_images
    must FAIL, not silently resize the deterministic stub — the decode
    branch chooser is the last place a fixture change could silently
    change semantics. The stub stays available as an explicit opt-in."""
    import pytest

    from dask_cuml_spark.operators.multimodal import resize_images

    rows = [(0, bytearray(b"definitely not a PNG payload"))]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    with pytest.raises(Exception, match="non-PNG payload in strict decode"):
        resize_images(df, 4, 4).collect()
    # explicit opt-in still works (schema/plumbing unchanged)
    out = resize_images(df, 4, 4, strict=False).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (4, 4)


def test_ensure_worker_code_ships_package_zip(spark):
    """The driver contract must work from ANY cwd: queries() wraps every
    callable with ensure_worker_code, which ships the package to executor
    Python workers via addPyFile (q108's grouped-GEMM kernel failed to
    unpickle on workers when the driver ran outside /root/repo).
    Idempotent per application."""
    import os
    import tempfile

    from dask_cuml_spark.session import _SHIPPED, ensure_worker_code

    ensure_worker_code(spark)
    key = spark.sparkContext.applicationId
    assert key in _SHIPPED
    zpath = os.path.join(tempfile.gettempdir(), f"dcs_pkg_{key}.zip")
    assert os.path.exists(zpath)
    import zipfile

    with zipfile.ZipFile(zpath) as z:
        names = z.namelist()
    assert "dask_cuml_spark/operators/gemm.py" in names
    ensure_worker_code(spark)  # second call: no error, still shipped


def test_ivf_search_strategies_agree(spark):
    """The cogrouped-GEMM distance path must reproduce the expression
    path's exact (dist², id)-ordered top-k, ties included — per-cell
    pruning at the k-th boundary is the subtle part."""
    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.ivf import IVFIndex
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    idx = IVFIndex(n_cells=4, kmeans_iters=2).fit(e)
    a = sorted(
        map(tuple, idx.search(q, 4, 4, strategy="expr")
            .select("query_id", "neighbor_id", "rk").collect())
    )
    b = sorted(
        map(tuple, idx.search(q, 4, 4, strategy="gemm")
            .select("query_id", "neighbor_id", "rk").collect())
    )
    assert a == b and len(a) > 0


def test_q113_pattern_portable_across_engines(spark):
    """q113's oracle parity rests on Java regex (Spark) and RE2 (DuckDB)
    producing identical leftmost-greedy matches for the BPE-ish pattern.
    The fixture is lowercase+space today; this tripwire proves the
    equivalence over digits, punctuation, uppercase and unicode too, so
    a fixture regeneration cannot silently split the engines."""
    import duckdb

    from dask_cuml_spark.queries.text import _Q113_PAT

    texts = [
        "",
        "plain words here",
        "numbers 123 mixed456with letters",
        "punct! marks? and--dashes",
        "UPPER Case MiXeD",
        "unicode héllo wörld 中文 text",
        "a" * 9 + " " + "b" * 3,
        "  leading and  double  spaces ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got_spark = {
        r.i: list(r.toks)
        for r in df.select(
            "i", F.regexp_extract_all("t", F.lit(_Q113_PAT), 0).alias("toks")
        ).collect()
    }
    con = duckdb.connect()
    got_duck = {
        i: con.execute(
            "SELECT regexp_extract_all(?, ?)", [t, _Q113_PAT]
        ).fetchone()[0]
        for i, t in enumerate(texts)
    }
    assert got_spark == got_duck


def test_q114_trigrams_portable_across_engines(spark):
    """q114's parity needs substring (Spark) and substr+generate_series
    (DuckDB) to agree on code-point indexing — including multi-byte
    UTF-8, where byte-based slicing would diverge."""
    import duckdb

    from dask_cuml_spark.operators.langid import char_ngrams

    texts = ["abcd", "héllo wörld", "中文文本测试", "ab", "ñaña", "aé中b"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "t"])
    got_spark = sorted(
        (r.doc_id, r.ngram)
        for r in char_ngrams(df, "t", n=3, keep_cols=("doc_id",)).collect()
    )
    con = duckdb.connect()
    got_duck = sorted(
        (i, g)
        for i, t in enumerate(texts)
        for (g,) in con.execute(
            "SELECT UNNEST(list_transform(generate_series(1, length(?)-2),"
            " i -> substr(?, CAST(i AS INT), 3)))",
            [t, t],
        ).fetchall()
    )
    assert got_spark == got_duck


def test_hashed_shingles_jaccard_equals_string_shingles(spark):
    """hashed_shingles replaces shingle STRINGS with word-tuple hashes;
    the contract is that pairwise Jaccard is unchanged — including the
    subtle cases: documents shorter than n words (single whole-text
    shingle via xxhash64's trailing-NULL skip), repeated shingles
    (set semantics), and empty-ish docs."""
    from itertools import combinations

    from dask_cuml_spark.operators.dedup import hashed_shingles, shingles

    rows = [
        (0, "a b c d e"),
        (1, "a b c d e"),          # exact dup of 0
        (2, "b c d e f"),          # overlapping shingles
        (3, "a b"),                # shorter than n=3 → one shingle
        (4, "a b"),                # dup of the short doc
        (5, "x"),                  # single word
        (6, "a b c a b c a b c"),  # repeated shingles → set semantics
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def pairwise(frame):
        sets = {
            r.doc_id: frozenset(r.shingles) for r in frame.collect()
        }
        return {
            (i, j): len(sets[i] & sets[j]) / len(sets[i] | sets[j])
            for i, j in combinations(sorted(sets), 2)
        }

    via_strings = pairwise(shingles(df, "text", 3).select("doc_id", "shingles"))
    via_hashes = pairwise(hashed_shingles(df, "text", 3).select("doc_id", "shingles"))
    assert via_strings == via_hashes


def test_binary_file_source_feeds_multimodal_decode(spark, tmp_path):
    """End-to-end ingestion: binaryFile source → decode/resize — the
    actual on-disk shape of a multimodal corpus (one payload per file),
    with extension-glob pruning at the listing level."""
    from dask_cuml_spark.operators.multimodal import (
        _png_decode,
        resize_images,
    )
    from dask_cuml_spark.sources.formats import (
        read_binary_files,
        read_text_lines,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    imgs = {i: rng.integers(0, 256, (8, 6), dtype=np.uint8) for i in range(3)}
    for i, a in imgs.items():
        (tmp_path / f"img_{i}.png").write_bytes(_encode_png(a))
    (tmp_path / "notes.txt").write_text("not an image\n")

    files = read_binary_files(spark, str(tmp_path), glob="*.png")
    assert files.count() == 3  # the .txt never enters the scan
    payloads = files.select(
        F.regexp_extract("path", r"img_(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    out = {r.doc_id: r for r in resize_images(payloads, 3, 4).collect()}
    assert set(out) == set(imgs)
    ys = (np.arange(4) * 8) // 4
    xs = (np.arange(3) * 6) // 3
    for i, a in imgs.items():
        assert np.array_equal(_png_decode(bytes(out[i].payload)), a[ys][:, xs])

    lines = read_text_lines(spark, str(tmp_path / "notes.txt"))
    assert [r.value for r in lines.collect()] == ["not an image"]


def test_stream_upsert_sink_replay_past_committed_noop(spark):
    """r8 regression (found by bench_upsert_sink_stream's 100× replay):
    re-streaming an already-applied source into the SAME table from a
    FRESH checkpoint makes every merge_batch hit the monotone replay
    guard. The skipped batch must still be CONSUMED — Spark 4.x
    validates that every state-store partition of the upstream stateful
    agg committed, and an early return without touching batch_df kills
    the query with STATE_STORE_COMMIT_VALIDATION_FAILED. The guard
    drains via the noop writer; this pins: query completes, every batch
    no-ops, pointer and table rows are unchanged."""
    import shutil
    import tempfile

    from dask_cuml_spark.streaming.upsert_sink import (
        _committed,
        init_table,
        merge_batch,
        read_committed,
    )

    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    root = tempfile.mkdtemp(prefix="dcs_upsert_replay_")
    try:
        seed = (
            spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value"),
            )
        )
        init_table(spark, root, seed, "user_id")
        # fast-forward the pointer past any batch id this stream can
        # produce, so EVERY foreachBatch call takes the replay path
        fake = spark.createDataFrame([], seed.schema)
        merge_batch(spark, root, fake, 41, "user_id",
                    ["n_events", "total_value"])
        ptr = _committed(root)
        rows = {tuple(r) for r in read_committed(spark, root).collect()}

        def sink(batch_df, batch_id):
            merge_batch(spark, root, batch_df, batch_id,
                        "user_id", ["n_events", "total_value"])

        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        totals = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                totals.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()  # crashed pre-fix
        assert _committed(root) == ptr
        got = {tuple(r) for r in read_committed(spark, root).collect()}
        assert got == rows and len(got) > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_upsert_sink_replay_idempotent(spark):
    """The exactly-once merge sink's guarantee is idempotent replays: a
    batch re-executed after a failure (write landed, checkpoint commit
    did not) must rewrite the same version from the same input and
    converge to the same table. Two full runs — fresh checkpoints, so
    batch 0 genuinely replays — must produce identical tables, and the
    seeded stale rows (-1 totals for user_id < 50) must ALL have been
    updated by the merge, proving the update path ran."""
    from dask_cuml_spark.streaming.upsert_sink import stream_upsert_totals

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in stream_upsert_totals(spark, sf).collect()]
    b = [tuple(r) for r in stream_upsert_totals(spark, sf).collect()]
    assert a == b and len(a) > 0
    assert all(r[1] > 0 for r in a), "stale seed rows must be overwritten"


def test_matrix_lit_bit_exact_roundtrip(spark):
    """matrix_lit is load-bearing for every centroid-assignment path
    (kmeans/_assignment_expr, IVF probes, q41): its repr→SQL-parse
    round trip must be BIT-exact for doubles, including denormals and
    values with no short decimal form — a lossy literal would silently
    shift assignment boundaries and break oracle parity."""
    from dask_cuml_spark.functions.vector import matrix_lit

    vals = [
        [1e-300, -1.5e5, 0.1, 123456789.123456789],
        [5e-324, 0.0, -0.0, 2.0 ** 1023],
        [1 / 3, -7.23e-12, 3.141592653589793, 1e308],
    ]
    got = spark.range(1).select(matrix_lit(vals).alias("m")).collect()[0].m
    for row_got, row_want in zip(got, vals):
        for g, w in zip(row_got, row_want):
            assert g == w and str(g) == str(float(w)), (g, w)


def test_array_lit_round_trips_ints_and_quoted_strings(spark):
    """array_lit's one SQL literal must read back exactly what the
    per-element F.lit form would: quotes, backslashes and non-ascii in
    strings survive the parser's unescaping, and ints keep Spark's
    literal typing (int when they fit, widened to bigint otherwise)."""
    from dask_cuml_spark.functions.vector import array_lit

    strs = ["plain", "it's", "back\\slash", "\\'", "tōkyō", ""]
    ints = [0, -7, 2**40]
    row = spark.range(1).select(
        array_lit(strs).alias("s"), array_lit(ints).alias("i")
    ).first()
    assert row.s == strs and row.i == ints
    assert spark.range(1).select(array_lit([1, 2])).dtypes[0][1] == "array<int>"
    with pytest.raises(TypeError, match="col 1"):
        array_lit([1, None])


def test_matrix_lit_rejects_non_finite(spark):
    """Non-finite cells must fail fast with the offending coordinate,
    not surface as an opaque ParseException from `infD`/`nanD` deep in
    some centroid-assignment plan (advisor r6)."""
    from dask_cuml_spark.functions.vector import matrix_lit

    with pytest.raises(ValueError, match=r"row 1, col 2"):
        matrix_lit([[1.0, 2.0, 3.0], [4.0, 5.0, float("inf")]])
    with pytest.raises(ValueError, match=r"row 0, col 0"):
        matrix_lit([[float("nan")]])


def test_langid_pivot_falls_back_above_63_labels(spark):
    """The pivot bitmask ships as ONE signed long: lane 63 is the sign
    bit and 64+ labels would alias lanes (advisor r6). Above 63 labels
    classify must silently take the unbounded join formulation and still
    produce identical predictions."""
    from dask_cuml_spark.operators.langid import classify

    # 64 labels, each owning one unique ngram; doc i speaks language i
    labels = [f"L{i:02d}" for i in range(64)]
    prof = spark.createDataFrame(
        [(f"g{i:02d}", lab) for i, lab in enumerate(labels)],
        ["ngram", "cand"],
    )
    ngrams = spark.createDataFrame(
        [(i, f"g{i:02d}") for i in range(64) for _ in range(3)],
        ["doc_id", "ngram"],
    )
    got = {
        r.doc_id: (r.lang_pred, r.score)
        for r in classify(ngrams, prof, strategy="pivot").collect()
    }
    assert got == {i: (labels[i], 3) for i in range(64)}
    via_join = {
        r.doc_id: (r.lang_pred, r.score)
        for r in classify(ngrams, prof, strategy="join").collect()
    }
    assert got == via_join


def test_merge_batch_bucket_locality_and_replay_noop(spark, tmp_path):
    """The merge sink must (a) rewrite ONLY the bucket dirs a batch's
    keys hash into — per-batch bytes O(batch), not O(table) — and
    (b) be a NO-OP when replayed against an already-committed version
    (advisor r6: re-deriving from the advanced pointer would read and
    overwrite the same dirs, failing recovery permanently)."""
    import os

    from dask_cuml_spark.streaming.upsert_sink import (
        _N_BUCKETS,
        _committed,
        _read_manifest,
        init_table,
        merge_batch,
        read_committed,
        version_bytes,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    base = spark.range(2000).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    init_table(spark, root, base, "k")
    m0, nb, _ = _read_manifest(root, "v0")
    assert nb == _N_BUCKETS and set(m0) == set(range(_N_BUCKETS))

    # batch touches 3 keys: 2 updates + 1 insert
    batch = spark.createDataFrame(
        [(5, 50), (17, 170), (9999, 99)], "k long, v long"
    )
    merge_batch(spark, root, batch, 0, "k", ["v"])
    assert _committed(root) == "v1"
    m1, nb1, _ = _read_manifest(root, "v1")
    assert nb1 == _N_BUCKETS  # bucket count rides the manifest
    rewritten = {b for b in m1 if m1[b] != m0[b]}
    assert 1 <= len(rewritten) <= 3  # ≤ one bucket per batch key
    for b in set(m1) - rewritten:  # untouched buckets: copied forward
        assert m1[b] == m0[b] == f"v0/_b={b}"
    # write amplification: v1 holds ≤3 of 16 buckets' worth of rows
    assert version_bytes(root, "v1") < 0.5 * version_bytes(root, "v0")

    expect = {i: 0 for i in range(2000)} | {5: 50, 17: 170, 9999: 99}
    got = {r.k: r.v for r in read_committed(spark, root).collect()}
    assert got == expect

    # replay of the committed batch: pointer already names v1 → no-op
    before = version_bytes(root, "v1")
    merge_batch(spark, root, batch, 0, "k", ["v"])
    assert _committed(root) == "v1"
    assert version_bytes(root, "v1") == before
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == expect

    # replay of an UNcommitted batch (write landed, pointer did not):
    # deterministic re-derivation converges to the same table
    merge_batch(spark, root, batch, 1, "k", ["v"])
    merge_batch(spark, root, batch, 1, "k", ["v"])  # post-commit replay
    assert _committed(root) == "v2"
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == expect

    # OUT-OF-ORDER replay (advisor r7): an old batch firing after a
    # LATER version committed must be a monotone no-op — never re-merge
    # against the newer manifest and point the table backwards
    merge_batch(
        spark,
        root,
        spark.createDataFrame([(5, 123456)], "k long, v long"),
        0,
        "k",
        ["v"],
    )
    assert _committed(root) == "v2"  # pointer did NOT move backwards
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == expect


def test_merge_batch_stream_identity_reattach_applies(spark, tmp_path):
    """Advisor r8 (medium): with stream_id set, the replay skip fires
    only for the SAME stream's already-applied batch ids. A NEW stream
    re-attached to an existing table (fresh checkpoint → batch ids
    restart at 0 while the committed version is far ahead) must have
    its batches APPLIED — version numbers continue from the committed
    version — never silently drained."""
    import os

    from dask_cuml_spark.streaming.upsert_sink import (
        _committed,
        init_table,
        merge_batch,
        read_committed,
        version_bytes,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    init_table(
        spark,
        root,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        "k",
    )
    # stream A applies batches 0 and 1
    a0 = spark.createDataFrame([(1, 11)], "k long, v long")
    a1 = spark.createDataFrame([(3, 30)], "k long, v long")
    merge_batch(spark, root, a0, 0, "k", ["v"], stream_id="ckptA")
    merge_batch(spark, root, a1, 1, "k", ["v"], stream_id="ckptA")
    assert _committed(root) == "v2"
    expect = {1: 11, 2: 20, 3: 30}
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == expect

    # same-stream replay of batch 1: no-op (pointer and bytes unchanged)
    before = version_bytes(root, "v2")
    merge_batch(spark, root, a1, 1, "k", ["v"], stream_id="ckptA")
    assert _committed(root) == "v2"
    assert version_bytes(root, "v2") == before

    # NEW stream B re-attaches with batch ids restarting at 0: its data
    # must land (this was the silent-drop hazard), versioned past v2
    b0 = spark.createDataFrame([(2, 22), (4, 40)], "k long, v long")
    merge_batch(spark, root, b0, 0, "k", ["v"], stream_id="ckptB")
    assert _committed(root) == "v3"
    expect = {1: 11, 2: 22, 3: 30, 4: 40}
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == expect

    # and stream B's OWN replays no-op
    merge_batch(spark, root, b0, 0, "k", ["v"], stream_id="ckptB")
    assert _committed(root) == "v3"
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == expect


def test_merge_batch_pre_schema_manifest_compat(spark, tmp_path):
    """Advisor r8 (low): manifests written before the schema /
    stream-identity fields existed must still read (schema inferred
    from the bucket parquet footers) and merge (schema re-materialized
    into the next manifest); an identity-bearing merge whose batch id
    the legacy version chain outruns must fail LOUDLY — the table
    cannot distinguish a replay from a new stream."""
    import json
    import os

    import pytest

    from dask_cuml_spark.streaming.upsert_sink import (
        _committed,
        _read_manifest_meta,
        init_table,
        merge_batch,
        read_committed,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    init_table(
        spark,
        root,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        "k",
    )
    merge_batch(
        spark,
        root,
        spark.createDataFrame([(3, 30)], "k long, v long"),
        0,
        "k",
        ["v"],
    )
    # strip the post-r8 fields from the committed manifest in place —
    # exactly what a pre-schema table on disk looks like
    mpath = os.path.join(root, _committed(root) + ".manifest")
    with open(mpath) as f:
        m = json.load(f)
    for key in ("schema", "stream_id", "last_batch_id"):
        m.pop(key, None)
    with open(mpath, "w") as f:
        json.dump(m, f)

    # read path: schema comes from the bucket parquet footers
    got = {r.k: r.v for r in read_committed(spark, root).collect()}
    assert got == {1: 10, 2: 20, 3: 30}

    # identity-bearing merge with an outrun batch id: ambiguous on a
    # legacy table → loud failure, not a silent drain (committed v1
    # outruns batch 0)
    b = spark.createDataFrame([(4, 40)], "k long, v long")
    with pytest.raises(ValueError, match="no stream identity"):
        merge_batch(spark, root, b, 0, "k", ["v"], stream_id="ckptNew")

    # legacy-style merge still works and re-materializes the schema
    merge_batch(spark, root, b, 1, "k", ["v"])
    meta = _read_manifest_meta(root, _committed(root))
    assert meta["schema"] is not None
    got = {r.k: r.v for r in read_committed(spark, root).collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40}


def test_merge_sink_empty_seed_reads_typed_empty(spark, tmp_path):
    """A zero-bucket table (empty seed, no batches) must read back as a
    typed EMPTY DataFrame via the manifest-carried schema, not crash on
    a no-paths parquet read (advisor r7)."""
    import os

    from dask_cuml_spark.streaming.upsert_sink import (
        init_table,
        merge_batch,
        read_committed,
    )

    root = str(tmp_path / "empty_tbl")
    os.makedirs(root)
    seed = spark.createDataFrame([], "k long, v long")
    init_table(spark, root, seed, "k")
    empty = read_committed(spark, root)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v"]
    # first batch into the empty table is a pure insert
    merge_batch(
        spark,
        root,
        spark.createDataFrame([(1, 10)], "k long, v long"),
        0,
        "k",
        ["v"],
    )
    assert {r.k: r.v for r in read_committed(spark, root).collect()} == {1: 10}


def test_semantic_dedup_auto_k_numpy_replay(spark):
    """The production SemDeDup posture (semantic_dedup, n_clusters=
    'auto'): one row per vector, Lloyd's inertia monotone, and —
    replaying assignment, the within-cluster pair scan, and the
    keep-lowest-id drop rule in numpy from the operator's OWN fitted
    centers — cluster ids and the kept set match exactly (same float64
    inputs, same (dist^2, cid) tie-break, same sim >= tau rule)."""
    import numpy as np

    from dask_cuml_spark.operators.dedup import semantic_dedup

    e = load_table(spark, SF, "embeddings")
    out, km = semantic_dedup(e, threshold=0.35, return_model=True)
    pdf = out.toPandas()
    src = e.select("vec_id", "embedding").toPandas()
    src = src.sort_values("vec_id").reset_index(drop=True)
    assert len(pdf) == len(src)
    assert set(pdf.kept.unique()) <= {0, 1}
    h = km.inertia_history_
    assert all(h[i + 1] <= h[i] + 1e-9 for i in range(len(h) - 1))
    X = np.array(src.embedding.tolist(), dtype=np.float64)
    ids = src.vec_id.to_numpy(dtype=np.int64)
    C = km.cluster_centers_
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cid = d2.argmin(axis=1)  # first minimal index == (dist^2, cid) order
    by_id = pdf.set_index("vec_id")
    assert (by_id.cluster_id.loc[ids].to_numpy() == cid).all()
    dropped: set[int] = set()
    for c in np.unique(cid):
        m, M = ids[cid == c], X[cid == c]
        S = M @ M.T
        ii, jj = np.nonzero((S >= 0.35) & (m[:, None] < m[None, :]))
        dropped.update(int(m[j]) for j in jj)
    got = {int(i): int(k) for i, k in zip(pdf.vec_id, pdf.kept)}
    assert got == {int(i): int(i not in dropped) for i in ids}
    # 'auto' floors at the oracle configuration's k for small inputs
    assert km.k == 16


def test_q126_sequence_packing_invariants(spark):
    """Structural truths of concat-and-chunk packing: the stream is
    CONTIGUOUS in doc_id order (each doc starts where the previous one
    ended — this is what proves the two-level prefix sum carries
    across bucket boundaries), block ids are consistent with the
    512-token block size, and offsets stay inside a block."""
    from dask_cuml_spark.queries.text import (
        _Q126_BLOCK,
        _Q126_BUCKET,
        q126_sequence_packing,
    )

    pdf = q126_sequence_packing(spark, SF).toPandas().sort_values("doc_id")
    n = load_table(spark, SF, "documents").count()
    assert len(pdf) == n
    # the fixture spans multiple prefix-sum buckets, so the carry path
    # is actually exercised (not vacuously green on one bucket)
    assert pdf.doc_id.max() // _Q126_BUCKET >= 1
    starts = pdf.seq_start.to_numpy()
    toks = pdf.n_tokens.to_numpy()
    assert starts[0] == 0
    assert (starts[1:] == starts[:-1] + toks[:-1]).all()
    assert (pdf.first_block == pdf.seq_start // _Q126_BLOCK).all()
    last = pdf.seq_start + pdf.n_tokens - 1
    assert (pdf.last_block == last // _Q126_BLOCK).all()
    assert (pdf.n_blocks == pdf.last_block - pdf.first_block + 1).all()
    assert (pdf.block_offset == pdf.seq_start % _Q126_BLOCK).all()
    assert ((pdf.block_offset >= 0) & (pdf.block_offset < _Q126_BLOCK)).all()


def test_q127_pii_redaction_invariants(spark):
    """Redaction actually scrubs: re-running every pattern over the
    redacted text finds ZERO matches; injected docs count exactly one
    email/phone/IP; clean docs (doc_id % 3 == 0) are untouched."""
    import re

    from dask_cuml_spark.queries.text import (
        _Q127_EMAIL,
        _Q127_IPV4,
        _Q127_PHONE,
        q127_pii_redaction,
    )

    pdf = q127_pii_redaction(spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    assert len(pdf) == len(docs)
    m = pdf.merge(docs, on="doc_id")
    clean = m[m.doc_id % 3 == 0]
    dirty = m[m.doc_id % 3 != 0]
    assert (clean[["n_emails", "n_phones", "n_ips"]] == 0).all().all()
    assert (clean.redacted_len == clean.text.str.len()).all()
    assert (dirty[["n_emails", "n_phones", "n_ips"]] == 1).all().all()
    # recompute one dirty doc's redaction in pure Python and confirm
    # the md5 witness + that no pattern survives redaction
    import hashlib

    row = dirty.iloc[0]
    i = int(row.doc_id)
    pii = (
        f"{row.text} contact user{i}@mail.example.com call "
        f"555-{i * 7 % 1000:03d}-{i * 13 % 10000:04d} "
        f"from 10.{i % 256}.{i * 3 % 256}.{i * 5 % 256}"
    )
    red = re.sub(_Q127_EMAIL, "[EMAIL]", pii)
    red = re.sub(_Q127_PHONE, "[PHONE]", red)
    red = re.sub(_Q127_IPV4, "[IP]", red)
    for pat in (_Q127_EMAIL, _Q127_PHONE, _Q127_IPV4):
        assert not re.search(pat, red)
    assert hashlib.md5(red.encode()).hexdigest() == row.redacted_md5


def test_q128_decode_matches_numpy_ground_truth(spark):
    """The q128 witnesses equal an independent numpy replay of the image
    spec — proving the Spark path (encode -> REAL PNG decode -> stats)
    end-to-end, including the RGB fixed-point luma, without the oracle."""
    import numpy as np

    from dask_cuml_spark.queries.pandas_udfs import q128_image_decode_stats

    pdf = (
        q128_image_decode_stats(spark, SF)
        .filter("doc_id < 50")
        .toPandas()
        .sort_values("doc_id")
    )
    assert len(pdf) == 50
    for _, row in pdf.iterrows():
        d = int(row.doc_id)
        w, h = 8 + d % 5, 8 + d % 3
        i = np.arange(w * h, dtype=np.int64)
        if d % 2 == 1:
            r, g, b = (d + 3 * i) % 256, (d + 3 * i + 1) % 256, (d + 3 * i + 2) % 256
            lumas = (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
        else:
            lumas = (d + i) % 256
        assert (row.width, row.height) == (w, h)
        assert row.luma_sum == lumas.sum()
        hist = np.histogram(lumas, bins=8, range=(0, 256))[0]
        assert [row[f"h{j}"] for j in range(8)] == hist.tolist()


def test_png_encode_rgb_roundtrip():
    """_png_encode(RGB) -> _png_decode returns the exact ITU-R 601
    fixed-point luma of the encoded pixels (the decoder's RGB branch)."""
    import numpy as np

    from dask_cuml_spark.operators.multimodal import _png_decode, _png_encode

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    out = _png_decode(_png_encode(rgb))
    r, g, b = (rgb[:, :, i].astype(np.uint32) for i in range(3))
    expect = ((r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16).astype(
        np.uint8
    )
    assert out.shape == (5, 9)
    assert (out == expect).all()


def test_q129_quality_model_invariants(spark):
    """Scoring truths: one output row per doc, n_tokens == whitespace
    token count, keep <=> logit > 0, and the logit is the exact dyadic
    mean-of-weights + bias (re-derived in pure Python for a sample)."""
    from dask_cuml_spark.queries.text import (
        _Q129_BIAS,
        _Q129_V,
        q129_quality_model_score,
    )

    pdf = q129_quality_model_score(spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    assert len(pdf) == len(docs)
    m = pdf.merge(docs, on="doc_id").sort_values("doc_id")
    assert (
        m.n_tokens == m.text.map(lambda t: len([x for x in t.split(" ") if x]))
    ).all()
    assert ((m.quality_logit > 0) == m.keep).all()
    # both classes occur (the cut isn't vacuous on the fixture)
    assert m.keep.any() and (~m.keep).any()
    for _, row in m.head(20).iterrows():
        wsum = 0.0
        toks = [t for t in row.text.split(" ") if t]
        for t in toks:
            bucket = sum((i + 1) * ord(c) for i, c in enumerate(t)) % _Q129_V
            wsum += ((bucket * 2481) % _Q129_V) / 2048.0 - 1.0
        assert round(wsum / len(toks) + _Q129_BIAS, 6) == row.quality_logit


def test_q130_chunking_invariants(spark):
    """Chunking truths: full coverage (concatenating stride-prefixes of
    chunks reconstructs the doc), overlap == SIZE-STRIDE on interior
    chunks, starts on the stride grid, tail chunk may be short but
    never empty."""
    from dask_cuml_spark.queries.text import (
        _Q130_SIZE,
        _Q130_STRIDE,
        q130_chunk_documents,
    )

    pdf = q130_chunk_documents(spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    assert pdf.chunk_len.min() >= 1
    assert (pdf.start == pdf.chunk_id * _Q130_STRIDE).all()
    g = pdf.sort_values(["doc_id", "chunk_id"]).groupby("doc_id")
    recon = g.apply(
        lambda ch: " ".join(
            " ".join(t.split(" ")[:_Q130_STRIDE]) for t in ch.chunk_text
        ),
        include_groups=False,
    )
    m = docs.set_index("doc_id").join(recon.rename("recon"))
    assert (m.text == m.recon).all()
    # every chunk is exactly min(SIZE, n_tokens - start) long
    n_by_doc = docs.set_index("doc_id").text.map(
        lambda t: len(t.split(" "))
    )
    n = pdf.doc_id.map(n_by_doc)
    import numpy as np

    assert (pdf.chunk_len == np.minimum(_Q130_SIZE, n - pdf.start)).all()


def test_q131_quantization_matches_numpy(spark):
    """q131 witnesses equal an independent numpy replay; quantized
    values stay in [-127, 127] and the reconstruction error respects
    the half-step bound scale/254 (+1 ulp headroom)."""
    import numpy as np

    from dask_cuml_spark.queries.vector import q131_int8_quantization

    pdf = (
        q131_int8_quantization(spark, SF)
        .filter("vec_id < 40")
        .toPandas()
        .sort_values("vec_id")
    )
    emb = (
        load_table(spark, SF, "embeddings")
        .filter("vec_id < 40")
        .select("vec_id", "embedding")
        .toPandas()
    )
    assert len(pdf) == 40
    for _, row in pdf.merge(emb, on="vec_id").iterrows():
        e = np.array(row.embedding, dtype=np.float64)
        scale = np.abs(e).max()
        qv = np.floor(e / scale * 127 + 0.5)
        assert np.abs(qv).max() <= 127
        assert row.q_sum == int(qv.sum())
        assert row.q_abs_sum == int(np.abs(qv).sum())
        assert row.scale == round(scale, 6)
        err = np.abs(e - qv * scale / 127).max()
        assert row.max_err == round(err, 6)
        assert err <= scale / 254 * (1 + 1e-12)


def test_png_codec_roundtrip_hypothesis():
    """Property: for ANY 8-bit gray or RGB array, _png_encode ->
    _png_decode returns the exact luma (identity for gray, ITU-R 601
    fixed point for RGB) — hardens the codec beyond the fixed shapes
    q128 exercises."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dask_cuml_spark.operators.multimodal import _png_decode, _png_encode

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        rgb=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(h, w, rgb, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if rgb else (h, w)
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = _png_decode(_png_encode(arr))
        if rgb:
            r, g, b = (arr[:, :, i].astype(np.uint32) for i in range(3))
            expect = ((r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16).astype(
                np.uint8
            )
        else:
            expect = arr
        assert out.shape == (h, w)
        assert (out == expect).all()

    prop()


def test_q132_fixed_n_sampling_invariants(spark):
    """Exactly min(K, pool) docs per stratum, ranks are 1..n dense, the
    selection is deterministic (two runs identical), and it is a subset
    of the stratum."""
    from dask_cuml_spark.queries.text import _Q132_K, q132_fixed_n_per_stratum

    a = q132_fixed_n_per_stratum(spark, SF).toPandas()
    b = q132_fixed_n_per_stratum(spark, SF).toPandas()
    key = lambda df: sorted(map(tuple, df.values.tolist()))  # noqa: E731
    assert key(a) == key(b)
    pool = (
        load_table(spark, SF, "documents")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    g = a.groupby("lang")
    for lang, grp in g:
        assert len(grp) == min(_Q132_K, pool[lang])
        assert sorted(grp.rk) == list(range(1, len(grp) + 1))


def test_q133_bigram_lm_matches_python_replay(spark):
    """The LM scores equal a pure-Python replay of the Laplace bigram
    model on a sample of docs, and every score is negative (probability
    < 1)."""
    import math
    from collections import Counter

    from dask_cuml_spark.queries.text import q133_bigram_lm_score

    pdf = q133_bigram_lm_score(spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    assert (pdf.avg_logprob < 0).all()
    toks = {r.doc_id: r.text.split(" ") for r in docs.itertuples()}
    c12, c1, vocab = Counter(), Counter(), set()
    for t in toks.values():
        vocab.update(t)
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    V = len(vocab)
    m = pdf.set_index("doc_id")
    for doc_id in list(toks)[:30]:
        t = toks[doc_id]
        if len(t) < 2:
            assert doc_id not in m.index
            continue
        lps = [
            math.log((c12[(a, b)] + 1.0) / (c1[a] + V))
            for a, b in zip(t, t[1:])
        ]
        assert m.loc[doc_id].n_bigrams == len(lps)
        assert m.loc[doc_id].avg_logprob == round(sum(lps) / len(lps), 6)


def test_q134_exact_substring_spans(spark):
    """Span truths: spans are non-empty, >= L tokens, within the doc,
    non-overlapping and non-adjacent after the merge (else they'd be
    one span), and every span's text occurs >= 2 times in the corpus
    (checked on strings for a sample)."""
    from dask_cuml_spark.queries.text import (
        _Q134_L,
        q134_exact_substring_dedup,
    )

    pdf = q134_exact_substring_dedup(spark, SF).toPandas()
    assert len(pdf) > 0
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    toks = {r.doc_id: r.text.split(" ") for r in docs.itertuples()}
    assert (pdf.span_tokens == pdf.span_end - pdf.span_start).all()
    assert (pdf.span_tokens >= min(_Q134_L, 1)).all()
    for doc_id, grp in pdf.groupby("doc_id"):
        n = len(toks[doc_id])
        assert grp.span_end.max() <= max(n, _Q134_L)
        spans = sorted(zip(grp.span_start, grp.span_end))
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1  # merged: no overlap, no touching
    # corpus-duplication truth on strings for the first few spans
    from collections import Counter

    gram_counts = Counter(
        " ".join(t[i : i + _Q134_L])
        for t in toks.values()
        for i in range(max(len(t) - _Q134_L, 0) + 1)
    )
    sample = pdf.head(20)
    for row in sample.itertuples():
        t = toks[row.doc_id]
        for i in range(row.span_start, row.span_end - _Q134_L + 1):
            assert gram_counts[" ".join(t[i : i + _Q134_L])] >= 2


def test_int8_quantize_strategy_agreement(spark):
    """expr vs kernel must agree EXACTLY on the integer witnesses and to
    the last ulp on scale/max_err (both are the same IEEE-double op
    sequence; the round-6 presentation layer sits above both)."""
    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.quantize import int8_quantize

    e = load_table(spark, SF, "embeddings")
    a = (
        int8_quantize(e, strategy="expr")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    b = (
        int8_quantize(e, strategy="kernel")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert (a.vec_id == b.vec_id).all()
    assert (a.q_sum == b.q_sum).all()
    assert (a.q_abs_sum == b.q_abs_sum).all()
    # bit parity expected; allow 0 tolerance to prove it
    assert (a.scale.to_numpy() == b.scale.to_numpy()).all()
    assert (a.max_err.to_numpy() == b.max_err.to_numpy()).all()


def test_int8_quantize_zero_vector_guard(spark):
    """An all-zero embedding must yield scale=0, qv sums 0, max_err=0 in
    BOTH strategies (advisor r10: no engine-dependent 0/0)."""
    from pyspark.sql import functions as F

    from dask_cuml_spark.operators.quantize import int8_quantize

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<float>",
    )
    for strat in ("expr", "kernel"):
        got = {
            r.vec_id: r
            for r in int8_quantize(df, strategy=strat).collect()
        }
        z = got[1]
        assert z.scale == 0.0 and z.q_sum == 0 and z.q_abs_sum == 0
        assert z.max_err == 0.0
        nz = got[2]
        assert nz.scale == 1.0 and nz.q_abs_sum == 64 + 127 + 32


def test_q134_gram_layout_branch(spark):
    """r11 (verdict task 3): with the positioned gram layout
    registered, q134's occurrence counts and dup back-join are
    bucket-local — the query's one corpus-wide gram shuffle VANISHES
    (only the per-doc window exchange remains) and values are
    identical to the construction branch."""
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import build_layout

    plain = {
        tuple(r) for r in T.q134_exact_substring_dedup(spark, SF).collect()
    }
    build_layout(spark, SF, "grams")
    try:
        d = T.q134_exact_substring_dedup(spark, SF)
        got = {tuple(r) for r in d.collect()}
        assert got == plain and len(got) > 0
        fin = (
            d._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in fin, fin[:2000]
        # the gram-hash count/join exchanges are gone; what remains is
        # the doc_id window partitioning (and whatever AQE reuses of it)
        import re

        ex = re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", fin)
        assert all(e.startswith("doc_id") for e in ex), (ex, fin[:2500])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {T._gram_table(SF)}")
    assert not spark.catalog.tableExists(T._gram_table(SF))


def test_quality_score_bucketizer_modes(spark):
    """r11 (verdict task 6): the quality_score library operator. The
    charpoly mode must be value-identical to the registered q129; the
    production xxhash64 mode shares the row set / n_tokens (bucketing
    changes SCORES, never token accounting) and is deterministic
    across partitionings."""
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.quality import (
        dyadic_weights,
        quality_score,
    )

    d = load_table(spark, SF, "documents")
    w = dyadic_weights(spark, T._Q129_V)
    oracle_mode = {
        tuple(r)
        for r in quality_score(
            d, w, V=T._Q129_V, bias=T._Q129_BIAS, bucketizer="charpoly"
        ).collect()
    }
    registered = {
        tuple(r) for r in T.q129_quality_model_score(spark, SF).collect()
    }
    assert oracle_mode == registered and len(registered) > 0

    prod = quality_score(
        d, w, V=T._Q129_V, bias=T._Q129_BIAS, bucketizer="xxhash64"
    ).toPandas()
    reg = T.q129_quality_model_score(spark, SF).toPandas()
    assert set(prod.doc_id) == set(reg.doc_id)
    a = prod.set_index("doc_id").n_tokens.sort_index()
    b = reg.set_index("doc_id").n_tokens.sort_index()
    assert (a == b).all()
    # deterministic under a different partitioning (hash keys are
    # partition-invariant)
    prod2 = quality_score(
        d.repartition(7), w, V=T._Q129_V, bias=T._Q129_BIAS
    ).toPandas()
    m1 = prod.set_index("doc_id").quality_logit.sort_index()
    m2 = prod2.set_index("doc_id").quality_logit.sort_index()
    assert (m1 == m2).all()
    # bucket ids land in [0, V) for the signed xxhash64 (pmod, not %)
    from pyspark.sql import functions as F
    from dask_cuml_spark.operators.quality import _bucket_xxhash

    rng = (
        d.select(_bucket_xxhash(F.col("text"), T._Q129_V).alias("b"))
        .agg(F.min("b"), F.max("b"))
        .first()
    )
    assert rng[0] >= 0 and rng[1] < T._Q129_V


def test_connected_components_paths_agree(spark):
    """Driver union-find vs pre-contraction (+pointer-jump) must label
    identically: label = min member id, regardless of edge
    partitioning (the contraction-preserves-min-roots property)."""
    from dask_cuml_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (7, 7), (3, 4), (11, 12)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 7: 7}
    small = {
        r.id: r.label for r in connected_components(edges).collect()
    }
    assert small == want
    big = {
        r.id: r.label
        for r in connected_components(
            edges.repartition(4), union_find_max_edges=1
        ).collect()
    }
    assert big == want
    # empty graph → typed empty frame
    none = connected_components(edges.limit(0))
    assert none.count() == 0 and none.columns == ["id", "label"]


def test_q135_transitive_chain_canonicalized(spark):
    """The under-delete case q135 exists for: A~B and B~C near-dup but
    J(A,C) BELOW threshold — pairs alone would never link A and C; the
    component must still canonicalize all three to min id."""
    import dask_cuml_spark.queries.pandas_udfs as P
    from dask_cuml_spark.operators.components import connected_components
    from dask_cuml_spark.operators.dedup import minhash_near_dup

    # middle-block edits: replacing tokens [i, i+2] changes the 5
    # shingles touching them — J = 13/23 ≈ 0.565 per hop, while the two
    # hops together change 10 of 18 shingles — J(1,3) = 8/28 ≈ 0.286
    base = [f"w{i}" for i in range(20)]
    d2 = base[:5] + ["x1", "x2", "x3"] + base[8:]
    d3 = d2[:12] + ["y1", "y2", "y3"] + d2[15:]
    df = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(d2)), (3, " ".join(d3))],
        "doc_id long, text string",
    )
    pairs = minhash_near_dup(
        df, n=3, num_hashes=36, bands=12, threshold=0.5
    ).select("id_a", "id_b")
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (2, 3) in got_pairs
    assert (1, 3) not in got_pairs  # the chain q135 must close
    labels = {
        r.id: r.label for r in connected_components(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1}


def test_int8_quantize_null_vector_propagates_in_both_strategies(spark):
    """A NULL embedding yields an all-null output row in BOTH
    strategies (advisor r11: the kernel used to crash on len(None)
    while expr propagated — 'auto' would then succeed below GATE_BYTES
    and throw above it on the same dirty input)."""
    from dask_cuml_spark.operators.quantize import int8_quantize

    df = spark.createDataFrame(
        [(1, None), (2, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<float>",
    )
    for strat in ("expr", "kernel"):
        got = {
            r.vec_id: r
            for r in int8_quantize(df, strategy=strat).collect()
        }
        assert len(got) == 2, strat
        n = got[1]
        assert n.scale is None and n.q_sum is None, strat
        assert n.q_abs_sum is None and n.max_err is None, strat
        assert got[2].q_abs_sum == 64 + 127 + 32, strat


def test_pq_fit_combined_matches_sequential(spark):
    """The r16 combined multi-subspace Lloyd loop (one init collect +
    one partial-sums kernel per iteration for ALL m subspaces, instead
    of m independent fits × ~(1 + max_iter) jobs) must be BIT-identical
    to the sequential per-subspace KMeans fits it replaced: codebooks,
    inertia histories, and iteration counts all equal, per subspace."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.kmeans import KMeans
    from dask_cuml_spark.operators.quantize import pq_fit

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    m, k = 4, 8
    codebooks, models = pq_fit(e, m=m, k=k)
    # sequential reference: the exact pre-r16 formulation
    dim = len(e.select("embedding").first()[0])
    sub = dim // m
    for s in range(m):
        sl = F.slice(F.col("embedding"), s * sub + 1, sub)
        km = KMeans(k=k, max_iter=5)
        km.fit(
            e.select("vec_id", sl.alias("_sv")),
            vec_col="_sv",
            id_col="vec_id",
            final_inertia=False,
        )
        assert np.array_equal(km.cluster_centers_, codebooks[s]), s
        assert km.inertia_history_ == models[s].inertia_history_, s
        assert km.n_iter_ == models[s].n_iter_, s
        assert models[s].inertia_ is None


def test_pq_fit_sampled_training_keeps_invariants(spark):
    """pq_fit(max_train_rows=...) (r11 verdict: bound the one
    full-corpus model-state path) — codebooks trained on the
    deterministic hash-sample must still satisfy every encode
    invariant: Lloyd inertia monotone per subspace, twin vectors get
    identical codes, codes in range, and the sample is actually
    bounded. Also pins that a cap larger than the corpus is a no-op
    (bit-identical codebooks to the uncapped fit)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.quantize import pq_encode, pq_fit

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    n = e.count()
    # cap >= corpus: sampling must not engage
    cb_full, _ = pq_fit(e, m=4, k=8)
    cb_nocap, _ = pq_fit(e, m=4, k=8, max_train_rows=n)
    for a, b in zip(cb_full, cb_nocap):
        assert (a == b).all()
    # cap << corpus: sampled fit, invariants hold
    cap = max(50, n // 5)
    codebooks, models = pq_fit(e, m=4, k=8, max_train_rows=cap)
    for km in models:
        hist = km.inertia_history_
        assert all(a >= b - 1e-9 for a, b in zip(hist, hist[1:]))
    twins = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    coded = pq_encode(e.unionByName(twins), codebooks).collect()
    by_id = {r.vec_id: list(r.codes) for r in coded}
    for i in range(10):
        assert by_id[i] == by_id[i + 1_000_000]
    codes = np.array([r.codes for r in coded])
    assert codes.min() >= 0 and codes.max() < 8


def test_pq_layout_branch(spark):
    """r12 (verdict task 4): the stored PQ serving index. Codes read
    from the bucketed table must be bit-identical to the in-session
    fit+encode (both fits are deterministic), q138/q141 must return the
    same values on either branch, and the IVF-PQ probe scan must
    bucket-prune to the probed cells (under autoBucketedScan=false —
    Spark's planner otherwise falls back to the pushed cell_id IN
    filter's row-group pruning; values identical either way)."""
    import re

    from pyspark.sql import functions as F

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.layouts import build_layout

    plain138 = {
        tuple(r) for r in V.q138_pq_adc_search(spark, SF).collect()
    }
    plain141 = {tuple(r) for r in V.q141_ivfpq_search(spark, SF).collect()}
    cb, centers, fresh, from_layout = V._pq_serving(spark, SF)
    assert not from_layout
    fresh_codes = {r.vec_id: (r.cell_id, list(r.codes)) for r in fresh.collect()}
    build_layout(spark, SF, "pq")
    old_conf = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    )
    try:
        cb2, centers2, stored, from_layout2 = V._pq_serving(spark, SF)
        assert from_layout2
        for a, b in zip(cb, cb2):
            assert (a == b).all()
        assert (centers == centers2).all()
        assert fresh_codes == {
            r.vec_id: (r.cell_id, list(r.codes)) for r in stored.collect()
        }
        assert plain138 == {
            tuple(r) for r in V.q138_pq_adc_search(spark, SF).collect()
        }
        d = V.q141_ivfpq_search(spark, SF)
        assert plain141 == {tuple(r) for r in d.collect()}
        # q141's returned frame starts at its localCheckpoint, so the
        # codes-scan shape is pinned on the probe read directly: the
        # literal cell filter reaches the parquet scan, and nothing
        # shuffles the codes side
        codes_tbl, _ = V._pq_tables(SF)
        probe = spark.table(codes_tbl).filter(F.col("cell_id").isin([0, 2]))
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "PushedFilters: [In(cell_id" in plan, plan[:2000]
        # bucket pruning engages once the planner keeps the bucketed scan
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        probe = spark.table(codes_tbl).filter(F.col("cell_id").isin([0, 2]))
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        sel = re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert sel and int(sel[0][0]) < int(sel[0][1]), plan[:2000]
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", old_conf
        )
        for t in V._pq_tables(SF):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_adc_candidates_strategy_agreement(spark):
    """The ADC scan's expr fold and per-batch-top-shortlist Arrow
    kernel must yield IDENTICAL global top-shortlists — same neighbor
    sets AND bit-identical adist (the kernel adds the m LUT gathers in
    the expression fold's sequential IEEE order; its per-batch pruning
    keeps the global top-k by the subset-merge argument). Checked with
    and without per-query probe-cell restriction (the q138 and q141
    shapes), across a multi-partition frame so per-batch pruning
    actually engages."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.quantize import adc_candidates

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    codebooks, centers, coded, _ = V._pq_serving(spark, SF)
    cb = np.stack(codebooks)
    qrows = sorted(
        e.filter(F.col("vec_id") < 10).collect(), key=lambda r: r.vec_id
    )
    luts = V._pq_luts(qrows, cb)
    rng = np.random.default_rng(7)
    n_cells = len(centers)
    shortlist = 20

    def topk(df):
        w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
        return sorted(
            tuple(r)
            for r in df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= shortlist)
            .collect()
        )

    spread = coded.repartition(8)  # multiple Arrow batches
    for cells_per_q in (None, 3):
        if cells_per_q is None:
            lut_rows = [(qid, lut, None) for qid, lut in luts]
            frame = spread.select("vec_id", "codes")
            cell_col = None
        else:
            lut_rows = [
                (
                    qid,
                    lut,
                    sorted(
                        int(c)
                        for c in rng.choice(
                            n_cells, size=cells_per_q, replace=False
                        )
                    ),
                )
                for qid, lut in luts
            ]
            frame = spread
            cell_col = "cell_id"
        a = topk(
            adc_candidates(
                frame, lut_rows, shortlist, cell_col=cell_col,
                strategy="expr",
            )
        )
        b = topk(
            adc_candidates(
                frame, lut_rows, shortlist, cell_col=cell_col,
                strategy="kernel",
            )
        )
        assert len(a) > 0
        assert a == b, (cells_per_q, a[:3], b[:3])


def test_signhash_signatures_numpy_replay_and_partition_invariance(spark):
    """binhash signature bits are pinned two ways: (a) a driver-side
    numpy replay through the SAME signatures_of() path must reproduce
    every packed word exactly; (b) 1-partition vs 8-partition runs must
    be bit-identical — safe to demand because the measured minimum
    |<v, plane>| margin on the fixtures is 2.7e-6 (binhash.py header),
    a ~10^6x guard band over BLAS summation-order ulp noise."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.binhash import (
        hyperplanes,
        sign_signatures,
        signatures_of,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    planes = hyperplanes(128, X.shape[1])
    expect = {
        int(r.vec_id): [int(w) for w in sig]
        for r, sig in zip(rows, signatures_of(X, planes))
    }
    for nparts in (1, 8):
        got = {
            int(r.vec_id): [int(w) for w in r.sig]
            for r in sign_signatures(
                e.repartition(nparts), "vec_id", "embedding", planes
            ).collect()
        }
        assert got == expect, nparts


def test_hamming_candidates_strategy_agreement(spark):
    """expr (XOR+POPCNT explode) and kernel (per-batch top-shortlist
    numpy scan) must yield the IDENTICAL global per-query shortlist —
    Hamming is integer, so set equality is exact, including ham values
    (the q131/adc strategy-agreement convention)."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.binhash import (
        hamming_candidates,
        hyperplanes,
        sign_signatures,
        signatures_of,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qrows = sorted(
        e.filter(F.col("vec_id") < 5).collect(), key=lambda r: r.vec_id
    )
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    planes = hyperplanes(128, Q.shape[1])
    qsigs = signatures_of(Q, planes)
    queries = [
        (int(r.vec_id), [int(w) for w in qsigs[i]])
        for i, r in enumerate(qrows)
    ]
    sigs = sign_signatures(
        e.repartition(8), "vec_id", "embedding", planes
    ).localCheckpoint()

    def topk(df):
        w = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
        return sorted(
            (int(r.query_id), int(r.neighbor_id), int(r.ham))
            for r in df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 20)
            .collect()
        )

    a = topk(hamming_candidates(sigs, queries, 20, strategy="expr"))
    b = topk(hamming_candidates(sigs, queries, 20, strategy="kernel"))
    assert len(a) == 5 * 20
    assert a == b


def test_hamming_candidates_null_sig_excluded_in_both_strategies(spark):
    """A null embedding yields a null signature (quantize.py dirty-input
    convention); hamming_candidates must EXCLUDE it identically in both
    strategies — otherwise expr ranks null ham first (nulls-first asc)
    while the kernel's np.stack crashes: the q131 auto-gate-divergence
    class (advisor r11), closed at the shared entry."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from dask_cuml_spark.operators.binhash import (
        hamming_candidates,
        hyperplanes,
        sign_signatures,
        signatures_of,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    rng = np.random.default_rng(3)
    clean = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(6)]
    df = spark.createDataFrame(clean + [(99, None)], schema)
    planes = hyperplanes(64, 8)
    sigs = sign_signatures(df, "vec_id", "embedding", planes)
    got = {int(r.vec_id): r.sig for r in sigs.collect()}
    assert got[99] is None and all(got[i] is not None for i in range(6))
    q = [(0, [int(w) for w in signatures_of(
        np.asarray([clean[0][1]]), planes)[0]])]
    for strat in ("expr", "kernel"):
        out = hamming_candidates(sigs, q, 10, strategy=strat).collect()
        ids = {int(r.neighbor_id) for r in out}
        assert 99 not in ids and ids == set(range(6)), strat


def test_stratified_split_exact_proportions_and_partition_invariance(spark):
    """The stratified split's cuml-parity guarantee: EVERY stratum
    contributes exactly (4·n) div 5 train rows (not binomially-close
    like the hash-predicate split), the assignment is a partition of
    the input, and it is invariant to input partitioning (the ordering
    key is (bucket, id), never physical layout)."""
    from pyspark.sql import functions as F

    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.operators.preprocessing import (
        stratified_split_labels,
        stratified_train_test_split,
    )

    d = load_table(spark, SF, "documents")
    # contract (advisor r12): id_col must be UNIQUE — duplicate ids
    # would make the row_number tie order nondeterministic and
    # multiply rows through the wrapper's label join
    assert d.count() == d.select("doc_id").distinct().count()
    lab = stratified_split_labels(d, "doc_id", "lang", 4, 5)
    per = {
        (r.lang, r.split): r.n
        for r in lab.groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {
        r.lang: r.n
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for lang, n in totals.items():
        assert per.get((lang, "train"), 0) == (4 * n) // 5, lang
        assert per.get((lang, "test"), 0) == n - (4 * n) // 5, lang
    # partitioning invariance: identical per-row labels
    a = sorted(map(tuple, lab.collect()))
    b = sorted(
        map(
            tuple,
            stratified_split_labels(
                d.repartition(17), "doc_id", "lang", 4, 5
            ).collect(),
        )
    )
    assert a == b
    # the (train, test) wrapper partitions the input with full columns
    tr, te = stratified_train_test_split(d, "doc_id", "lang")
    assert tr.count() + te.count() == d.count()
    assert set(tr.columns) == set(d.columns)
    assert tr.join(te, "doc_id").count() == 0


def test_q144_dsir_scores_separate_target_slice(spark):
    """The METHOD's point, as a semantic invariant: under DSIR the
    target slice must score higher than the pool on average — here the
    en (target) docs' mean log importance weight strictly exceeds the
    non-en mean (they were scored by a model trained to prefer their
    own unigram profile). Guards against sign flips / swapped
    numerator-denominator regressions the hash-match alone would only
    catch as a diff, not explain."""
    from pyspark.sql import functions as F

    from dask_cuml_spark.io import load_table
    from dask_cuml_spark.registry import QUERIES

    scores = QUERIES["q144_dsir_weights"](spark, SF)
    langs = load_table(spark, SF, "documents").select("doc_id", "lang")
    m = (
        scores.join(langs, "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_target"))
        .agg(F.avg("dsir_score").alias("mean_w"))
        .collect()
    )
    means = {r.is_target: r.mean_w for r in m}
    assert means[True] > means[False]


def test_signature_layout_branch(spark):
    """r12: the stored binary signature index ('signs' layout).
    Signatures read from the table must be bit-identical to the
    in-session kernel hash (planes are seed-derived — one derivation),
    q145 must return the same values on either branch, and the stored
    scan must read ONLY (vec_id, sig) — 16 bytes of signature per row,
    never the embedding column."""
    import numpy as np

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.layouts import build_layout
    from dask_cuml_spark.operators.binhash import hyperplanes

    plain = {tuple(r) for r in V.q145_signhash_ann(spark, SF).collect()}
    planes = hyperplanes(V._Q145_NBITS, 64)
    fresh, from_layout = V._sig_serving(spark, SF, planes)
    assert not from_layout
    fresh_sigs = {r.vec_id: list(r.sig) for r in fresh.collect()}
    build_layout(spark, SF, "signs")
    try:
        stored, from_layout2 = V._sig_serving(spark, SF, planes)
        assert from_layout2
        assert fresh_sigs == {r.vec_id: list(r.sig) for r in stored.collect()}
        assert plain == {
            tuple(r) for r in V.q145_signhash_ann(spark, SF).collect()
        }
        plan = stored._jdf.queryExecution().executedPlan().toString()
        read = plan.split("ReadSchema: ")[1].split("\n")[0]
        assert "embedding" not in read, read
        assert "sig" in read and "vec_id" in read, read
    finally:
        for t in V._sig_tables(SF):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stratified_split_null_stratum_kept(spark):
    """NULL strata must form their own stratum with exact proportions,
    not silently vanish: the internal key is null-coalesced because a
    bare equi-join drops null keys (null != null) — the dirty-input
    divergence class the r11 advisor flagged on q131's size gate."""
    from dask_cuml_spark.operators.preprocessing import (
        stratified_split_labels,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, None), (6, None),
         (7, None)],
        "id long, grp string",
    )
    out = stratified_split_labels(df, "id", "grp").collect()
    assert len(out) == 7
    per = {}
    for r in out:
        per.setdefault(r.grp, []).append(r.split)
    assert sorted(per["a"]).count("train") == (4 * 2) // 5
    assert sorted(per[None]).count("train") == (4 * 5) // 5


def test_pack_layout_branch(spark):
    """r12: the stored sequence-packing manifest ('pack' layout).
    q126 read from the table must be value-identical to the two-level
    prefix-sum computation, and q142 (which consumes q126's frame)
    must return the same audit on either branch."""
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import build_layout

    plain126 = sorted(
        tuple(r) for r in T.q126_sequence_packing(spark, SF).collect()
    )
    plain142 = sorted(
        tuple(r) for r in T.q142_packing_audit(spark, SF).collect()
    )
    build_layout(spark, SF, "pack")
    try:
        assert spark.catalog.tableExists(T._pack_tables(SF)[0])
        stored126 = sorted(
            tuple(r) for r in T.q126_sequence_packing(spark, SF).collect()
        )
        stored142 = sorted(
            tuple(r) for r in T.q142_packing_audit(spark, SF).collect()
        )
        assert plain126 == stored126
        assert plain142 == stored142
    finally:
        for t in T._pack_tables(SF):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q148_gram_layout_branch(spark):
    """q148 is the gram layout's FOURTH consumer: with the positioned
    table registered, the first-occurrence groupBy and the back-join
    are bucket-local — no corpus-wide gram-hash exchange survives —
    and values are identical to the construction branch."""
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import build_layout

    plain = {tuple(r) for r in T.q148_ngram_novelty(spark, SF).collect()}
    build_layout(spark, SF, "grams")
    try:
        d = T.q148_ngram_novelty(spark, SF)
        got = {tuple(r) for r in d.collect()}
        assert got == plain and len(got) > 0
        fin = (
            d._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in fin, fin[:2000]
        import re

        ex = re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", fin)
        # only the per-doc final aggregation may repartition
        assert all(e.startswith("doc_id") for e in ex), (ex, fin[:2500])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {T._gram_table(SF)}")
    assert not spark.catalog.tableExists(T._gram_table(SF))


def test_q148_novelty_conservation(spark):
    """min() attribution means exactly one doc owns each distinct gram:
    corpus novelty mass == distinct gram count, and doc 0's grams are
    all novel (nothing precedes the smallest doc_id)."""
    import dask_cuml_spark.queries.text as T

    out = T.q148_ngram_novelty(spark, SF)
    total_novel = out.agg(F.sum("n_novel")).collect()[0][0]
    distinct_grams = (
        T._positioned_grams(spark, SF).select("_h").distinct().count()
    )
    assert total_novel == distinct_grams
    first_doc = out.orderBy("doc_id").first()
    assert first_doc.n_novel <= first_doc.n_grams
    min_doc = out.agg(F.min("doc_id")).collect()[0][0]
    row0 = out.filter(F.col("doc_id") == min_doc).first()
    assert row0.novelty_frac == 1.0


def test_q147_tercile_structure(spark):
    """Two-level ranks are a bijection 1..n per language, tercile sizes
    match the rational cutoffs exactly, and bucket boundaries respect
    the (score DESC, doc_id) total order — every head row outranks
    every middle row outranks every tail row within its language."""
    import dask_cuml_spark.queries.text as T

    pdf = T.q147_perplexity_buckets(spark, SF).toPandas()
    for lang, grp in pdf.groupby("lang", dropna=False):
        n = len(grp)
        ranks = sorted(grp["lm_rank"])
        assert ranks == list(range(1, n + 1)), lang
        sizes = grp["ppl_bucket"].value_counts().to_dict()
        head = sizes.get("head", 0)
        middle = sizes.get("middle", 0)
        assert head == n // 3
        assert head + middle == (2 * n) // 3
        # rank ranges must be disjoint and ordered head < middle < tail
        by_rank = grp.sort_values("lm_rank")
        labels = by_rank["ppl_bucket"].tolist()
        import itertools

        runs = [k for k, _ in itertools.groupby(labels)]
        assert runs == [
            b for b in ("head", "middle", "tail")
            if sizes.get(b, 0) > 0
        ], (lang, runs)
        # scores weakly decrease with rank (ties broken by doc_id)
        s = by_rank["score"].tolist()
        assert all(a >= b for a, b in zip(s, s[1:])), lang


def test_q149_portable_key_replay(spark):
    """q149's portable gram keys and Bloom positions, as the Spark plan
    computes them, must equal a pure-Python twin of the oracle's
    per-token ``tids`` fold and 5-token gram fold, occurrence by
    occurrence, on edge-shaped texts: fewer than 5 tokens, repeated
    tokens, a double space (an empty token), non-ASCII code points,
    NUL inside a token, and an empty text."""
    import dask_cuml_spark.queries.text as T

    def twin(text):
        tids = []
        for tok in text.split(" "):
            a = 0
            for ch in tok:
                a = (a * 31 + ord(ch)) % T._Q144_MOD
            tids.append(a)
        keys = []
        for i in range(max(len(tids) - T._Q121_N, 0) + 1):
            g = 0
            for t in tids[i : i + T._Q121_N]:
                g = (g * 10007 + t) % T._Q149_GMOD
            h1 = g % T._Q149_M
            keys.append((g, h1, (h1 + 1 + g % (T._Q149_M - 1)) % T._Q149_M))
        return keys

    cases = [
        "alpha beta gamma delta epsilon zeta eta",
        "a",
        "x y",
        "same same same same same same",
        "café naïve über tōkyō motör",
        "a  b c d e",
        "nul\x00inside plain",
        "",
    ]
    d = spark.createDataFrame(
        list(enumerate(cases)), "doc_id bigint, text string"
    )
    got = {i: [] for i in range(len(cases))}
    for r in T._q149_keyed(d, "portable").collect():
        got[r.doc_id].append((r.gk, r.p1, r.p2))
    want = {i: twin(c) for i, c in enumerate(cases)}
    assert got == want, [
        (c, got[i], want[i]) for i, c in enumerate(cases) if got[i] != want[i]
    ]


def test_serving_topk_invariants(spark):
    """The serving-only surfaces (bench_serving's timed paths — search
    with NO in-query invariant machinery) must still pass the queries'
    own certification when it is run afterwards: full k per query, no
    dup neighbors, rank domination vs exact, recall floor. Pins that
    the serving assembly mirrors the certified query plans."""
    from dask_cuml_spark.queries.vector import (
        SERVING_TOPK,
        _serving_certify,
    )
    from dask_cuml_spark.io import load_table as lt

    e = lt(spark, SF, "embeddings").select("vec_id", "embedding")
    for name, (fn, _layouts, nq, k, floor) in SERVING_TOPK.items():
        topk = fn(spark, SF)
        row = _serving_certify(spark, e, topk, nq, k, floor).collect()[0]
        assert row.n_queries == nq, name
        assert row.n_results == nq * k, name
        assert row.n_dup_pairs == 0, name
        assert row.n_rank_violations == 0, name
        assert row.recall_ok == 1, name


def test_q150_paragraph_dedup_semantics(spark):
    """RefinedWeb exact paragraph dedup invariants: every doc keeps at
    most as many paragraphs as it has; the corpus-wide kept total
    equals the number of DISTINCT paragraphs (exactly one occurrence
    survives per distinct block — first in (doc_id, idx) order); and a
    hand-built within-doc repeat keeps only its first occurrence."""
    import dask_cuml_spark.queries.text as T

    out = {r.doc_id: r for r in T.q150_paragraph_dedup(spark, SF).collect()}
    assert len(out) > 0
    # n_kept can hit 0 (every block first-occurs in an earlier doc)
    assert all(0 <= r.n_kept <= r.n_paras for r in out.values())
    # corpus-wide: sum of kept == distinct paragraph count (string
    # truth via the oracle frame is proven by run_pair; here the hash
    # formulation's own accounting must balance)
    d = load_table(spark, SF, "documents")
    toks = F.split(F.col("text"), " ")
    nb = F.ceil(F.array_size(toks).cast("double") / T._Q150_P).cast("int")
    distinct_blocks = (
        d.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), nb - 1),
                    lambda i: F.xxhash64(
                        F.slice(toks, i * T._Q150_P + 1, T._Q150_P)
                    ),
                )
            ).alias("ph")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_kept for r in out.values()) == distinct_blocks
    # fixture actually exercises dedup (duplicate tail blocks exist)
    assert any(r.n_kept < r.n_paras for r in out.values())
    # hand-built: doc 0 repeats a block; doc 1 shares it -> only the
    # doc-0 idx-0 copy survives anywhere
    words = " ".join(f"w{i}" for i in range(T._Q150_P))
    tiny = spark.createDataFrame(
        [(0, words + " " + words), (1, words)], "doc_id bigint, text string"
    )
    import dask_cuml_spark.io as io_mod

    orig = io_mod.load_table
    try:
        io_mod.load_table = lambda s, sf, name: tiny  # noqa: ARG005
        T.load_table = io_mod.load_table
        tiny_out = {
            r.doc_id: r
            for r in T.q150_paragraph_dedup(spark, "ignored").collect()
        }
    finally:
        io_mod.load_table = orig
        T.load_table = orig
    assert tiny_out[0].n_paras == 2 and tiny_out[0].n_kept == 1
    assert tiny_out[1].n_paras == 1 and tiny_out[1].n_kept == 0


def test_q151_paragraph_near_dup_semantics(spark):
    """Near-dup invariants at paragraph granularity: counts bounded;
    every EXACT duplicate paragraph (q150's relation, J=1) must be
    flagged by the near-dup pass too (near-dup ⊇ exact-dup at any τ —
    banding recall would have to fail for this to break, which is the
    regression this guards); identical hand-built blocks across docs
    flag only the later occurrence."""
    import dask_cuml_spark.queries.pandas_udfs as P
    import dask_cuml_spark.queries.text as T

    near = {r.doc_id: r for r in P.q151_paragraph_near_dup(spark, SF).collect()}
    exact = {r.doc_id: r for r in T.q150_paragraph_dedup(spark, SF).collect()}
    assert set(near) == set(exact)
    for d, r in near.items():
        assert 0 <= r.n_near_dup <= r.n_paras
        assert r.n_paras == exact[d].n_paras
        # exact duplicates (dropped by q150) are J=1 pairs — the
        # near-dup flag set must cover them (τ=0.8 < 1)
        assert r.n_near_dup >= exact[d].n_paras - exact[d].n_kept, d
    assert any(r.n_near_dup > 0 for r in near.values())
    # hand-built: doc 0 repeats a block; doc 1 shares it -> exactly the
    # two later occurrences are near-dup-flagged
    words = " ".join(f"w{i}" for i in range(P._Q151_P))
    tiny = spark.createDataFrame(
        [(0, words + " " + words), (1, words)], "doc_id bigint, text string"
    )
    orig = P.load_table
    try:
        P.load_table = lambda s, sf, name: tiny  # noqa: ARG005
        out = {
            r.doc_id: r
            for r in P.q151_paragraph_near_dup(spark, "ignored").collect()
        }
    finally:
        P.load_table = orig
    assert out[0].n_paras == 2 and out[0].n_near_dup == 1
    assert out[1].n_paras == 1 and out[1].n_near_dup == 1


def test_q149_bloom_no_false_negatives(spark):
    """Bloom semantics: every exact-key hit must also be a Bloom hit
    (no false negatives, per doc), and the corpus-level spread
    n_bloom >= n_key is the measured false-positive audit. Results
    are partitioning-invariant (pure integer folds, no RNG)."""
    import dask_cuml_spark.queries.text as T

    out = T.q149_bloom_decontamination(spark, SF)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) > 0
    assert all(r.n_key_hits <= r.n_bloom_hits for r in rows.values())
    total_bloom = sum(r.n_bloom_hits for r in rows.values())
    total_key = sum(r.n_key_hits for r in rows.values())
    assert total_bloom >= total_key
    # fixture has at least one exact contamination hit to audit against
    assert total_key > 0
    again = {
        r.doc_id: r for r in T.q149_bloom_decontamination(spark, SF).collect()
    }
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }
    # production mode (xxhash64 keys, no strings/folds): same doc set
    # and identical gram accounting — only the key space differs — and
    # the same no-false-negative invariant holds
    xx = {
        r.doc_id: r
        for r in T.bloom_decontaminate(
            spark, SF, key_mode="xxhash64"
        ).collect()
    }
    assert set(xx) == set(rows)
    assert {k: v.n_grams for k, v in xx.items()} == {
        k: v.n_grams for k, v in rows.items()
    }
    assert all(r.n_key_hits <= r.n_bloom_hits for r in xx.values())


def test_dhash_batch_matches_scalar():
    """_dhash_batch (r16 — the shape-grouped stacked hash the decode
    kernels now call) must be BIT-identical to the scalar _dhash_of on
    mixed shapes, restore input order, and raise on undersized images
    exactly like the scalar path."""
    import pytest

    from dask_cuml_spark.operators.multimodal import _dhash_batch, _dhash_of

    rng = np.random.RandomState(7)
    imgs = [
        rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        for h, w in rng.choice([8, 9, 16, 18, 24, 27], size=(500, 2))
        if h >= 8 and w >= 9
    ]
    batch = _dhash_batch(imgs)
    assert batch.dtype == np.int64
    assert [int(v) for v in batch] == [_dhash_of(im) for im in imgs]
    with pytest.raises(ValueError, match="9x8"):
        _dhash_batch([imgs[0], np.zeros((4, 4), dtype=np.uint8)])


def test_image_stats_batch_matches_scalar(spark):
    """extract_image_stats' stacked columnar pass (r17 — the r16
    verdict's item 4, same §4.2 pattern as _dhash_batch) must be
    BIT-identical to the per-row np.histogram/sum reference on mixed
    shapes, both decode paths (gray + RGB), and a non-power-of-two
    n_bins (the integer bin formula vs np.histogram's float edges)."""
    from dask_cuml_spark.operators.multimodal import (
        _png_decode,
        _png_encode,
        extract_image_stats,
    )

    rng = np.random.RandomState(11)
    imgs = [
        rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        for h, w in rng.choice([8, 9, 16, 31], size=(40, 2))
    ]
    # RGB payloads exercise the ITU-R 601 luma path ahead of the stats
    imgs += [
        rng.randint(0, 256, size=(9, 13, 3)).astype(np.uint8)
        for _ in range(10)
    ]
    rows = [(i, bytearray(_png_encode(im))) for i, im in enumerate(imgs)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    lumas = [_png_decode(bytes(p)) for _i, p in rows]
    for n_bins in (8, 7):
        got = {
            r.doc_id: r
            for r in extract_image_stats(
                df, decode_mode="png", n_bins=n_bins
            ).collect()
        }
        assert len(got) == len(imgs)
        for i, im in enumerate(lumas):
            hist = np.histogram(im, bins=n_bins, range=(0, 256))[0]
            r = got[i]
            assert (r.width, r.height) == (im.shape[1], im.shape[0])
            assert r.luma_sum == int(im.astype(np.int64).sum())
            assert list(r.luma_hist) == [int(c) for c in hist]


def test_dhash_invariance_and_margins():
    """The two provable invariances q152's generative oracle leans on
    (numpy-level, no Spark): a constant brightness offset and a pixel-
    replication upscale both preserve the dHash exactly (gradient
    comparisons survive a monotone shift; block sums scale by sy*sx),
    and the 17 base patterns' signatures sit >= 20 Hamming bits apart
    (the measured margin the tau=6 gate rides on) while several cross
    pairs DO share a band — the verify-REJECT path is exercised, not
    vacuous."""
    import itertools

    import dask_cuml_spark.queries.pandas_udfs as P
    from dask_cuml_spark.operators.multimodal import _dhash_of

    M = (1 << 64) - 1
    bases = [P._q152_base(k) for k in range(P._Q152_KEYS)]
    sigs = [_dhash_of(b.astype(np.uint8)) for b in bases]
    assert len(set(sigs)) == P._Q152_KEYS
    for k in (0, 5, 16):
        for sy, sx, off in ((2, 3, 54), (3, 1, 9), (1, 2, 27)):
            img = (
                np.repeat(np.repeat(bases[k], sy, axis=0), sx, axis=1) + off
            ).astype(np.uint8)
            assert int(img.max()) <= 245  # clip-free by construction
            assert _dhash_of(img) == sigs[k], (k, sy, sx, off)
    u = [s & M for s in sigs]
    dists = [
        bin(u[a] ^ u[b]).count("1")
        for a, b in itertools.combinations(range(P._Q152_KEYS), 2)
    ]
    assert min(dists) >= 20 > P._Q152_TAU  # pinned measured margin
    # the perturbed render (docs with doc_id % 5 == 2: one adjacent
    # cell swap) is a TRUE near-dup — 1-3 bits from its base for every
    # key (>=1: the fixture exercises verify-ACCEPT at hamming > 0),
    # and cross-key margins including perturbed sigs stay > tau
    perts = []
    for k in range(P._Q152_KEYS):
        pb = bases[k].copy()
        pb[3, 4], pb[3, 5] = bases[k][3, 5], bases[k][3, 4]
        perts.append(_dhash_of(pb.astype(np.uint8)) & M)
    d_self = [bin(u[k] ^ perts[k]).count("1") for k in range(P._Q152_KEYS)]
    assert all(1 <= d <= 3 for d in d_self), d_self
    fam = u + perts
    cross = [
        bin(fam[a] ^ fam[b]).count("1")
        for a, b in itertools.combinations(range(2 * P._Q152_KEYS), 2)
        if a % P._Q152_KEYS != b % P._Q152_KEYS
    ]
    assert min(cross) >= 20 - 3 > P._Q152_TAU
    assert min(cross) >= 20  # measured: erosion did not occur at all
    width = 64 // P._Q152_BANDS
    mask = (1 << width) - 1
    share = sum(
        1
        for a, b in itertools.combinations(range(P._Q152_KEYS), 2)
        if any(
            ((u[a] >> (width * i)) & mask) == ((u[b] >> (width * i)) & mask)
            for i in range(P._Q152_BANDS)
        )
    )
    assert share > 0  # cross-key candidates exist and get rejected


def test_banded_hamming_pairs_guards_and_completeness(spark):
    """The extracted pigeonhole pair join: exact pair set on hand-built
    signatures (every pair within max_hamming found, none beyond), and
    the two misuse guards raise (bands not dividing 64; max_hamming
    too large for the recall guarantee)."""
    import pytest as _pytest

    from dask_cuml_spark.operators.dedup import banded_hamming_pairs

    rows = [(0, 0b0), (1, 0b111), (2, (1 << 40) | 0b111), (3, -1)]
    sigs = spark.createDataFrame(rows, "doc_id bigint, sig bigint")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in banded_hamming_pairs(
            sigs, sig_col="sig", bands=8, max_hamming=6
        ).collect()
    }
    # ham(0,1)=3  ham(1,2)=1  ham(0,2)=4; doc 3 (all 64 bits set) is
    # 60-64 bits from everything — never a surviving pair
    assert got == {(0, 1): 3, (1, 2): 1, (0, 2): 4}
    with _pytest.raises(ValueError):
        banded_hamming_pairs(sigs, sig_col="sig", bands=4, max_hamming=4)
    with _pytest.raises(ValueError):
        banded_hamming_pairs(sigs, sig_col="sig", bands=7, max_hamming=3)


def test_q152_hand_built_truth(spark):
    """End-to-end on engineered doc_ids: 0/17/34 share img_key 0 (three
    renders at different scales and brightness), 1/18 share key 1, 2 is
    alone — the pipeline must flag exactly the later occurrences and
    point canon_id at each group's earliest doc."""
    import dask_cuml_spark.queries.pandas_udfs as P

    tiny = spark.createDataFrame(
        [(i,) for i in (0, 17, 34, 1, 18, 2)], "doc_id bigint"
    )
    orig = P.load_table
    try:
        P.load_table = lambda s, sf, name: tiny  # noqa: ARG005
        out = {
            r.doc_id: (r.canon_id, r.is_near_dup)
            for r in P.q152_phash_image_near_dup(spark, "ignored").collect()
        }
    finally:
        P.load_table = orig
    assert out == {
        0: (0, 0),
        17: (0, 1),
        34: (0, 1),
        1: (1, 0),
        18: (1, 1),
        2: (2, 0),
    }


def test_ingest_stream_end_to_end(spark, tmp_path):
    """r13 verdict task 5 — the daily-ingest posture as ONE pipeline: a
    foreachBatch stream appends parquet micro-batches to the corpus
    tables and every stored layout refreshes INCREMENTALLY mid-stream
    (the full writers are poisoned for the duration, so a silent
    fallback to rebuild fails loudly). After the stream: stored grams
    and signs equal a from-scratch derivation bit-for-bit, stored PQ
    codes equal a same-model encode of the grown corpus, the PQ model
    sidecar is content-untouched (FAISS add() never retrains), and the
    pack manifest — whose suffix-order precondition the increasing
    ingest ids satisfy — equals the full two-level prefix sum."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.layouts as L
    import dask_cuml_spark.queries.text as T
    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.io import load_table as lt
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.operators.binhash import hyperplanes, sign_signatures
    from dask_cuml_spark.operators.quantize import pq_encode
    from dask_cuml_spark.streaming.ingest import (
        run_ingest_stream,
        synth_staging_files,
    )

    sf = str(tmp_path / "sf")
    ddir, edir = f"{sf}/documents.parquet", f"{sf}/embeddings.parquet"
    os.makedirs(ddir), os.makedirs(edir)
    td = pq_mod.read_table("/root/testdata/sf0.001/documents.parquet")
    te = pq_mod.read_table("/root/testdata/sf0.001/embeddings.parquet")
    pq_mod.write_table(td, os.path.join(ddir, "part-0.parquet"))
    pq_mod.write_table(te, os.path.join(edir, "part-0.parquet"))

    layouts = ("grams", "signs", "pq", "pack", "postings")
    first = ensure_layouts(spark, sf, layouts=layouts)
    assert all(first[n] > 0.0 for n in layouts)
    model_before = sorted(
        map(tuple, spark.table(V._pq_tables(sf)[1]).collect())
    )

    start = 1 + max(
        td.column("doc_id").to_pylist() + te.column("vec_id").to_pylist()
    )
    staging = str(tmp_path / "staging")
    synth_staging_files(staging, n_batches=3, rows_per_batch=40,
                        start_doc_id=start)

    # poison the full writers: any rebuild during the stream = failure
    def _boom(*_a, **_k):
        raise AssertionError("full rebuild ran during the ingest stream")

    saved = L.build_layout
    L.build_layout = _boom
    try:
        stats = run_ingest_stream(
            spark, sf, staging, str(tmp_path / "ckpt"), layouts=layouts
        )
    finally:
        L.build_layout = saved

    assert [s["rows"] for s in stats] == [40, 40, 40]
    for s in stats:
        assert set(s["refresh_sec"]) == set(layouts)

    # corpus grew through the stream
    assert lt(spark, sf, "documents").count() == td.num_rows + 120
    assert lt(spark, sf, "embeddings").count() == te.num_rows + 120

    # grams: stored ≡ fresh derivation over the GROWN corpus
    (gt,) = (T._gram_table(sf),)
    stored = sorted(map(tuple, spark.table(gt).collect()))
    fresh = sorted(map(tuple, T._positioned_grams(spark, sf).collect()))
    assert stored == fresh and len(stored) > 0

    # signs: stored ≡ fresh GEMM hash of the grown corpus
    (st,) = V._sig_tables(sf)
    e = lt(spark, sf, "embeddings").select("vec_id", "embedding")
    dim = len(e.filter(F.col("embedding").isNotNull()).first()["embedding"])
    fresh_sigs = sorted(
        (r[0], list(r[1]))
        for r in sign_signatures(
            e, "vec_id", "embedding", hyperplanes(128, dim, 7)
        ).collect()
    )
    stored_sigs = sorted(
        (r[0], list(r[1])) for r in spark.table(st).collect()
    )
    assert stored_sigs == fresh_sigs and len(stored_sigs) > 0

    # pq: sidecar content untouched; codes ≡ same-model encode
    codes_tbl, model_tbl = V._pq_tables(sf)
    model_after = sorted(map(tuple, spark.table(model_tbl).collect()))
    assert model_after == model_before
    cb = [r for r in model_before if r[0] == "pq"]
    m = 1 + max(r[1] for r in cb)
    k = 1 + max(r[2] for r in cb)
    codebooks = [
        np.stack(
            [
                np.asarray(
                    next(r[3] for r in cb if r[1] == s and r[2] == j)
                )
                for j in range(k)
            ]
        )
        for s in range(m)
    ]
    fresh_codes = sorted(
        (r["vec_id"], list(r["codes"]))
        for r in pq_encode(e, codebooks).select("vec_id", "codes").collect()
    )
    stored_codes = sorted(
        (r["vec_id"], list(r["codes"]))
        for r in spark.table(codes_tbl).select("vec_id", "codes").collect()
    )
    assert stored_codes == fresh_codes and len(stored_codes) > 0

    # pack: stored manifest ≡ the full two-level prefix sum over the
    # grown corpus (the suffix-stable append left old placements
    # untouched and shifted the batch's own prefix sum by the packed
    # total — bit-identity is the proof)
    (pt,) = T._pack_tables(sf)
    stored_pack = sorted(map(tuple, spark.table(pt).collect()))
    fresh_pack = sorted(
        map(tuple, T._placements_plain(spark, sf).collect())
    )
    assert stored_pack == fresh_pack and len(stored_pack) > 0

    # postings (r15): stored ≡ fresh derivation over the grown corpus;
    # the additive stats sidecar is the base row + one delta per batch
    pptbl, pstbl = T._postings_tables(sf)
    stored_post = sorted(map(tuple, spark.table(pptbl).collect()))
    fresh_post = sorted(
        map(tuple, T._postings_frame(spark, sf).collect())
    )
    assert stored_post == fresh_post and len(stored_post) > 0
    srow = spark.table(pstbl).agg(
        F.sum("n_docs"), F.sum("sum_dl")
    ).first()
    struth = T._postings_stats_delta(lt(spark, sf, "documents")).first()
    assert (srow[0], srow[1]) == (struth[0], struth[1])
    assert spark.table(pstbl).count() == 4  # base + 3 batch deltas

    # a consumer mid-contract: the serving entry reads the refreshed
    # stored index (from_layout=True) without any rebuild
    _cb, _ct, coded, from_layout = V._pq_serving(spark, sf)
    assert from_layout and coded.count() == te.num_rows + 120

    for t in (gt, st, codes_tbl, model_tbl, pt, pptbl, pstbl):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_stream_second_run_never_clobbers_first(spark, tmp_path):
    """Advisor r15: part names carried only the micro-batch id, and
    batch ids restart at 0 for any NEW stream (fresh checkpoint dir) —
    a second run_ingest_stream against the same corpus silently
    OVERWROTE the first stream's parts (permanent corpus loss; the
    manifest mismatch only triggered a rebuild over the truncated
    corpus). Now each stream's parts carry a nonce minted inside its
    checkpoint dir: two streams → disjoint names, a REPLAY of the same
    stream → the same names (idempotent overwrite, the exactly-once
    contract)."""
    import os

    import pyarrow.parquet as pq_mod

    from dask_cuml_spark.io import load_table as lt
    from dask_cuml_spark.streaming.ingest import (
        _stream_nonce,
        run_ingest_stream,
        synth_staging_files,
    )

    sf = str(tmp_path / "sf")
    ddir, edir = f"{sf}/documents.parquet", f"{sf}/embeddings.parquet"
    os.makedirs(ddir), os.makedirs(edir)
    td = pq_mod.read_table("/root/testdata/sf0.001/documents.parquet")
    te = pq_mod.read_table("/root/testdata/sf0.001/embeddings.parquet")
    pq_mod.write_table(td, os.path.join(ddir, "part-0.parquet"))
    pq_mod.write_table(te, os.path.join(edir, "part-0.parquet"))
    start = 1 + max(
        td.column("doc_id").to_pylist() + te.column("vec_id").to_pylist()
    )

    for run in (0, 1):
        staging = str(tmp_path / f"staging{run}")
        synth_staging_files(
            staging, n_batches=2, rows_per_batch=30,
            start_doc_id=start + 60 * run,
        )
        stats = run_ingest_stream(
            spark, sf, staging, str(tmp_path / f"ckpt{run}"), layouts=()
        )
        assert [s["rows"] for s in stats] == [30, 30]

    # both streams' rows survive — the pre-fix code left base + 60
    assert lt(spark, sf, "documents").count() == td.num_rows + 120
    assert lt(spark, sf, "embeddings").count() == te.num_rows + 120
    parts = sorted(
        f for f in os.listdir(ddir) if f.startswith("part-ingest-")
    )
    assert len(parts) == 4  # 2 streams × 2 batches, no name collision
    assert len(set(parts)) == 4
    # replay identity: the nonce is stable per checkpoint dir
    assert _stream_nonce(str(tmp_path / "ckpt0")) == _stream_nonce(
        str(tmp_path / "ckpt0")
    )
    assert _stream_nonce(str(tmp_path / "ckpt0")) != _stream_nonce(
        str(tmp_path / "ckpt1")
    )
    # torn-marker recovery (advisor r16): a crash mid-write can leave
    # an empty/truncated marker — it must be treated as absent (fresh
    # nonce minted, full length), never read back verbatim
    torn = tmp_path / "ckpt-torn"
    torn.mkdir()
    (torn / ".ingest-nonce").write_text("ab3")  # truncated
    fresh = _stream_nonce(str(torn))
    assert len(fresh) == 12 and fresh != "ab3"
    assert _stream_nonce(str(torn)) == fresh  # now durable
    (torn / ".ingest-nonce").write_text("")  # empty
    assert len(_stream_nonce(str(torn))) == 12


def test_q153_shuffle_shard_permutation_properties(spark):
    """The stateless shuffle's contract: every doc lands in exactly one
    (shard, pos) slot, positions are dense 0..n_s-1 within each shard,
    shards are balanced (minstd keys distribute uniformly — measured
    imbalance over 500k ids is ±0.01%), the assignment is deterministic
    across invocations, and locality actually breaks (consecutive
    doc_ids do not land in consecutive positions of one shard)."""
    import dask_cuml_spark.queries.extended as X

    out = X.q153_shuffle_shard(spark, SF).collect()
    n = load_table(spark, SF, "documents").count()
    assert len(out) == n
    assert len({r.doc_id for r in out}) == n
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(X._Q153_SHARDS))
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps))), s  # dense positions
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[-1] - sizes[0] <= max(4, n // len(by_shard) // 2)
    # deterministic across invocations (stateless: no RNG to drift)
    again = {(r.doc_id, r.shard, r.pos) for r in
             X.q153_shuffle_shard(spark, SF).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in out}
    # locality broken: consecutive ids rotate shards (48271 % 16 = 15)
    shard_of = {r.doc_id: r.shard for r in out}
    same = sum(
        1 for d in shard_of if d + 1 in shard_of
        and shard_of[d] == shard_of[d + 1]
    )
    assert same < n * 0.2, same


def test_feistel_key_bijective_on_swatch(spark):
    """mode='feistel' (the production default since r15): the 4-round
    Feistel key must be a bijection — 2^20 consecutive ids map to 2^20
    DISTINCT keys (a single collision breaks the permutation), a
    negative-id swatch works too (no bound at all, unlike minstd —
    Feistel networks are bijective on every int64 bit pattern), and
    the Spark staged expression matches the numpy mirror bit-for-bit
    (it computes the DOCUMENTED network, not merely a bijection)."""
    from dask_cuml_spark.operators.shard import (
        feistel_key_py,
        with_feistel_key,
    )

    n = 1 << 20
    got = (
        with_feistel_key(spark.range(n), "id", "k")
        .agg(F.count_distinct("k").alias("d"))
        .first()["d"]
    )
    assert got == n
    neg_df = spark.range(1 << 12).select(
        (F.col("id") - F.lit(1 << 40)).alias("id")
    )
    neg = (
        with_feistel_key(neg_df, "id", "k")
        .agg(F.count_distinct("k").alias("d"))
        .first()["d"]
    )
    assert neg == 1 << 12
    # bit-parity vs the numpy mirror on a mixed-sign swatch
    ids = [0, 1, 2, 47, 2**31 - 1, 2**31, 2**40 + 123, -1, -(2**40)]
    rows = (
        with_feistel_key(
            spark.createDataFrame([(i,) for i in ids], "id long"),
            "id",
            "k",
        )
        .orderBy("id")
        .collect()
    )
    got_map = {r.id: r.k for r in rows}
    want = feistel_key_py(ids)
    for i, w in zip(ids, want):
        assert got_map[i] == int(w), (i, got_map[i], int(w))


def test_shuffle_shard_mode_agreement(spark):
    """Both key modes satisfy the identical output contract on the
    fixture (same doc_id set, shards in range, dense per-shard
    positions, comparable balance) while producing DIFFERENT orders —
    the keys are different permutations by design. Feistel must also
    break the minstd stride artifact: consecutive ids land 48271 apart
    mod P under minstd, but under feistel their shard sequence shows
    no excess same-shard adjacency."""
    from dask_cuml_spark.operators.shard import shuffle_shard

    d = load_table(spark, SF, "documents").select("doc_id")
    n = d.count()
    outs = {}
    for mode in ("minstd", "feistel"):
        rows = shuffle_shard(d, mode=mode).collect()
        assert len(rows) == n
        assert {r.doc_id for r in rows} == set(
            r.doc_id for r in d.collect()
        )
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r.pos)
        assert set(by_shard) <= set(range(16))
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(len(ps))), (mode, s)
        sizes = sorted(len(v) for v in by_shard.values())
        # minstd's stride regularity gives near-perfect balance; a
        # WELL-MIXED key is binomial — σ = sqrt(n·p·(1−p)) per shard,
        # max−min across 16 bins comfortably under 6σ
        if mode == "minstd":
            assert sizes[-1] - sizes[0] <= max(4, n // 16 // 2), mode
        else:
            sigma = (n * (1 / 16) * (15 / 16)) ** 0.5
            assert sizes[-1] - sizes[0] <= 6 * sigma, (mode, sizes)
        outs[mode] = {(r.doc_id): (r.shard, r.pos) for r in rows}
    # different permutations (the whole point of two modes)
    diff = sum(
        1 for k in outs["minstd"] if outs["minstd"][k] != outs["feistel"][k]
    )
    assert diff > n * 0.8
    # feistel breaks consecutive-id adjacency just as well
    shard_of = outs["feistel"]
    same = sum(
        1 for k in shard_of
        if k + 1 in shard_of and shard_of[k][0] == shard_of[k + 1][0]
    )
    assert same < n * 0.2, same


def test_classwise_nearest_hand_built_and_ties(spark):
    """The one-pass class-masked argmin kernel: hand-built vectors with
    known nearest same/different-label answers, the self-exclusion, and
    the (d², id) tie-break (two equidistant candidates → smaller id
    wins, matching the SQL row_number order)."""
    from dask_cuml_spark.operators.knn import classwise_nearest

    rows = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [1.0, 0.0]),   # same-label, d²=1 from anchor 0
        (2, 0, [0.0, 1.0]),   # same-label, d²=1 — tie, larger id loses
        (3, 1, [2.0, 0.0]),   # diff-label, d²=4
        (4, 1, [0.0, 2.0]),   # diff-label, d²=4 — tie
    ]
    e = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<double>"
    )
    got = {
        (r.vec_id, r.same): (r.neighbor_id, round(r.dist_sq, 9))
        for r in classwise_nearest(e).collect()
    }
    assert got[(0, True)] == (1, 1.0)   # tie at d²=1 → id 1 beats id 2
    assert got[(0, False)] == (3, 4.0)  # tie at d²=4 → id 3 beats id 4
    assert got[(1, True)][0] == 0       # self (id 1) excluded
    assert got[(3, False)] == (1, 1.0)  # (1,0) is d²=1 from (2,0)
    # anchor 3's nearest same-label is 4 (d²=8), never itself
    assert got[(3, True)] == (4, 8.0)
    # the blocked-cogroup strategy (hash both axes into blocks, one
    # task per block pair — nothing through the driver) is
    # result-invariant; tiny blocks force every pairing here
    blocked = {
        (r.vec_id, r.same): (r.neighbor_id, round(r.dist_sq, 9))
        for r in classwise_nearest(
            e, strategy="blocked", anchor_blocks=3, cand_blocks=2
        ).collect()
    }
    assert blocked == got


def test_classwise_nearest_strategy_agreement_and_byte_bound(spark):
    """broadcast and blocked funnel through the same kernel + final
    agg: fixture results agree EXACTLY on (vec_id, same, neighbor_id)
    and to last-ulp tolerance on dist_sq (advisor r15: the per-pair
    dot is one contiguous GEMM inner product in both strategies, but
    BLAS picks different SIMD kernels for different GEMM shapes, and
    the two strategies batch the candidate axis differently — this
    container's OpenBLAS produces a 1-ulp d² delta on ~0.1% of pairs;
    every hashed consumer rounds to 1e-6 first, so the contract is
    id-exact + value-tolerant, not bit-identical). The broadcast guard
    is a BYTE bound (rows × dim × 8 — advisor r14: a row bound let
    6 GB of 768-dim vectors onto the driver), enforced with a raise."""
    import pytest as _pytest

    from dask_cuml_spark.operators.knn import classwise_nearest

    e = load_table(spark, SF, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    # Pre-flight (advisor r16): the id-exact assertion below is only
    # sound if no anchor has a cross-candidate near-tie within the
    # strategies' 1-ulp d² divergence — otherwise the (d², id)
    # struct-min could legitimately flip between BLAS kernel shapes
    # and the test would flake. Prove the fixture is tie-free by a
    # margin >> 1 ulp: per (anchor, same-flag), winner and runner-up
    # d² differ by more than 1e-9 relative.
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    labs = np.array([r.label for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    sq = (X * X).sum(1)
    D = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
    same = labs[:, None] == labs[None, :]
    min_rel_gap = np.inf
    for i in range(len(ids)):
        for mask in (same[i], ~same[i]):
            m = mask.copy()
            m[i] = False
            d = np.sort(D[i, m])
            if len(d) >= 2 and d[1] > 0:
                min_rel_gap = min(min_rel_gap, (d[1] - d[0]) / d[1])
    assert min_rel_gap > 1e-9, f"fixture near-tie: rel gap {min_rel_gap}"
    b = sorted(
        map(tuple, classwise_nearest(e, strategy="broadcast").collect())
    )
    k = sorted(
        map(tuple, classwise_nearest(e, strategy="blocked").collect())
    )
    assert len(b) == len(k)
    for rb, rk in zip(b, k):
        assert rb[:3] == rk[:3]  # vec_id, same, neighbor_id: exact
        assert rb[3] == _pytest.approx(rk[3], rel=1e-12, abs=1e-12)
    with _pytest.raises(ValueError, match="MB"):
        # 500 anchors × 64 dims × 8 B = 256 KB > a 64 KB bound
        classwise_nearest(
            e, strategy="broadcast", max_broadcast_bytes=64 << 10
        ).count()
    # zero anchors (advisor r16): an empty frame must come back typed
    # and empty, not crash numpy with an AxisError inside (Q*Q).sum(1)
    empty = classwise_nearest(e.filter(F.col("vec_id") < 0))
    assert empty.count() == 0
    assert empty.columns == ["vec_id", "same", "neighbor_id", "dist_sq"]


def test_classwise_nearest_blocked_past_million_anchors(spark):
    """The r14 verdict's task 3: the old kernel collected up to 1M
    anchor Rows onto the driver and RAISED past 1M. The blocked
    cogroup runs a >1M anchor axis with nothing driver-side — here
    against a bounded candidate pool (the gemm `other=` convention;
    the exact self-mining square is q156's ANN territory). Truth is
    analytic: anchors x=id/1000 on a line, pool x=211·j/1000 with
    labels cycling j%3, so numpy on the pool alone reproduces every
    sampled anchor's nearest same/diff candidate."""
    import numpy as np

    from dask_cuml_spark.operators.knn import classwise_nearest

    n = 1_050_001
    pool_n = 2_000
    anchors = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).cast("int").alias("label"),
        F.array(
            F.col("id").cast("double") * 0.001, F.lit(0.0)
        ).alias("embedding"),
    )
    pool = spark.range(pool_n).select(
        (F.col("id") * 211).alias("vec_id"),
        ((F.col("id") * 211) % 3).cast("int").alias("label"),
        F.array(
            (F.col("id") * 211).cast("double") * 0.001, F.lit(0.0)
        ).alias("embedding"),
    )
    out = classwise_nearest(
        anchors, strategy="blocked", candidates=pool
    ).localCheckpoint()
    # every anchor finds both sides (pool labels cycle 0,1,2)
    assert out.count() == 2 * n
    # spot-verify sampled anchors against the numpy truth on the pool
    pids = np.arange(pool_n, dtype=np.int64) * 211
    px = pids.astype(np.float64) * 0.001
    plab = pids % 3
    sample_ids = [0, 1, 2, 500_000, 1_000_000, 1_050_000]
    got = {
        (r.vec_id, r.same): (r.neighbor_id, r.dist_sq)
        for r in out.filter(
            F.col("vec_id").isin([int(s) for s in sample_ids])
        ).collect()
    }
    for a in sample_ids:
        ax, alab = a * 0.001, a % 3
        d2 = (px - ax) ** 2
        for same in (True, False):
            mask = (plab == alab) if same else (plab != alab)
            if same:
                mask = mask & (pids != a)
            cand = np.lexsort((pids[mask], d2[mask]))[0]
            want_id = pids[mask][cand]
            want_d2 = d2[mask][cand]
            nid, nd2 = got[(a, same)]
            assert nid == want_id, (a, same, nid, want_id)
            assert abs(nd2 - want_d2) <= 1e-9 * max(1.0, want_d2)


def test_classwise_nearest_ann_invariants(spark):
    """classwise_nearest_ann (q156's operator) against the exact
    broadcast path on the fixture: (a) rank domination — an ANN
    distance can never beat the exact one (every candidate considered
    is a true corpus member); (b) both sides covered for every anchor
    at the fixture operating point; (c) the same blocked/broadcast
    kernel is reused, so any agreement hit is pure probe recall."""
    from dask_cuml_spark.operators.ivf import IVFIndex
    from dask_cuml_spark.operators.knn import (
        classwise_nearest,
        classwise_nearest_ann,
    )

    e = load_table(spark, SF, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    idx = IVFIndex(n_cells=8, kmeans_iters=3).fit(e)
    ann = {
        (r.vec_id, r.same): (r.neighbor_id, r.dist_sq)
        for r in classwise_nearest_ann(e, idx, nprobe=2).collect()
    }
    exact = {
        (r.vec_id, r.same): (r.neighbor_id, r.dist_sq)
        for r in classwise_nearest(e, strategy="broadcast").collect()
    }
    n = e.count()
    assert len(exact) == 2 * n
    assert len(ann) == 2 * n  # full coverage at nprobe=2 on the fixture
    for key, (nid, d2) in ann.items():
        xid, xd2 = exact[key]
        assert d2 >= xd2 - 1e-9, (key, d2, xd2)  # rank domination
        if nid == xid:  # same neighbor → same distance (shared kernel)
            assert abs(d2 - xd2) <= 1e-9 * max(1.0, xd2)


def test_classwise_nearest_ann_requires_label_in_index(spark):
    import pytest as _pytest

    from dask_cuml_spark.operators.ivf import IVFIndex
    from dask_cuml_spark.operators.knn import classwise_nearest_ann

    e = load_table(spark, SF, "embeddings")
    idx = IVFIndex(n_cells=4, kmeans_iters=2).fit(
        e.select("vec_id", "embedding")
    )
    with _pytest.raises(ValueError, match="label"):
        classwise_nearest_ann(e, idx)


def test_q154_strategy_agreement(spark):
    """House rule for size-gated strategy pairs: the expr formulation
    (broadcast crossJoin + struct-min agg — the oracle-shaped path the
    driver gate runs) and the one-pass GEMM kernel must produce the
    SAME mined triplets on the same fixture — ids exactly, distances
    at the rounded precision the query emits (the kernel's
    norm-expansion d² may differ from the expression fold in the last
    ulp, never past 1e-6)."""
    import dask_cuml_spark.queries.vector as V

    e = load_table(spark, SF, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    n = e.count()
    assert n * (n - 1) <= V._Q154_EXPR_MAX_PAIRS  # gate: expr at SF
    expr_out = sorted(
        map(tuple, V.q154_triplet_mining(spark, SF).collect())
    )
    saved = V._Q154_EXPR_MAX_PAIRS
    V._Q154_EXPR_MAX_PAIRS = 0  # force the kernel path
    try:
        kern_out = sorted(
            map(tuple, V.q154_triplet_mining(spark, SF).collect())
        )
    finally:
        V._Q154_EXPR_MAX_PAIRS = saved
    assert len(expr_out) == len(kern_out) == n
    assert expr_out == kern_out


def test_q159_merge_table_is_the_trained_artifact(spark):
    """q159's fixed merge list must be exactly what the canonical BPE
    trainer (count adjacent pairs corpus-weighted -> argmax by
    (count desc, pair asc) -> merge everywhere, 12 rounds) learns on
    the fixture vocabulary — the table is a trained artifact, not an
    arbitrary constant, and this guards both fixture drift and the
    apply chain's pass semantics (the trainer merges with the same
    left-to-right non-overlap the replace() chain computes)."""
    import collections

    import dask_cuml_spark.queries.text as T

    vocab = {
        r["term"]: r["n"]
        for r in load_table(spark, SF, "documents")
        .select(F.explode(T.tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    work = {tuple(t): c for t, c in vocab.items()}
    merges = []
    for _ in range(len(T._Q159_MERGES)):
        pairs = collections.Counter()
        for sym, cnt in work.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += cnt
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        merges.append(best)
        new = {}
        for sym, cnt in work.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + cnt
        work = new
    assert tuple(merges) == tuple(T._Q159_MERGES)
    # and the registered query's pieces equal the trainer's final state
    got = {
        r["term"]: tuple(r["pieces"].split(" "))
        for r in T.q159_bpe_apply(spark, SF).collect()
    }
    want = {}
    for sym in work:
        # reconstruct term -> symbols from the final trainer state
        want["".join(sym)] = sym
    assert got == want


def test_postings_layout_serving_and_incremental_refresh(spark, tmp_path):
    """The BM25 postings layout (r15): (a) a provisioned session's
    q155 serves from the stored inverted index with VALUE-identical
    results (same full-value oracle); (b) an append-only ingest takes
    the incremental path — the full writer is poisoned for the
    duration — appending the batch's postings into the bucketed table
    and ONE additive stats delta row; afterwards stored postings ≡ a
    fresh derivation over the grown corpus bit-for-bit and the summed
    stats equal the grown corpus's (n_docs, sum_dl)."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.layouts as L
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.io import load_table as lt
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.streaming.ingest import synth_staging_files

    sf = str(tmp_path / "sf")
    ddir = f"{sf}/documents.parquet"
    os.makedirs(ddir)
    td = pq_mod.read_table("/root/testdata/sf0.001/documents.parquet")
    pq_mod.write_table(td, os.path.join(ddir, "part-0.parquet"))

    plain = sorted(
        map(tuple, T.q155_bm25_retrieval(spark, sf).collect())
    )
    first = ensure_layouts(spark, sf, layouts=("postings",))
    assert first["postings"] > 0.0
    ptbl, stbl = T._postings_tables(sf)
    served = sorted(
        map(tuple, T.q155_bm25_retrieval(spark, sf).collect())
    )
    assert served == plain

    # append a batch (strictly new part files), poison the full writer
    synth_staging_files(
        str(tmp_path / "stage"), n_batches=1, rows_per_batch=50,
        start_doc_id=1 + max(td.column("doc_id").to_pylist()),
    )
    import shutil

    shutil.copy(
        str(tmp_path / "stage" / "ingest-00000.parquet"),
        os.path.join(ddir, "part-ingest-x-00000.parquet"),
    )

    def _boom(*_a, **_k):
        raise AssertionError("full postings rebuild ran during refresh")

    saved = L.build_layout
    L.build_layout = _boom
    try:
        again = ensure_layouts(spark, sf, layouts=("postings",))
    finally:
        L.build_layout = saved
    assert again["postings"] > 0.0  # refresh ran, not 0.0, not rebuild

    ptbl2, stbl2 = T._postings_tables(sf)
    assert ptbl2 != ptbl  # new source fingerprint
    stored = sorted(map(tuple, spark.table(ptbl2).collect()))
    fresh = sorted(
        map(tuple, T._postings_frame(spark, sf).collect())
    )
    assert stored == fresh and len(stored) > 0
    srow = (
        spark.table(stbl2)
        .agg(F.sum("n_docs"), F.sum("sum_dl"))
        .first()
    )
    truth = (
        T._postings_stats_delta(lt(spark, sf, "documents")).first()
    )
    assert (srow[0], srow[1]) == (truth[0], truth[1])
    assert spark.table(stbl2).count() == 2  # base row + one delta row

    # serving off the refreshed layout still equals the plain recompute
    served2 = sorted(
        map(tuple, T.q155_bm25_retrieval(spark, sf).collect())
    )
    plain2 = sorted(
        map(
            tuple,
            T.bm25_rank(
                lt(spark, sf, "documents"), T._Q155_TERMS
            ).collect(),
        )
    )
    assert served2 == plain2

    for t in (ptbl2, stbl2):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cms_layout_additive_refresh(spark, tmp_path):
    """The stored CMS sketch (r15): a mergeable summary, so the
    incremental path appends ONE batch-sized delta set and readers SUM
    — after an append-only ingest (full writer poisoned), the summed
    stored counters equal a from-scratch recount of the grown corpus
    bit-for-bit, and q160's point queries serve identically from the
    sketch and the plain recompute."""
    import os
    import shutil

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.layouts as L
    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.streaming.ingest import synth_staging_files

    sf = str(tmp_path / "sf")
    ddir = f"{sf}/documents.parquet"
    os.makedirs(ddir)
    td = pq_mod.read_table("/root/testdata/sf0.001/documents.parquet")
    pq_mod.write_table(td, os.path.join(ddir, "part-0.parquet"))

    plain = sorted(
        map(tuple, T.q160_cms_point_query(spark, sf).collect())
    )
    plain158 = sorted(
        map(tuple, T.q158_cms_heavy_hitters(spark, sf).collect())
    )
    first = ensure_layouts(spark, sf, layouts=("cms",))
    assert first["cms"] > 0.0
    served = sorted(
        map(tuple, T.q160_cms_point_query(spark, sf).collect())
    )
    assert served == plain
    # q158's candidate scoring reads the same stored (r,bucket) SUM
    # (r16): heavy hitters must be identical served vs plain
    served158 = sorted(
        map(tuple, T.q158_cms_heavy_hitters(spark, sf).collect())
    )
    assert served158 == plain158

    synth_staging_files(
        str(tmp_path / "stage"), n_batches=1, rows_per_batch=40,
        start_doc_id=1 + max(td.column("doc_id").to_pylist()),
    )
    shutil.copy(
        str(tmp_path / "stage" / "ingest-00000.parquet"),
        os.path.join(ddir, "part-ingest-x-00000.parquet"),
    )

    def _boom(*_a, **_k):
        raise AssertionError("full cms rebuild ran during refresh")

    saved = L.build_layout
    L.build_layout = _boom
    try:
        again = ensure_layouts(spark, sf, layouts=("cms",))
    finally:
        L.build_layout = saved
    assert again["cms"] > 0.0

    (tbl,) = T._cms_tables(sf)
    stored = sorted(
        map(
            tuple,
            spark.table(tbl)
            .groupBy("r", "bucket")
            .agg(F.sum("c").alias("c"))
            .collect(),
        )
    )
    fresh = sorted(map(tuple, T._cms_counters(spark, sf).collect()))
    assert stored == fresh and len(stored) > 0
    served2 = sorted(
        map(tuple, T.q160_cms_point_query(spark, sf).collect())
    )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    plain2 = sorted(
        map(tuple, T.q160_cms_point_query(spark, sf).collect())
    )
    assert served2 == plain2


def test_q160_stored_sketch_is_one_aggregate(spark, tmp_path):
    """q160 reads the stored sketch in ONE aggregate over in-plan
    literals: on a two-term corpus most candidates hit a counter no
    token reached (est_n = 0), and stored ≡ plain ≡ the DuckDB oracle;
    the stored branch's executed plan scans no Python RDD and has
    exactly one hash exchange (the term-keyed aggregate), and running
    it launches at most 3 jobs."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    import duckdb

    import dask_cuml_spark.queries.text as T
    from dask_cuml_spark.benchlib import max_job_id
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.oracle import compare
    from dask_cuml_spark.registry import ORACLES

    sf = str(tmp_path / "sf")
    ddir = f"{sf}/documents.parquet"
    os.makedirs(ddir)
    td = pq_mod.read_table("/root/testdata/sf0.001/documents.parquet")
    td = td.slice(0, 3).set_column(
        td.schema.get_field_index("text"),
        "text",
        pa.array(["vector fast", "vector", "fast vector vector"]),
    )
    pq_mod.write_table(td, os.path.join(ddir, "part-0.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{ddir}/*.parquet')"
    )
    oracle = con.execute(ORACLES["q160_cms_point_query"]).df()
    con.close()

    plain_df = T.q160_cms_point_query(spark, sf)
    ok, report = compare(plain_df.toPandas(), oracle)
    assert ok, report
    plain = sorted(map(tuple, plain_df.collect()))
    assert len(plain) == len(T._Q160_TERMS)
    assert any(n == 0 for _t, n in plain), plain
    assert dict(plain)["vector"] >= 4 and dict(plain)["fast"] >= 2

    (tbl,) = T._cms_tables(sf)
    try:
        ensure_layouts(spark, sf, layouts=("cms",))
        assert spark.catalog.tableExists(tbl)
        df = T.q160_cms_point_query(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        j0 = max_job_id(spark)
        stored = sorted(map(tuple, df.collect()))
        assert max_job_id(spark) - j0 <= 3
        assert stored == plain
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_audio_fingerprints_hand_built_and_strictness(spark):
    """audio_fingerprints (q161's operator, audio's first): a
    hand-built PCM payload with bursts planted at known frames must
    fingerprint to the hand-computed base-131 position fold; a
    payload of the wrong byte length must RAISE (malformed audio
    never fingerprints as silence — the q128 strict-decode
    convention)."""
    import numpy as np
    import pytest as _pytest

    from dask_cuml_spark.operators.multimodal import audio_fingerprints

    fw, nf = 16, 8
    x = np.zeros(fw * nf, dtype=np.int64)
    for p in (2, 5):  # bursts at frames 2 and 5
        x[p * fw : (p + 1) * fw] = 500
    good = x.astype("<i2").tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(good))], "doc_id long, payload binary"
    )
    row = audio_fingerprints(df, frame_w=fw, n_frames=nf).first()
    assert row.n_samples == fw * nf
    assert row.n_peaks == 2
    assert row.fp == (2 + 1) * 1 + (5 + 1) * 131  # ascending fold
    bad = spark.createDataFrame(
        [(2, bytearray(good[:-2]))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="expected"):
        audio_fingerprints(bad, frame_w=fw, n_frames=nf).collect()


def test_q162_multi_layout_serving_identity(spark, tmp_path):
    """q162 (round 16) is the first MULTI-layout consumer: with the
    postings inverted index AND the binary-signature index both
    provisioned, the sparse leg serves from the stored postings
    (q155's branch) and the dense leg from the stored signatures
    (hamming shortlist + exact re-rank) in ONE query — and the fused
    output is EXACTLY the plain session's (the shortlist is sized ≥
    the fixture corpus, so the served exact re-rank sees every
    candidate — identity is structural there; at scale shortlist
    recall is the measured knob, never silent)."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.queries.text import _postings_tables

    sf = str(tmp_path / "sf")
    for t in ("documents", "embeddings"):
        tdir = f"{sf}/{t}.parquet"
        os.makedirs(tdir)
        pq_mod.write_table(
            pq_mod.read_table(f"/root/testdata/sf0.001/{t}.parquet"),
            os.path.join(tdir, "part-0.parquet"),
        )
    plain = sorted(
        map(tuple, V.q162_hybrid_rrf_retrieval(spark, sf).collect())
    )
    assert len(plain) > 0
    built = ensure_layouts(spark, sf, layouts=("postings", "signs"))
    assert built["postings"] > 0.0 and built["signs"] > 0.0
    # both gates really open — the query takes both stored paths
    ptbl, stbl = _postings_tables(sf)
    (sig,) = V._sig_tables(sf)
    assert spark.catalog.tableExists(ptbl)
    assert spark.catalog.tableExists(stbl)
    assert spark.catalog.tableExists(sig)
    served = sorted(
        map(tuple, V.q162_hybrid_rrf_retrieval(spark, sf).collect())
    )
    assert served == plain


def test_scene_cut_flags_hand_built_and_strict(spark):
    """scene_cut_flags (q163's operator) on hand-built frame tables:
    planted cuts recovered exactly — within-shot dHash distance is 0
    under per-frame brightness shifts AND replication rescales (the
    two provable invariances), cross-shot distance ≥ 16 via the
    parity strip — frame 0 is never a cut, and a malformed payload
    raises (the strict-decode convention)."""
    import numpy as np
    import pytest as _pytest

    from dask_cuml_spark.operators.multimodal import (
        _png_encode_gray,
        scene_cut_flags,
    )
    from dask_cuml_spark.queries.pandas_udfs import _q163_pattern

    rows = []
    # video 7: cut planted at frame 2; brightness varies per frame
    for f in range(4):
        shot = 1 if f >= 2 else 0
        img = (_q163_pattern(7, shot) + (f % 3) * 5).astype(np.uint8)
        rows.append((7, f, bytearray(_png_encode_gray(img))))
    # video 8: ONE shot, per-frame replication rescale (sig-invariant)
    for f in range(3):
        img = np.repeat(
            np.repeat(_q163_pattern(8, 0), 1 + f % 2, axis=0), 2, axis=1
        ).astype(np.uint8)
        rows.append((8, f, bytearray(_png_encode_gray(img))))
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, payload binary"
    )
    out = {
        (r.doc_id, r.frame_idx): (r.ham, r.is_cut)
        for r in scene_cut_flags(
            df, tau=6, decode_mode="png"
        ).collect()
    }
    assert out[(7, 0)] == (None, False)
    assert out[(7, 1)] == (0, False)
    assert out[(7, 2)][0] >= 16 and out[(7, 2)][1]
    assert out[(7, 3)] == (0, False)
    assert all(out[(8, f)][0] in (None, 0) for f in range(3))
    assert not any(out[(8, f)][1] for f in range(3))
    bad = spark.createDataFrame(
        [(9, 0, bytearray(b"notapng"))],
        "doc_id long, frame_idx int, payload binary",
    )
    with _pytest.raises(Exception, match="PNG|png|decode|signature"):
        scene_cut_flags(bad, decode_mode="png").collect()


def test_ingest_stream_all_eight_layouts_chaos(spark, tmp_path):
    """r16 verdict task 5: ALL EIGHT stored layouts driven through
    ingest streams in one test, with interleaved refresh modes in a
    single run — a partially-built layout (its sidecar dropped) must
    fall back to its FULL writer while every other layout refreshes
    incrementally (their full writers are poisoned to prove it), with
    write-marker files (_SUCCESS, .crc, underscore-named parquet)
    dropped into both corpus dirs mid-stream (markers must be skipped
    by the append detector and by every reader, never consumed into a
    manifest as real data). Afterwards every layout's stored state
    equals a fresh derivation over the grown corpus."""
    import os

    import pyarrow.parquet as pq_mod

    import dask_cuml_spark.layouts as L
    import dask_cuml_spark.queries.pandas_udfs as P
    import dask_cuml_spark.queries.relational as R
    import dask_cuml_spark.queries.text as T
    import dask_cuml_spark.queries.vector as V
    from dask_cuml_spark.io import load_table as lt
    from dask_cuml_spark.layouts import ensure_layouts
    from dask_cuml_spark.operators.binhash import (
        hyperplanes,
        sign_signatures,
    )
    from dask_cuml_spark.operators.dedup import hashed_shingles
    from dask_cuml_spark.streaming.ingest import (
        run_ingest_stream,
        synth_staging_files,
    )

    sf = str(tmp_path / "sf")
    srcs = {}
    for t in ("documents", "embeddings", "orders", "lineitem"):
        tdir = f"{sf}/{t}.parquet"
        os.makedirs(tdir)
        srcs[t] = pq_mod.read_table(
            f"/root/testdata/sf0.001/{t}.parquet"
        )
        pq_mod.write_table(
            srcs[t], os.path.join(tdir, "part-0.parquet")
        )
    ddir, edir = f"{sf}/documents.parquet", f"{sf}/embeddings.parquet"
    eight = (
        "q02", "grams", "q112", "pq", "signs", "pack", "postings",
        "cms",
    )
    first = ensure_layouts(spark, sf, layouts=eight)
    assert all(first[n] > 0.0 for n in eight)

    start = 1 + max(
        srcs["documents"].column("doc_id").to_pylist()
        + srcs["embeddings"].column("vec_id").to_pylist()
    )
    # stream A: clean append — every corpus layout incremental, q02
    # (orders/lineitem untouched by ingest) a 0.0 no-op
    synth_staging_files(
        str(tmp_path / "stageA"), n_batches=1, rows_per_batch=40,
        start_doc_id=start,
    )
    stats_a = run_ingest_stream(
        spark, sf, str(tmp_path / "stageA"),
        str(tmp_path / "ckptA"), layouts=eight,
    )
    assert [s["rows"] for s in stats_a] == [40]
    assert set(stats_a[0]["refresh_sec"]) == set(eight)
    assert stats_a[0]["refresh_sec"]["q02"] == 0.0

    # chaos before stream B: (1) partial build — drop the postings
    # STATS sidecar only; (2) write-marker litter in both corpus dirs
    _ppt, _pst = T._postings_tables(sf)
    spark.sql(f"DROP TABLE IF EXISTS {_pst}")
    open(os.path.join(ddir, "_SUCCESS"), "w").close()
    with open(os.path.join(ddir, ".stray.crc"), "w") as fh:
        fh.write("junk")
    with open(os.path.join(ddir, "_hidden.parquet"), "w") as fh:
        fh.write("not parquet at all")
    open(os.path.join(edir, "_SUCCESS"), "w").close()

    # stream B: postings MUST take its full writer (spied), every
    # other corpus layout MUST stay incremental (poisoned)
    calls = {"postings": 0}
    real_build = L.build_layout

    def _spy(sp, sd, name):
        if name != "postings":
            raise AssertionError("poisoned full writer ran during stream B")
        calls["postings"] += 1
        return real_build(sp, sd, name)

    synth_staging_files(
        str(tmp_path / "stageB"), n_batches=1, rows_per_batch=40,
        start_doc_id=start + 40,
    )
    L.build_layout = _spy
    try:
        stats_b = run_ingest_stream(
            spark, sf, str(tmp_path / "stageB"),
            str(tmp_path / "ckptB"), layouts=eight,
        )
    finally:
        L.build_layout = real_build
    assert [s["rows"] for s in stats_b] == [40]
    assert calls["postings"] >= 1  # the fallback full rebuild ran

    d_grown = lt(spark, sf, "documents")
    e_grown = lt(spark, sf, "embeddings")
    assert d_grown.count() == srcs["documents"].num_rows + 80
    assert e_grown.count() == srcs["embeddings"].num_rows + 80

    # --- per-layout stored ≡ fresh over the grown corpus ---
    # grams
    stored = sorted(
        map(tuple, spark.table(T._gram_table(sf)).collect())
    )
    fresh = sorted(
        map(tuple, T._positioned_grams(spark, sf).collect())
    )
    assert stored == fresh and len(stored) > 0
    # signs
    e_ne = e_grown.select("vec_id", "embedding")
    dim = len(
        e_ne.filter(F.col("embedding").isNotNull()).first()["embedding"]
    )
    fresh_sigs = sorted(
        (r[0], list(r[1]))
        for r in sign_signatures(
            e_ne, "vec_id", "embedding", hyperplanes(128, dim, 7)
        ).collect()
    )
    (st,) = V._sig_tables(sf)
    stored_sigs = sorted(
        (r[0], list(r[1])) for r in spark.table(st).collect()
    )
    assert stored_sigs == fresh_sigs and len(stored_sigs) > 0
    # pq: serving contract reads the refreshed store, full coverage
    _cb, _ct, coded, from_layout = V._pq_serving(spark, sf)
    assert from_layout and coded.count() == e_grown.count()
    # pack
    stored_pack = sorted(
        map(tuple, spark.table(T._pack_tables(sf)[0]).collect())
    )
    fresh_pack = sorted(
        map(tuple, T._placements_plain(spark, sf).collect())
    )
    assert stored_pack == fresh_pack and len(stored_pack) > 0
    # postings (rebuilt from scratch mid-chaos): table ≡ fresh AND the
    # stats sidecar sums to the grown corpus truth again
    pptbl, pstbl = T._postings_tables(sf)
    stored_post = sorted(map(tuple, spark.table(pptbl).collect()))
    fresh_post = sorted(
        map(tuple, T._postings_frame(spark, sf).collect())
    )
    assert stored_post == fresh_post and len(stored_post) > 0
    srow = spark.table(pstbl).agg(
        F.sum("n_docs"), F.sum("sum_dl")
    ).first()
    struth = T._postings_stats_delta(d_grown).first()
    assert (srow[0], srow[1]) == (struth[0], struth[1])
    # cms: summed stored deltas ≡ a from-scratch recount
    (ctbl,) = T._cms_tables(sf)
    stored_cms = sorted(
        map(
            tuple,
            spark.table(ctbl)
            .groupBy("r", "bucket")
            .agg(F.sum("c").alias("c"))
            .collect(),
        )
    )
    fresh_cms = sorted(
        map(tuple, T._cms_counters(spark, sf).collect())
    )
    assert stored_cms == fresh_cms and len(stored_cms) > 0
    # q112: stored shingle index ≡ fresh derivation (its corpus slice)
    _bt, q112_st = P._q112_index_tables(sf)
    stored_sh = sorted(
        (r[0], sorted(r[1]))
        for r in spark.table(q112_st).collect()
    )
    fresh_sh = sorted(
        (r[0], sorted(r[1]))
        for r in hashed_shingles(
            d_grown.filter(F.col("doc_id") % 2 == 0).select(
                "doc_id", "text"
            ),
            "text",
            P._Q112_PARAMS["n"],
        ).select("doc_id", "shingles").collect()
    )
    assert stored_sh == fresh_sh and len(stored_sh) > 0
    # q02: bucketed tables still serve the (unchanged) fact tables
    bo, bl = R._q02_bucket_tables(sf)
    assert spark.table(bo).count() == srcs["orders"].num_rows
    assert spark.table(bl).count() == srcs["lineitem"].num_rows
    assert stats_b[0]["refresh_sec"]["q02"] == 0.0

    # cleanup: drop every layout table (its manifest goes with it)
    for tname in (
        T._gram_table(sf), st, *V._pq_tables(sf), T._pack_tables(sf)[0],
        pptbl, pstbl, ctbl, _bt, q112_st, bo, bl,
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
