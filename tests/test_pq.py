"""Product-quantization ANN (dedup/pq.py): codebook determinism,
encode correctness vs numpy, ADC recall floor vs exact cosine."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.dedup import embedding as emb
from data_prepper_spark.dedup.pq import (
    _encode_np, _normalize, pq_encode, pq_fit, pq_topk, pq_train,
)


def _clustered(seed=3, n_clusters=8, per=40, dim=8):
    rng = np.random.RandomState(seed)
    centers = rng.normal(0, 1, (n_clusters, dim))
    rows, vid = [], 0
    for c in centers:
        for _ in range(per):
            rows.append((vid, (c + rng.normal(0, 0.12, dim)).tolist()))
            vid += 1
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _clustered()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return rows, df


def test_fit_deterministic():
    X = np.random.RandomState(0).normal(0, 1, (200, 8))
    a = pq_fit(X, m=4, ksub=16, seed=7)
    b = pq_fit(X, m=4, ksub=16, seed=7)
    assert np.array_equal(a, b)
    c = pq_fit(X, m=4, ksub=16, seed=8)
    assert not np.array_equal(a, c)


@pytest.mark.parametrize("iters", [1, 10])
def test_fit_reseeds_dead_centroids_from_distinct_points(iters):
    """Duplicate rows make the seeded init (seed 1) pick one point three
    times: the copies lose every point to the first and die in the same
    iteration. Each must be re-seeded from its own worst-fit point, or
    they land on one spot and stay redundant."""
    X = np.array([[0.0, 0.0]] * 6 + [[1.0, 0.0]] * 6
                 + [[5.0, 5.0], [9.0, -3.0], [-4.0, 7.0]])
    init = X[np.random.RandomState(1).permutation(len(X))[:5]]
    assert len({tuple(c) for c in init}) == 2  # three dead centroids
    books = pq_fit(X, m=1, ksub=5, iters=iters, seed=1, normalize=False)[0]
    assert len({tuple(c) for c in books}) == 5


def test_fit_reduces_quantization_error():
    X = _normalize(np.random.RandomState(1).normal(0, 1, (300, 8)))
    books = pq_fit(X, m=4, ksub=16, iters=10, seed=7)
    books0 = pq_fit(X, m=4, ksub=16, iters=0, seed=7)

    def mse(bk):
        codes = _encode_np(X, bk)
        rec = np.concatenate(
            [bk[j][codes[:, j]] for j in range(4)], axis=1
        )
        return ((X - rec) ** 2).mean()

    assert mse(books) < mse(books0)


def test_encode_matches_numpy(spark, corpus):
    rows, df = corpus
    books = pq_train(df, m=4, ksub=16, seed=7)
    got = {r["vec_id"]: r["codes"] for r in pq_encode(df, books).collect()}
    V = _normalize(np.array([v for _, v in rows]))
    want = _encode_np(V, books)
    for i, (vid, _) in enumerate(rows):
        assert got[vid] == want[i].astype(int).tolist()


def test_adc_recall_at_r(spark, corpus):
    # The standard PQ metric is recall@R: the fraction of the true
    # top-k found in the ADC top-R (R > k) — on this corpus each
    # query's 40-point cluster sits in a ~0.02-wide cosine band, so
    # the exact top-10 ORDER inside it is decided by margins smaller
    # than the quantization error (ADC/exact correlation is ~0.9996;
    # FAISS reports the same regime). Containment is what PQ
    # guarantees; pq_refine_topk (tested below) recovers the exact
    # order from the containment set.
    rows, df = corpus
    books = pq_train(df, m=4, ksub=64, seed=7)
    enc = pq_encode(df, books).repartition(4)
    queries = spark.createDataFrame(
        [(f"q{i}", rows[i * 37][1]) for i in range(8)],
        "query_id string, embedding array<double>",
    )
    approx = pq_topk(enc, queries, books, k=40)
    exact = emb.brute_force_topk(df, queries, k=10)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.9, recall


def test_topk_partition_invariant(spark, corpus):
    rows, df = corpus
    books = pq_train(df, m=4, ksub=16, seed=7)
    q = spark.createDataFrame(
        [("q0", rows[5][1])], "query_id string, embedding array<double>"
    )
    a = pq_topk(pq_encode(df, books).repartition(1), q, books, k=5).collect()
    b = pq_topk(pq_encode(df, books).repartition(7), q, books, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["adc_score"])
    assert sorted(map(key, a)) == sorted(map(key, b))



def test_topk_partition_cut_uses_rounded_scores(spark):
    """Two ids whose ADC scores tie at the 6 reported decimals and
    differ in the 7th: the per-partition cut must rank them like the
    global merge (score rounded, then id asc), or the answer depends
    on how the codes are partitioned."""
    books = np.array([[[0.50000004, 0.0], [0.50000001, 0.0]]])
    codes = spark.createDataFrame(
        [(1, [1]), (2, [0])], "vec_id long, codes array<int>")
    q = spark.createDataFrame(
        [("q0", [1.0, 0.0])], "query_id string, embedding array<double>")
    got = [
        [(r["vec_id"], r["adc_score"])
         for r in pq_topk(parts, q, books, k=1).collect()]
        for parts in (codes.repartition(1),
                      codes.repartitionByRange(2, "vec_id"))
    ]
    assert got == [[(1, 0.5)], [(1, 0.5)]]

def test_compression_is_m_codes(spark, corpus):
    _, df = corpus
    books = pq_train(df, m=4, ksub=16, seed=7)
    enc = pq_encode(df, books)
    assert enc.select(F.max(F.size("codes"))).first()[0] == 4
    assert enc.select(F.max(F.array_max("codes"))).first()[0] < 16
    assert enc.count() == df.count()


def test_dim_not_divisible_raises():
    with pytest.raises(ValueError):
        pq_fit(np.zeros((10, 7)), m=4)


def test_ivfpq_recall_and_filter(spark, corpus):
    from data_prepper_spark.dedup.pq import ivfpq_topk

    rows, df = corpus
    queries = spark.createDataFrame(
        [(f"q{i}", rows[i * 37][1]) for i in range(8)],
        "query_id string, embedding array<double>",
    )
    got = ivfpq_topk(
        df, queries, k=40, n_lists=8, n_probe=4, m=4, ksub=64, seed=7
    )
    exact = emb.brute_force_topk(df, queries, k=10)
    a = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.9, len(a & e) / len(e)
    # efficient pre-filter: candidates restricted BEFORE scoring
    flt = ivfpq_topk(
        df, queries, k=10, n_lists=8, n_probe=8, m=4, ksub=64, seed=7,
        filter="vec_id % 2 = 0",
    )
    assert all(r["vec_id"] % 2 == 0 for r in flt.collect())
    assert flt.filter("query_id = 'q0'").count() == 10


def test_ivfpq_residual_adc_tracks_exact_cosine(spark, corpus):
    # the IVFADC score q.centroid + LUT(residual codes) must track the
    # true cosine closely on probed cells (residual quantization
    # carries more precision per code than raw-vector PQ)
    from data_prepper_spark.dedup.pq import ivfpq_topk

    rows, df = corpus
    q = spark.createDataFrame(
        [("q0", rows[5][1])], "query_id string, embedding array<double>"
    )
    got = ivfpq_topk(df, q, k=20, n_lists=8, n_probe=8, m=4, ksub=64)
    V = _normalize(np.array([v for _, v in rows]))
    qv = V[5]
    err = [
        abs(r["adc_score"] - float(V[r["vec_id"]] @ qv))
        for r in got.collect()
    ]
    assert max(err) < 0.05, max(err)


def test_ivfpq_rerun_deterministic(spark, corpus):
    # same input frame -> identical output twice (seeded coarse fit,
    # md5-ordered codebook sample, rounded scores, id tiebreaks).
    # NOTE: exact identity across REPARTITIONINGS is not promised —
    # MLlib's k-means|| init is partition-sensitive, so a different
    # layout can converge to different (equally valid) cells; the
    # recall contract is what must hold regardless, checked below.
    from data_prepper_spark.dedup.pq import ivfpq_topk

    rows, df = corpus
    q = spark.createDataFrame(
        [("q0", rows[100][1])], "query_id string, embedding array<double>"
    )
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["adc_score"])
    a = ivfpq_topk(df, q, k=5, n_lists=4, n_probe=2).collect()
    b = ivfpq_topk(df, q, k=5, n_lists=4, n_probe=2).collect()
    assert sorted(map(key, a)) == sorted(map(key, b))
    # a different layout must still find the query's own cluster
    c = ivfpq_topk(
        df.repartition(9), q, k=40, n_lists=4, n_probe=2, ksub=64
    )
    exact = emb.brute_force_topk(df, q, k=10)
    got = {r["vec_id"] for r in c.collect()}
    want = {r["vec_id"] for r in exact.collect()}
    assert len(got & want) / len(want) >= 0.9


def test_refine_beats_raw_adc(spark, corpus):
    from data_prepper_spark.dedup.pq import pq_refine_topk

    rows, df = corpus
    books = pq_train(df, m=4, ksub=16, seed=7)
    enc = pq_encode(df, books).repartition(4)
    queries = spark.createDataFrame(
        [(f"q{i}", rows[i * 37][1]) for i in range(8)],
        "query_id string, embedding array<double>",
    )
    refined = pq_refine_topk(enc, df, queries, books, k=10, refine=4)
    exact = emb.brute_force_topk(df, queries, k=10)
    r = {(x["query_id"], x["vec_id"]) for x in refined.collect()}
    e = {(x["query_id"], x["vec_id"]) for x in exact.collect()}
    raw = {
        (x["query_id"], x["vec_id"])
        for x in pq_topk(enc, queries, books, k=10).collect()
    }
    assert len(r & e) >= len(raw & e)
    assert len(r & e) / len(e) >= 0.85
    # exact cosine scores on the refined ranks
    ref_top1 = {x["query_id"]: x["cosine"]
                for x in refined.filter("rank = 1").collect()}
    assert all(v > 0.99 for v in ref_top1.values())  # self-match
