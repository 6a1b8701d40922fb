"""Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI — public
method). The memory-bounded leg of the ANN family: LSH (no fit),
IVF (learned cells), HNSW (graph serving frontier) all keep the raw
float vectors; PQ replaces each vector with `m` one-byte codes
(m=8 → 8 bytes/vector vs 3 KB for a 768-dim float32 embedding), which
is what makes a 10^12-vector corpus *fit* anywhere. Queries score
codes with asymmetric distance computation (ADC): one small
lookup-table build per query, then a table-gather per code — no float
vector is ever read at query time.

Spark shape at 100 TB:
- fit: per-subspace Lloyd k-means on a bounded driver-side sample
  (FAISS trains PQ codebooks on a sample too — the codebook is
  m·256·dsub floats, KBs); deterministic seed → rerun-identical.
- encode: ONE narrow mapInPandas pass (vectorized argmin per
  subspace); output (id, codes binary) is the index — write it
  partitioned however the corpus is partitioned, no shuffle.
- query: broadcast the (small) query batch, one narrow pass computes
  ADC scores per partition and keeps a per-partition top-k, then one
  tiny global merge. Same fan-out/merge shape as hnsw.py.

Cosine convention: vectors and queries are L2-normalized before
quantization, so the ADC inner product approximates cosine — the same
score surface as the sibling paths (dedup/embedding.py `cosine`).
Divergence from the paper's IVFADC: codes quantize the normalized
vectors directly, not residuals against a coarse quantizer — the
composition with IVF cells is orthogonal (assign cells with
embedding.ivf_topk's fit, PQ-encode within cells) and the flat ADC
scan here is the building block either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _normalize(V: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(V, axis=1)
    n[n == 0.0] = 1.0
    return V / n[:, None]


def pq_fit(
    sample: np.ndarray, m: int = 4, ksub: int = 16, iters: int = 10,
    seed: int = 7, normalize: bool = True,
) -> np.ndarray:
    """-> codebooks (m, ksub, dsub): per-subspace Lloyd k-means on a
    (by default normalized) training sample. Deterministic: seeded
    init (distinct rows chosen by a seeded permutation), fixed
    iteration count, each empty cluster re-seeded from a distinct
    farthest point. `normalize=False` for residual training (ivfpq_topk):
    residuals are differences of unit vectors and must NOT be
    re-normalized."""
    X = np.asarray(sample, dtype=np.float64)
    if normalize:
        X = _normalize(X)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    ksub = min(ksub, n)
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        Xs = X[:, j * dsub:(j + 1) * dsub]
        C = Xs[rng.permutation(n)[:ksub]].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            # dead centroids re-seed from distinct worst-fit points,
            # worst first: one shared point would keep them redundant
            worst = iter(np.argsort(-d2[np.arange(n), a], kind="stable"))
            for c in range(ksub):
                mask = a == c
                C[c] = Xs[mask].mean(0) if mask.any() else Xs[next(worst)]
        books[j] = C
    return books


def _encode_np(V: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, d) normalized -> (n, m) uint8 code matrix."""
    m, ksub, dsub = books.shape
    codes = np.empty((len(V), m), dtype=np.uint8)
    for j in range(m):
        Xs = V[:, j * dsub:(j + 1) * dsub]
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
        d2 = -2.0 * (Xs @ books[j].T) + (books[j] ** 2).sum(1)[None, :]
        codes[:, j] = d2.argmin(1)
    return codes


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 16,
    sample_size: int = 10000,
    vec_col: str = "embedding",
    seed: int = 7,
) -> np.ndarray:
    """Fit codebooks on a deterministic bounded sample (md5-threshold
    order, no RNG — retry-stable like text/corpus.py sampling)."""
    rows = (
        vectors.select(vec_col)
        .orderBy(F.md5(F.to_json(F.struct(vec_col))))
        .limit(sample_size)
        .collect()
    )
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    return pq_fit(sample, m=m, ksub=ksub, seed=seed)


def pq_encode(
    vectors: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (id_col, codes array<int>): the PQ index. One narrow pass;
    `books` ships to executors via task closure (KBs)."""
    id_field = vectors.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_field}, codes array<int>"

    def enc(batches):
        for pdf in batches:
            V = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            codes = _encode_np(V, books)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "codes": [c.astype(int).tolist() for c in codes],
            })

    return vectors.select(id_col, vec_col).mapInPandas(enc, schema)


def save_books(spark, books: np.ndarray, path: str) -> None:
    """Persist codebooks as a tiny parquet (m·ksub rows) next to the
    codes table — the whole index is plain parquet."""
    m, ksub, _ = books.shape
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(m) for c in range(ksub)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_books(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(path).collect()
    m = max(r["subspace"] for r in rows) + 1
    ksub = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["center"])
    books = np.empty((m, ksub, dsub))
    for r in rows:
        books[r["subspace"], r["code"]] = r["center"]
    return books


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (query_id, rank, vec_id, adc_score): approximate cosine
    top-k by ADC. Per partition: LUT[j, c] = q_sub_j · centroid_c
    (one small matmul per query), score = sum_j LUT[j, codes_j]
    (a pure table gather); per-partition top-k then one global merge
    window over ≤ k·partitions rows."""
    from pyspark.sql import Window

    qid_field = queries.schema[qid_col].dataType.simpleString()
    qrows = queries.select(qid_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    Q = _normalize(np.array([r[1] for r in qrows], dtype=np.float64))
    m, ksub, dsub = books.shape
    # LUTs: (nq, m, ksub) — inner product contributions per subspace
    luts = np.stack([
        np.stack([
            books[j] @ q[j * dsub:(j + 1) * dsub] for j in range(m)
        ]) for q in Q
    ])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            n = len(codes)
            cols = codes + (np.arange(m) * ksub)[None, :]
            out = []
            for qi, qid in enumerate(qids):
                flat = luts[qi].ravel()
                # rounded BEFORE the cut: the partition cut and the
                # global merge window rank on the same (score desc,
                # id asc) key, so the answer is partition-independent
                s = np.round(flat[cols].sum(1), 6)
                top = np.lexsort((ids, -s))[: min(k, n)]
                out.append(pd.DataFrame({
                    qid_col: qid,
                    id_col: ids[top],
                    "adc_score": s[top],
                }))
            yield pd.concat(out, ignore_index=True)

    id_field = encoded.schema[id_col].dataType.simpleString()
    part = encoded.mapInPandas(
        score, f"{qid_col} {qid_field}, {id_col} {id_field}, adc_score double"
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "adc_score")
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 16,
    sample_size: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    seed: int = 7,
    filter: str | Column | None = None,  # noqa: A002 (API parity)
) -> DataFrame:
    """IVFADC — the paper's deployed composition and FAISS's
    `IVFx,PQy`: a coarse k-means quantizer routes each vector to one
    of `n_lists` cells, PQ codebooks quantize the RESIDUAL against the
    cell centroid (residuals have far less energy than raw vectors, so
    the same code budget carries more precision), and a query probes
    only its `n_probe` nearest cells, scoring
    q·x ≈ q·centroid + LUT-gather(residual codes) — the q·centroid
    term is per (query, cell), the LUT is per query and shared across
    cells because codebooks are global.

    Scale shape: one MLlib fit + one narrow encode pass (cell id +
    m bytes per vector); a query touches n_probe/n_lists of the code
    table (bucket-prunable when the codes are written partitioned by
    cell) and never reads a float vector. `filter` pre-filters the
    encoded rows (k-NN efficient-filtering semantics, matching the
    LSH/IVF/HNSW/brute paths).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import Window

    from data_prepper_spark.dedup.embedding import cosine

    spark = vectors.sparkSession
    nrm = F.sqrt(F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    ))
    v = vectors.withColumn(
        "_nv",
        F.transform(
            F.col(vec_col),
            lambda x: x.cast("double")
            / F.when(nrm > 0, nrm).otherwise(F.lit(1.0)),
        ),
    )
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_fv", predictionCol="_list"
    ).fit(v.withColumn("_fv", array_to_vector("_nv")))
    assigned = (
        model.transform(v.withColumn("_fv", array_to_vector("_nv")))
        .drop("_fv")
    )
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])

    # residual codebooks on a deterministic bounded sample
    srows = (
        assigned.select("_nv", "_list")
        .orderBy(F.md5(F.to_json(F.struct("_nv"))))
        .limit(sample_size)
        .collect()
    )
    res_sample = np.array(
        [np.asarray(r["_nv"]) - centers[r["_list"]] for r in srows]
    )
    books = pq_fit(res_sample, m=m, ksub=ksub, seed=seed, normalize=False)

    if filter is not None:
        assigned = assigned.filter(
            F.expr(filter) if isinstance(filter, str) else filter
        )

    id_field = assigned.schema[id_col].dataType.simpleString()

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_nv"].to_numpy()).astype(np.float64)
            lists = pdf["_list"].to_numpy()
            codes = _encode_np(V - centers[lists], books)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "_list": lists,
                "codes": [c.astype(int).tolist() for c in codes],
            })

    encoded = assigned.select(id_col, "_nv", "_list").mapInPandas(
        enc, f"{id_col} {id_field}, _list int, codes array<int>"
    )

    # probe the n_probe nearest centroids per query (as ivf_topk does)
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "_list int, _center array<double>",
    )
    wq = Window.partitionBy(qid_col).orderBy(F.desc("_csim"), F.asc("_list"))
    qn = queries.select(qid_col, F.col(vec_col).alias("_qv"))
    probes = (
        qn.crossJoin(F.broadcast(centers_df))
        .withColumn(
            "_csim", cosine(F.col("_qv").cast("array<double>"), F.col("_center"))
        )
        .withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select(qid_col, "_list")
    )

    qrows = qn.collect()
    Q = _normalize(np.array([r["_qv"] for r in qrows], dtype=np.float64))
    qindex = {r[qid_col]: i for i, r in enumerate(qrows)}
    mm, kk, dsub = books.shape
    luts = np.stack([
        np.stack([books[j] @ q[j * dsub:(j + 1) * dsub] for j in range(mm)])
        for q in Q
    ])
    qcent = Q @ centers.T  # (nq, n_lists): the q·centroid base term
    offs = (np.arange(mm) * kk)[None, :]

    @F.pandas_udf("double")
    def adc(codes_s: pd.Series, qid_s: pd.Series, list_s: pd.Series) -> pd.Series:
        if not len(codes_s):
            return pd.Series([], dtype="float64")
        codes = np.stack(codes_s.to_numpy()).astype(np.int64) + offs
        lists = list_s.to_numpy().astype(np.int64)
        out = np.empty(len(codes))
        qi = qid_s.map(qindex).to_numpy().astype(np.int64)
        for u in np.unique(qi):
            msk = qi == u
            out[msk] = luts[u].ravel()[codes[msk]].sum(1) + qcent[u, lists[msk]]
        return pd.Series(np.round(out, 6))

    scored = encoded.join(F.broadcast(probes), "_list").withColumn(
        "adc_score", adc("codes", qid_col, "_list")
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("adc_score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "adc_score")
    )


def pq_refine_topk(
    encoded: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 10,
    refine: int = 4,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage search (FAISS's refine pattern): ADC over the codes
    produces k·refine candidates per query, then the raw vectors of
    ONLY those candidates are fetched (one semi-join — at 10^12 rows
    the candidate id set is k·refine·n_queries, so the fetch is a
    pruned point-lookup join, not a corpus scan) and exact cosine
    re-ranks to the final top-k. Recall approaches exact as `refine`
    grows while the corpus-wide scan still only ever touches m-byte
    codes."""
    from pyspark.sql import Window

    from data_prepper_spark.dedup.embedding import cosine

    cand = pq_topk(
        encoded, queries, books, k=k * refine,
        id_col=id_col, qid_col=qid_col, vec_col=vec_col,
    ).select(qid_col, id_col)
    fetched = vectors.join(
        cand.select(id_col).distinct(), id_col, "left_semi"
    )
    scored = (
        cand.join(fetched, id_col)
        .join(
            F.broadcast(
                queries.select(qid_col, F.col(vec_col).alias("_qv"))
            ),
            qid_col,
        )
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("_qv")), 6))
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "cosine")
    )
