"""Hybrid retrieval — fuse a lexical (BM25) ranking with a semantic
(vector-similarity) ranking per query. The OpenSearch surface this
mirrors is the `hybrid` query + search-pipeline processors
(`normalization-processor` for score fusion, `score-ranker-processor`
for reciprocal rank fusion) layered over indexes the reference's
opensearch sink ships (`data-prepper-plugins/opensearch/.../
OpenSearchSink.java:132-141`); the semantic side corresponds to the
k-NN plugin's `knn` query. For an LLM training-data pipeline this is
the retrieval shape that matters: lexical recall for rare literals,
embedding recall for paraphrase, one fused ranking.

Scale contract: every input here is a per-query TOP-N frame — the
bounded output of the BM25 kernels (`engine.score_topk`) and of the
ANN paths (`dedup/embedding.py`: brute-force baseline, LSH-bucketed or
IVF at scale). Fusion is a union + one two-phase groupBy + a per-query
top-k window over at most `n_lists * N` rows per query — bounded by
the candidate budget, never the corpus. No collect, no crossJoin, no
new scan.

Determinism: ranks tie-break on ascending doc id; RRF sums over two
lists are order-insensitive in IEEE double (a+b == b+a), and the
normalized combinations divide by per-query aggregates — both
reproducible bit-for-bit in an external SQL engine, which is how the
driver gate oracle-checks `hybrid_rrf`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# sub-query tag column used internally by the fusion group-bys
_LIST = "_hybrid_list"


def ranked(
    scored: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
    out_col: str = "rank",
    round_digits: int | None = 4,
    k: int | None = None,
) -> DataFrame:
    """Attach a deterministic per-query rank: (rounded score desc,
    id asc). Rounding before ranking keeps ranks stable across engines
    whose float accumulation order differs (the same convention every
    driver-gate slot uses); pass round_digits=None to rank raw scores.
    """
    s = F.col(score_col)
    if round_digits is not None:
        s = F.round(s, round_digits)
    w = Window.partitionBy("query_id").orderBy(s.desc(), F.asc(id_col))
    out = scored.withColumn(out_col, F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col(out_col) <= k)
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rank_constant: int = 60,
    weights: list[float] | None = None,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR'09 —
    the formula OpenSearch's score-ranker-processor and Elasticsearch's
    `rrf` retriever implement):

        score(d) = sum_i  w_i / (rank_constant + rank_i(d))

    over the lists where d appears. Each input frame is a per-query
    ranking (query_id, <id_col>, <rank_col>, ...), rank 1-based. Output:
    (query_id, <id_col>, rrf_score, rank) — top `k` per query by
    (rrf_score desc, id asc).

    Execution: project each list to its reciprocal contribution, union,
    ONE two-phase groupBy-sum, one bounded per-query window. With the
    default two lists the sum has at most two addends, so it is exactly
    order-insensitive (IEEE a+b == b+a) — safe to oracle-check against
    SQL without rounding tricks.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    w = weights or [1.0] * len(rankings)
    if len(w) != len(rankings):
        raise ValueError("rrf_fuse: len(weights) != len(rankings)")
    parts = [
        r.select(
            "query_id",
            F.col(id_col),
            (F.lit(float(wi)) / (F.lit(int(rank_constant)) + F.col(rank_col))
             ).alias("_contrib"),
        )
        for r, wi in zip(rankings, w)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", id_col).agg(
        F.sum("_contrib").alias("rrf_score")
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def normalize_scores(
    scored: DataFrame,
    method: str = "min_max",
    score_col: str = "score",
    out_col: str = "norm_score",
) -> DataFrame:
    """Per-query score normalization, the two techniques OpenSearch's
    normalization-processor ships:

    - `min_max`: (s - min) / (max - min); a query whose list has a
      single distinct score (max == min) normalizes to 1.0 — documented
      choice, every doc is equally the best match.
    - `l2`: s / sqrt(sum s^2); an all-zero list stays 0.

    One window pair over the (already top-N-bounded) list.
    """
    w = Window.partitionBy("query_id")
    s = F.col(score_col).cast("double")
    if method == "min_max":
        lo, hi = F.min(s).over(w), F.max(s).over(w)
        norm = F.when(hi == lo, F.lit(1.0)).otherwise((s - lo) / (hi - lo))
    elif method == "l2":
        nrm = F.sqrt(F.sum(s * s).over(w))
        norm = F.when(nrm == 0, F.lit(0.0)).otherwise(s / nrm)
    else:
        raise ValueError(f"unknown normalization {method!r}")
    return scored.withColumn(out_col, norm)


def fuse_normalized(
    scored_lists: list[DataFrame],
    k: int = 10,
    method: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Score-based hybrid fusion, the normalization-processor contract:
    normalize each sub-query's scores per query (`method`), then
    combine per doc with `combination` over the sub-queries where the
    doc APPEARS (absent scores are skipped, not zeroed — the
    OpenSearch rule; the weight denominator only counts present lists):

    - arithmetic_mean: sum(w_i * s_i) / sum(w_i)
    - geometric_mean:  exp( sum(w_i * ln s_i) / sum(w_i) ), s_i > 0
                       (a zero normalized score zeroes the product —
                       rows with s_i == 0 are treated as absent)
    - harmonic_mean:   sum(w_i) / sum(w_i / s_i), s_i > 0 likewise

    Output: (query_id, <id_col>, hybrid_score, rank), top-k per query,
    ties on ascending id. Same bounded union + groupBy + window shape
    as rrf_fuse.
    """
    if combination not in ("arithmetic_mean", "geometric_mean",
                           "harmonic_mean"):
        raise ValueError(f"unknown combination {combination!r}")
    if not scored_lists:
        raise ValueError("fuse_normalized: need at least one list")
    w = weights or [1.0] * len(scored_lists)
    if len(w) != len(scored_lists):
        raise ValueError("fuse_normalized: len(weights) != len(lists)")
    parts = []
    for i, (df, wi) in enumerate(zip(scored_lists, w)):
        nd = normalize_scores(df, method=method, score_col=score_col)
        parts.append(
            nd.select(
                "query_id",
                F.col(id_col),
                F.col("norm_score").alias("_s"),
                F.lit(float(wi)).alias("_w"),
                F.lit(i).alias(_LIST),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    if combination == "arithmetic_mean":
        agg = F.sum(F.col("_w") * F.col("_s")) / F.sum("_w")
        grouped = u.groupBy("query_id", id_col).agg(agg.alias("hybrid_score"))
    elif combination == "geometric_mean":
        pos = u.filter(F.col("_s") > 0)
        agg = F.exp(F.sum(F.col("_w") * F.log("_s")) / F.sum("_w"))
        grouped = pos.groupBy("query_id", id_col).agg(agg.alias("hybrid_score"))
    else:  # harmonic_mean
        pos = u.filter(F.col("_s") > 0)
        agg = F.sum("_w") / F.sum(F.col("_w") / F.col("_s"))
        grouped = pos.groupBy("query_id", id_col).agg(agg.alias("hybrid_score"))
    win = Window.partitionBy("query_id").orderBy(
        F.desc("hybrid_score"), F.asc(id_col)
    )
    return (
        grouped.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def hybrid_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    doc_vectors: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    rank_constant: int = 60,
    weights: list[float] | None = None,
    algo: str = "bmx",
    fusion: str = "rrf",
    method: str = "min_max",
    combination: str = "arithmetic_mean",
    knn_filter: str | None = None,
) -> DataFrame:
    """End-to-end hybrid search over our own index: BM25 top-N via the
    compressed SPIMI kernels + exact cosine top-N of the query vector
    against `doc_vectors` (doc_id, embedding), fused with RRF (default)
    or normalized score combination.

    `queries`: (query_id, query_text, embedding). The semantic side
    here is the exact brute-force baseline (broadcast queries — fine
    for a bounded query batch); at corpus scale swap in
    `dedup.embedding.lsh_bucketed_topk` / `ivf_topk` — any
    (query_id, doc_id, cosine|rank) frame fuses identically, fusion
    cost is bounded by the candidate budget either way.
    """
    from data_prepper_spark.dedup import embedding as emb
    from data_prepper_spark.query import engine

    qtext = queries.select(
        "query_id", "query_text", F.lit(int(n_candidates * 2)).alias("k")
    )
    lex = ranked(
        engine.score_topk(spark, index_dir, qtext, algo=algo),
        k=n_candidates,
    )
    sem = emb.brute_force_topk(
        doc_vectors,
        queries.select("query_id", "embedding"),
        k=n_candidates,
        id_col="doc_id",
        filter=knn_filter,
    )
    if fusion == "rrf":
        return rrf_fuse(
            [lex, sem], k=k, rank_constant=rank_constant, weights=weights
        )
    if fusion == "normalized":
        sem_scored = sem.withColumnRenamed("cosine", "score")
        return fuse_normalized(
            [lex.select("query_id", "doc_id", "score"),
             sem_scored.select("query_id", "doc_id", "score")],
            k=k, method=method, combination=combination, weights=weights,
        )
    raise ValueError(f"unknown fusion {fusion!r}")
