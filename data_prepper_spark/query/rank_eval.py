"""Search quality evaluation — the OpenSearch `_rank_eval` API.

Clusters fed by the reference's opensearch sink measure relevance
with _rank_eval: rated (query, doc) pairs in, per-query + mean
precision@k / recall@k / MRR / NDCG@k out. Same contract here over
our own engine, with the API's metric definitions:

- precision@k: relevant-retrieved / retrieved (rating >= threshold,
  default 1; the API's `relevant_rating_threshold`);
- recall@k: relevant-retrieved / total-relevant;
- MRR: 1 / rank of the first relevant hit (0 if none in top k);
- NDCG@k (gain_type=exponential, the default):
  DCG = sum (2^rating - 1) / log2(rank + 1) over retrieved docs,
  normalized by the ideal DCG of the query's ratings sorted desc.

Everything is one score_topk scatter + two small aggs over (query,
doc)-grain rows — ratings tables are human-curated and tiny, so the
joins broadcast; nothing here depends on corpus size beyond the
search itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def rank_eval(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    ratings: DataFrame,
    algo: str = "bmx",
    relevant_rating_threshold: int = 1,
) -> DataFrame:
    """queries(query_id, query_text, k) + ratings(query_id, doc_id,
    rating) -> one row per query: (query_id, precision_at_k,
    recall_at_k, mrr, ndcg_at_k, retrieved, relevant_retrieved,
    total_relevant). Queries with no rated-relevant docs score 0 for
    recall/MRR/NDCG (the API reports them with unrated-docs warnings;
    here the counts columns make that auditable)."""
    from data_prepper_spark.query.engine import score_topk

    hits = score_topk(spark, index_dir, queries, algo).select(
        "query_id", "rank", "doc_id"
    )
    r = ratings.select(
        "query_id", "doc_id", F.col("rating").cast("int").alias("rating")
    )
    rel = F.col("rating") >= relevant_rating_threshold

    # per-query totals from the ratings side (independent of retrieval)
    totals = r.groupBy("query_id").agg(
        F.sum(rel.cast("int")).alias("total_relevant")
    )
    # ideal DCG: ratings sorted desc, positions 1..k (k differs per
    # query -> join k in and cap)
    ks = queries.select("query_id", F.col("k").cast("int").alias("k"))
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.desc("rating"), F.asc("doc_id")
    )
    idcg = (
        r.join(F.broadcast(ks), "query_id")
        .withColumn("pos", F.row_number().over(w_ideal))
        .filter(F.col("pos") <= F.col("k"))
        .groupBy("query_id")
        .agg(F.sum(
            (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
            / F.log2(F.col("pos") + 1.0)
        ).alias("idcg"))
    )

    joined = hits.join(r, ["query_id", "doc_id"], "left").fillna(
        {"rating": 0}
    )
    per_q = joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("retrieved"),
        F.sum(rel.cast("int")).alias("relevant_retrieved"),
        F.min(F.when(rel, F.col("rank"))).alias("first_rel_rank"),
        F.sum(
            (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
            / F.log2(F.col("rank") + 1.0)
        ).alias("dcg"),
    )
    out = (
        queries.select("query_id")
        .join(per_q, "query_id", "left")
        .join(F.broadcast(totals), "query_id", "left")
        .join(F.broadcast(idcg), "query_id", "left")
        .fillna({"retrieved": 0, "relevant_retrieved": 0,
                 "total_relevant": 0, "dcg": 0.0, "idcg": 0.0})
    )
    return out.select(
        "query_id",
        F.when(F.col("retrieved") > 0,
               F.col("relevant_retrieved") / F.col("retrieved"))
        .otherwise(0.0).alias("precision_at_k"),
        F.when(F.col("total_relevant") > 0,
               F.col("relevant_retrieved") / F.col("total_relevant"))
        .otherwise(0.0).alias("recall_at_k"),
        F.coalesce(1.0 / F.col("first_rel_rank"), F.lit(0.0)).alias("mrr"),
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
        .otherwise(0.0).alias("ndcg_at_k"),
        "retrieved", "relevant_retrieved", "total_relevant",
    )
