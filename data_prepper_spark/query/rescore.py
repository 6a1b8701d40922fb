"""Rescore: re-rank a top-N window with a secondary query.

OpenSearch's `rescore` block (org.opensearch.search.rescore.
QueryRescorer — public semantics reimplemented): phase 1 retrieves
window_size docs per query with the cheap query; phase 2 scores ONLY
those docs against the (usually more expensive) rescore query; each
window doc's final score is

    secondPassMatches ? score_mode(primary * query_weight,
                                   secondary * rescore_query_weight)
                      : primary * query_weight

with score_mode in {total, multiply, avg, max, min}; the re-ranked
window is cut to k.

Spark shape: phase 1 is score_topk (one scatter-gather); phase 2 rides
the explain machinery — the window's (query, doc) pairs are
driver-known and tiny, so they broadcast into the shard kernels and
the rescore terms' block decode prunes to blocks containing a window
doc (cost scales with the WINDOW, not the rescore terms' df — exactly
why rescore exists). The secondary per-doc score is the same float64
sorted-term sum score_topk would produce for those docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_prepper_spark.query import engine, prep
from data_prepper_spark.query.explain import explain_hits

__all__ = ["rescore_topk"]

_MODES = ("total", "multiply", "avg", "max", "min")


def rescore_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    score_mode: str = "total",
    algo: str = "bmx",
) -> DataFrame:
    """queries(query_id, query_text, rescore_text, k) ->
    (query_id, rank, doc_id, score, primary, secondary)."""
    if score_mode not in _MODES:
        raise ValueError(f"unknown rescore score_mode {score_mode!r}")
    ks = {r["query_id"]: int(r["k"])
          for r in prep.collect_rows(queries, "query_id", "k")}
    too_big = [q for q, k in ks.items() if k > window_size]
    if too_big:
        raise ValueError(
            f"k exceeds window_size={window_size} for {too_big} — rescore "
            "reorders only the window (grow window_size)"
        )
    win_q = queries.select(
        "query_id", "query_text", F.lit(window_size).alias("k")
    )
    # score_topk merges on the driver: primary is already materialized
    primary = engine.score_topk(spark, index_dir, win_q, algo=algo).select(
        "query_id", "doc_id", F.col("score").alias("primary")
    )
    sec_q = queries.select(
        "query_id", F.col("rescore_text").alias("query_text")
    )
    parts = explain_hits(
        spark, index_dir, sec_q,
        primary.select("query_id", "doc_id"),
    )
    secondary = parts.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("secondary")
    )
    j = primary.join(secondary, ["query_id", "doc_id"], "left")
    p = F.col("primary") * F.lit(float(query_weight))
    s = F.col("secondary") * F.lit(float(rescore_query_weight))
    combined = {
        "total": p + s,
        "multiply": p * s,
        "avg": (p + s) / F.lit(2.0),
        "max": F.greatest(p, s),
        "min": F.least(p, s),
    }[score_mode]
    j = j.withColumn(
        "score", F.when(F.col("secondary").isNull(), p).otherwise(combined)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    kdf = queries.select("query_id", "k")
    return (
        j.join(F.broadcast(kdf), "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score",
                "primary", F.coalesce("secondary", F.lit(0.0))
                .alias("secondary"))
    )
