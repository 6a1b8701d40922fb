"""Score explain: per-(query, doc, term) BM25 breakdown.

Parity with OpenSearch's `_explain` / `explain: true` search option —
the surface every reference deployment uses to debug relevance (the
reference's opensearch sink delegates scoring to OpenSearch, whose
explain returns the same idf/tf-norm decomposition reproduced here).

Each output row carries the raw statistics (tf, dl, global df) and the
derived factors (idf, tf_norm, boost) whose product is the term's
contribution; summing term_score over (query_id, doc_id) reproduces
score_topk's score bit-for-bit (same float64 ops in sorted-term order —
pytest asserts exact equality, not tolerance).

Scale shape: explain targets a handful of (query, doc) pairs — the
top-k a user is debugging. The pairs are driver-known and tiny, so they
ride into the shard kernel inside the broadcast query map, the block
decode is pruned to blocks whose doc range contains a target
(engine._ShardTerms.runs), and the parquet scan keeps score_topk's term
In-filter pushdown. Cost scales with the target set, not the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from data_prepper_spark.index.reader import MATCH_COLS, IndexReader
from data_prepper_spark.query import engine, prep
from data_prepper_spark.query.bm25_df import B, K1

_OUT = (
    "query_id string, doc_id long, term string, tf int, dl int, df long, "
    "idf double, tf_norm double, boost double, term_score double"
)


def _explain_kernel(avgdl: float, n_docs: int, tomb=None):
    def run(table, entries: dict, dfs: dict) -> dict:
        out = {c: [] for c in
               ("query_id", "doc_id", "term", "tf", "dl", "df",
                "idf", "tf_norm", "boost", "term_score")}
        shard = engine._ShardTerms(table, entries, dfs, n_docs, tomb)
        for term, qs in shard.entries.items():
            targets_all = np.unique(np.concatenate(
                [np.asarray(q["targets"], dtype=np.int64) for q in qs]
            ))
            runs = shard.runs(term, targets_all)
            if runs is None or not len(runs["docs"]):
                continue  # no target's block, or only tombstoned docs
            df_t, idf = shard.df[term], shard.idf[term]
            docs, tfs, dls = runs["docs"], runs["tfs"], runs["dls"]
            for q in qs:
                t = np.asarray(q["targets"], dtype=np.int64)
                ix = np.searchsorted(docs, t)
                ok = (ix < len(docs)) & (docs[np.minimum(ix, len(docs) - 1)] == t)
                for d, i in zip(t[ok], ix[ok]):
                    tf, dl = float(tfs[i]), float(dls[i])
                    tfn = tf * (K1 + 1.0) / (
                        tf + K1 * (1.0 - B + B * dl / avgdl)
                    )
                    boost = float(q["boost"])
                    out["query_id"].append(q["query_id"])
                    out["doc_id"].append(int(d))
                    out["term"].append(term)
                    out["tf"].append(int(tf))
                    out["dl"].append(int(dl))
                    out["df"].append(df_t)
                    out["idf"].append(idf)
                    out["tf_norm"].append(tfn)
                    out["boost"].append(boost)
                    out["term_score"].append(boost * idf * tfn)
        return out

    return run


def explain_hits(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    hits: DataFrame,
) -> DataFrame:
    """queries(query_id, query_text), hits(query_id, doc_id) ->
    one row per (query_id, doc_id, matched term) with the BM25
    decomposition. hits is expected to be tiny (a top-k result)."""
    r = IndexReader(spark, index_dir)
    pairs = hits.select("query_id", "doc_id").collect()
    targets: dict[str, list[int]] = {}
    for row in pairs:
        targets.setdefault(row["query_id"], []).append(int(row["doc_id"]))
    per_term: dict[str, list[tuple]] = {}
    for q in prep.collect_rows(queries, "query_id", "query_text"):
        if q["query_id"] not in targets:
            continue
        tgt = sorted(targets[q["query_id"]])
        for t, b in prep.boosted_terms(q["query_text"], r.mode).items():
            per_term.setdefault(t, []).append((q["query_id"], b, tgt))
    out = engine.scatter(
        r, per_term, "query_id:string,boost:double,targets:array<bigint>",
        lambda: _explain_kernel(r.avgdl, r.n_docs, r.tomb), _OUT,
        cols=MATCH_COLS,
    )
    if out is None:
        return spark.createDataFrame([], _OUT)
    return out.orderBy("query_id", "doc_id", "term")


def explain_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    algo: str = "bmx",
) -> DataFrame:
    """Run the query, then explain every hit: score_topk's
    (query_id, rank, doc_id, score) joined with the per-term breakdown."""
    # score_topk merges on the driver: hits is already materialized
    hits = engine.score_topk(spark, index_dir, queries, algo=algo)
    parts = explain_hits(spark, index_dir, queries, hits)
    return (
        hits.join(parts, ["query_id", "doc_id"])
        .orderBy("query_id", "rank", "term")
    )
