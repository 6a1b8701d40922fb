"""Multi-index (alias) search: one BM25 top-k over SEVERAL indexes.

The reference's opensearch sink routes documents to multiple indexes
(index patterns / date-rolled indices, OpenSearchSink.java index
resolution) and consumers query them through an alias. Here the same
role: `multi_index_topk([dir_a, dir_b], queries)` scores every index's
shards in one job and merges one global top-k — with UNION-corpus
statistics, so results are rank-identical to having indexed the union
corpus as one index (verified by `tests/test_multi_index.py`).

How the statistics stay exact:
- n_docs and df(term) are summed across indexes (the dictionary slices
  for the query terms, read and summed on the driver);
- avgdl is the doc-weighted mean of the per-index avgdls;
- per-block max_partial metadata was computed with each INDEX's avgdl;
  scoring with the union avgdl can only RAISE a tf-partial by up to
  avgdl_union/avgdl_index (bm25_partial is monotone in avgdl), so the
  kernel's upper-bound scale takes the max over member ratios —
  conservative, hence still exact pruning.

Scale notes: one kernel exchange keyed by (index, shard) — the same
single scatter-gather as score_topk, just over the union of block
scans; each scan keeps its own In-filter pushdown. Doc ids may collide
ACROSS indexes (they are per-corpus): results carry the index ordinal
and tie-break (score desc, doc_id asc, index asc).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.query import prep
from data_prepper_spark.query.engine import _shard_kernel, gather, scatter

__all__ = ["multi_index_topk"]


def multi_index_topk(
    spark: SparkSession,
    index_dirs: list[str],
    queries: DataFrame,
    algo: str = "bmx",
) -> DataFrame:
    """queries(query_id, query_text, k) ->
    (query_id, rank, index, doc_id, score) with union-corpus stats."""
    if not index_dirs:
        raise ValueError("multi_index_topk needs at least one index dir")
    readers = [IndexReader(spark, d) for d in index_dirs]
    modes = {r.mode for r in readers}
    if len(modes) > 1:
        raise ValueError(
            f"member indexes use different tokenizers {sorted(modes)} — "
            "their terms are not comparable; rebuild with one analyzer"
        )
    mode = modes.pop()
    n_docs = sum(int(r.n_docs) for r in readers)
    avgdl = (
        sum(float(r.avgdl) * int(r.n_docs) for r in readers) / n_docs
        if n_docs else 0.0
    )
    cols = ("query_id", "rank", "index", "doc_id", "score")

    # driver-side prep (query/prep.py) — score_entries, so query-time
    # term boosts ('error^2') work identically on alias search
    rows = prep.collect_rows(queries, "query_id", "query_text", "k")
    per_term = prep.score_entries(rows, mode)

    # union df across member dictionaries: each slice is read on the
    # driver (the query terms only) and the dfs summed for the idf
    dfs: dict[str, int] = {}
    for r in readers:
        if not r.empty:
            for t, df in r.df_slice(sorted(per_term)).items():
                dfs[t] = dfs.get(t, 0) + df

    # conservative upper-bound scale: avgdl drift within each member
    # (incremental builds) AND the union-avgdl uplift
    ub_scale = max(r.ub_scale * max(1.0, avgdl / float(r.avgdl))
                   for r in readers)

    # one kernel pass per member index: shard keys stay per-index
    # (same exchange class as score_topk), union stats injected
    per_index = []
    for i, r in enumerate(readers):
        res = scatter(
            r, per_term, prep.SCORE_FIELDS, lambda r=r: _shard_kernel(
                avgdl, n_docs, algo, ub_scale, tomb=r.tomb,
            ), dictionary=dfs,
        )
        if res is not None:
            per_index.append(res.withColumn("index", F.lit(i)))
    allres = reduce(DataFrame.unionByName, per_index) if per_index else None
    return gather(allres, rows, cols, tie=("index",))
