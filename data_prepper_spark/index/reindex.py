"""Reindex — rebuild an index's live documents into a new index with
new settings (the OpenSearch `_reindex` API: analyzer migrations,
reshards, filtered copies — the operation every cluster the reference
ships into runs when a mapping has to change).

`live_docs` is the read-back half (the reference's opensearch SOURCE
role: PitWorker.java:170-189 / ScrollWorker.java:46-52 page an index
out for reprocessing): corpus rows minus tombstoned docs, optionally
restricted to a query's match set. `reindex` feeds that straight into
build_index with the target settings, preserving doc_ids (external
ids survive a reindex, exactly like the REST API).

Scale shape: the doc flow is corpus-parquet -> (optional) match-set
join -> SPIMI build — all distributed, nothing collected; tombstone
ranges are driver-small by construction (the tombstone store merges
ranges; the size guard warns past 100k) and compile into one boolean
Column pushed at the corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import IndexReader, load_stats


def live_docs(
    spark: SparkSession, index_dir: str, docs: DataFrame,
    query: str | None = None,
) -> DataFrame:
    """Corpus rows that are live in the index: tombstoned docs removed;
    with `query`, only docs matching it (OpenSearch `match`)."""
    if query is not None:
        from data_prepper_spark.query.facets import match_docs

        q = spark.createDataFrame(
            [("q", query)], "query_id string, query_text string"
        )
        m = match_docs(spark, index_dir, q).select("doc_id").distinct()
        return docs.join(m, "doc_id")
    r = IndexReader(spark, index_dir)
    if r.tomb is None:
        return docs
    # liveDocs of the NEWEST segment: true deletes apply to every
    # segment incl. the current one; upsert tombstones stop at the old
    # generation, so replacement rows stay live
    rng = r.tomb.for_seg(int(r.stats.get("snapshot_id", 0)))
    if rng is None:
        return docs
    cond = F.lit(False)
    for a, b in zip(*[list(map(int, x)) for x in rng]):
        cond = cond | ((F.col("doc_id") >= a) & (F.col("doc_id") < b))
    return docs.filter(~cond)


def reindex(
    spark: SparkSession,
    src_index: str,
    docs: DataFrame,
    dst_index: str,
    query: str | None = None,
    n_shards: int | None = None,
    block_size: int | None = None,
    tokenizer: str | None = None,
    positions: bool | None = None,
) -> dict:
    """Rebuild `src_index`'s live docs (optionally query-filtered) into
    `dst_index`. Settings default to the SOURCE index's, so a bare
    reindex is a compacting copy; override any of them to migrate
    (ascii -> unicode analyzer, reshard, drop positions). doc_ids are
    preserved. Returns the new index's stats dict."""
    from data_prepper_spark.index.build import build_index

    src = load_stats(src_index)
    live = live_docs(spark, src_index, docs, query=query)
    return build_index(
        spark, live, dst_index,
        n_shards=int(n_shards if n_shards is not None
                     else src.get("n_shards", 32)),
        block_size=int(block_size if block_size is not None
                       else src.get("block_size", 128)),
        store_positions=bool(positions if positions is not None
                             else src.get("positions", True)),
        tokenizer=str(tokenizer if tokenizer is not None
                      else src.get("tokenizer", "ascii")),
        assign_ids=False,
    )
