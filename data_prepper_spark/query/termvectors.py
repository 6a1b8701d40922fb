"""_termvectors API: per-(doc, term) stats for a handful of documents.

OpenSearch's `_termvectors` returns, per requested doc and term:
term_freq, positions, character offsets, and (with term_statistics)
the index-wide doc_freq. When the index doesn't store term vectors,
Lucene re-analyzes the stored field on the fly — exactly what this
does: the doc set is tiny and driver-known (the API is per-document),
so the corpus scan is pruned by a doc_id In-filter, re-analysis runs
in one narrow mapInPandas over those few rows, and doc_freq comes
from the dictionary slice for just the terms that appear, read on the
driver (IndexReader.df_slice) and joined as a broadcast literal.

Positions are the index's own convention (post-stop consecutive);
offsets are surface char spans (the `analyze` convention, shared with
highlight).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.index.tokenizer import analyze

__all__ = ["term_vectors"]

_OUT = (
    "doc_id long, term string, term_freq int, positions array<int>, "
    "start_offsets array<int>, end_offsets array<int>"
)


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_ids: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    with_stats: bool = True,
) -> DataFrame:
    """-> (doc_id, term, term_freq, positions, start_offsets,
    end_offsets[, doc_freq]) for the requested docs, analyzed with the
    INDEX's pinned analyzer spec."""
    r = IndexReader(spark, index_dir)
    mode = r.mode  # the kernel closure ships the mode, never the reader
    pruned = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    pruned = (
        pruned.filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
        if doc_ids else pruned.limit(0)
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for did, text in zip(b["doc_id"], b["text"]):
                per_term: dict[str, list[list[int]]] = {}
                for e in analyze(text or "", mode):
                    per_term.setdefault(e["token"], [[], [], []])
                    p, s, o = per_term[e["token"]]
                    p.append(e["position"])
                    s.append(e["start_offset"])
                    o.append(e["end_offset"])
                for term, (p, s, o) in sorted(per_term.items()):
                    rows.append((int(did), term, len(p), p, s, o))
            yield pd.DataFrame(
                rows, columns=["doc_id", "term", "term_freq", "positions",
                               "start_offsets", "end_offsets"],
            )

    tv = pruned.mapInPandas(kernel, schema=_OUT)
    if not with_stats:
        return tv
    # index-wide doc_freq for exactly the terms present: the requested
    # docs' vocabulary is collected to the driver and its dictionary
    # slice read there; the dictionary holds one row per term
    terms = [row["term"] for row in tv.select("term").distinct().collect()]
    dfs = spark.createDataFrame(list(r.df_slice(terms).items()),
                                "term string, doc_freq long")
    return tv.join(F.broadcast(dfs), "term", "left").select(
        "doc_id", "term", "term_freq", "positions", "start_offsets",
        "end_offsets", F.coalesce("doc_freq", F.lit(0)).alias("doc_freq"),
    )
