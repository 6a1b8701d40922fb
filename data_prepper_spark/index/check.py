"""Index integrity checker — the Lucene CheckIndex analog (the tool
every OpenSearch operator runs when a shard looks wrong; our segments
are parquet-persisted posting blocks, so the checks run distributed).

Verifies, in ONE distributed scan of the blocks table:
  - every block decodes (delta/varint streams well-formed);
  - docs within a block are strictly increasing and inside the block's
    [first_doc, last_doc] metadata;
  - block_ord runs are contiguous per (shard, term, seg) and doc-sorted
    ACROSS blocks;
  - tf > 0 for every posting, len(tfs) == len(dls) == len(docs);
  - per-term doc counts summed across shards equal the dictionary's df
    (tombstones are NOT subtracted — like Lucene, deleted docs stay in
    the postings until a merge; the report carries the tombstone count
    separately);
  - sum of distinct docs per (shard, segment) equals stats.json's
    n_docs (n_docs counts each upserted generation until compaction).

Returns a JSON-able report; `ok` is True iff no violations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index import codec
from data_prepper_spark.index.reader import MATCH_COLS, IndexReader


def _check_kernel():
    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        violations = []
        term_counts: dict[str, int] = {}
        seg_docs: dict[int, list] = {}
        for (term, seg), tg in pdf.groupby(["term", "seg"], sort=True):
            tg = tg.sort_values("block_ord")
            ords = tg["block_ord"].to_numpy()
            if len(ords) > 1 and not (np.diff(ords) == 1).all():
                violations.append(
                    (term, int(seg), "block_ord gap/duplicate"))
            prev_last = -1
            n = 0
            for g, t, dl, first, last in zip(
                tg["gaps"], tg["tfs"], tg["dls"],
                tg["first_doc"], tg["last_doc"],
            ):
                try:
                    docs = codec.delta_decode(bytes(g), base=int(first))
                    tfs = codec.varint_decode(bytes(t))
                    dls = codec.varint_decode(bytes(dl))
                except Exception as exc:  # malformed stream
                    violations.append((term, int(seg), f"decode: {exc}"))
                    continue
                if not (len(docs) == len(tfs) == len(dls)):
                    violations.append(
                        (term, int(seg), "stream length mismatch"))
                    continue
                if len(docs) == 0:
                    violations.append((term, int(seg), "empty block"))
                    continue
                if (np.diff(docs) <= 0).any():
                    violations.append(
                        (term, int(seg), "docs not strictly increasing"))
                if int(docs[0]) != int(first) or int(docs[-1]) != int(last):
                    violations.append(
                        (term, int(seg), "block range metadata mismatch"))
                if int(docs[0]) <= prev_last:
                    violations.append(
                        (term, int(seg), "blocks overlap / unsorted"))
                if (np.asarray(tfs) <= 0).any():
                    violations.append((term, int(seg), "tf <= 0"))
                prev_last = int(docs[-1])
                n += len(docs)
                seg_docs.setdefault(int(seg), []).append(docs)
            term_counts[term] = term_counts.get(term, 0) + n
        n_distinct = sum(int(len(np.unique(np.concatenate(d))))
                         for d in seg_docs.values())
        rows = [(shard, t, int(c), -1, "") for t, c in term_counts.items()]
        rows.append((shard, "\x00distinct_docs", n_distinct, -1, ""))
        rows += [(shard, t, -1, int(s), v) for t, s, v in violations]
        return pd.DataFrame(
            rows, columns=["shard", "term", "n", "seg", "violation"]
        )

    return run


def check_index(spark: SparkSession, index_dir: str) -> dict:
    reader = IndexReader(spark, index_dir)
    per_shard = reader.postings.select(*MATCH_COLS).groupBy(
        "shard").applyInPandas(
        _check_kernel(),
        schema="shard int, term string, n long, seg long, violation string",
    )
    agg = per_shard.persist()
    violations = [
        {"shard": r["shard"], "term": r["term"], "seg": r["seg"],
         "violation": r["violation"]}
        for r in agg.filter(F.col("violation") != "").collect()
    ]
    docs_seen = int(
        agg.filter(F.col("term") == "\x00distinct_docs")
        .agg(F.sum("n")).first()[0] or 0
    )
    counts = (
        agg.filter((F.col("violation") == "") &
                   (F.col("term") != "\x00distinct_docs"))
        .groupBy("term").agg(F.sum("n").alias("n"))
    )
    joined = counts.join(reader.dictionary, "term", "full").select(
        "term",
        F.coalesce("n", F.lit(0)).alias("postings"),
        F.coalesce("df", F.lit(0)).alias("df"),
    )
    mism = [
        {"term": r["term"], "postings": r["postings"], "df": r["df"]}
        for r in joined.filter(F.col("postings") != F.col("df"))
        .orderBy("term").limit(100).collect()
    ]
    n_terms = int(reader.dictionary.count())
    agg.unpersist()
    report = {
        "ok": not violations and not mism and docs_seen == reader.n_docs,
        "terms_checked": n_terms,
        "df_mismatches": mism,
        "block_violations": violations[:100],
        "docs_seen": docs_seen,
        "stats_n_docs": reader.n_docs,
        "tombstone_ranges": (0 if reader.tomb is None
                             else int(len(reader.tomb.starts))),
    }
    return report
