"""Shard-parallel BM25 top-k over the persisted compressed index.

Every query over the index runs ONE plan — OpenSearch's
dfs_query_then_fetch, rebuilt on Spark — as reader -> scatter ->
kernel -> gather:

    IndexReader(index_dir)         stats.json; tombstones and the
      |                            query terms' dictionary slice, read
      |                            on the driver (index/reader.py)
    scatter(reader, per_term, kernel)          (Spark, or the driver
      |                                         for a small input)
      |> blocks.select(<the kernel's streams>)   <- ReadSchema pruning:
      |                                            positions only for
      |                                            kernels that read them
      |> filter term IN known query terms  <- pushed to the parquet
      |                                       scan: row-group pruning
      |                                       via the term sort order
      |> spread_by_shard |> groupBy(shard).applyInArrow(kernel)
      |                     (.cogroup(right) for a filter context)
    kernel, per shard (numpy)      one input on every site: the shard's
      |                            blocks as a pyarrow Table, the qmap
      |                            {term: [entry dict]} and the GLOBAL
      |                            df {term: df}; idf (_idf), exact
      |                            per-shard top-k (_Hits.topk)
    gather                         global top-k per query: the small
                                   per-shard top-ks collected and ranked
                                   on the driver, (score desc, doc_id
                                   asc), returned as a LocalRelation

Every kernel reads its blocks one way: `wand.block_runs` cuts the
shard's table into per-(term, seg) runs with one Arrow sort, and
`wand.TermCursor` decodes a block once per kernel call, with the
streams the scan projected and the segment's tombstoned docs dropped.
The top-k kernels score the cursors directly; `_ShardTerms` serves
the others (bool, phrase, span, filtered, explain, count and facets)
from the same cursors.

`scatter` has two execution sites. A driver-literal request whose
pruned input is small (at most LOCAL_MAX_BLOCKS blocks rows, estimated
from the dictionary slice it already holds) runs on the driver and no
Spark job: the pruned blocks are read with pyarrow
(`IndexReader.block_table`), sliced per shard for the kernel, and the
rows become a LocalRelation. Every other driver-literal request is one
pruned scan, one exchange and the kernel on Spark, all run inside the
call; so is a filter context, whose corpus side is cogrouped by shard.
Batches above prep.PREP_DISTRIBUTED_THRESHOLD shuffle-join the qmap
and dictionary on term and rank in a Window instead. Either way the
kernel and its input are the same, so the scores are bit-identical.
No stage materializes a full per-term posting list. idf uses the
GLOBAL df (summed across shards), so scores are identical to a
single-node oracle — the dfs_query_then_fetch contract.
"""

from __future__ import annotations

from functools import lru_cache, reduce
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

from data_prepper_spark.index import codec
from data_prepper_spark.index.reader import (
    COUNT_COLS,
    MATCH_COLS,
    POS_COLS,
    SCORE_COLS,
    IndexReader,
)
from data_prepper_spark.query import wand as wand_mod
from data_prepper_spark.query import prep
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE
from data_prepper_spark.query.exchange import spread_by_shard

_KERNEL_OUT = "query_id string, doc_id long, score double"
_TYPES = {"query_id": "string", "rank": "long", "conv": "long",
          "index": "int", "doc_id": "long", "score": "double"}
_TOPK_COLS = ("query_id", "rank", "doc_id", "score")

# The largest pruned input, in blocks rows as IndexReader.block_estimate
# counts them, that `scatter` scores on the driver rather than on Spark.
# Measured on a 4-vCPU VM (19.5k turns, 16 shards, block size 128; one
# request of one query): the driver path used less CPU at every size
# tried, since Spark runs the same kernel plus its per-job and
# per-task costs (est 3.8k: 0.83 s against 2.9 s; 57k: 9.3 s against
# 14.2 s), but its single thread loses on wall time once Spark's
# parallel kernel tasks pay off (3.8k: 0.73 s against 0.96 s; 7.6k:
# 1.44 s against 1.29 s). Interactive queries estimate a few hundred.
LOCAL_MAX_BLOCKS = 4096


# ------------------------------------------------------ scatter / gather

def scatter(
    reader: IndexReader | dict[str, IndexReader],
    per_term: dict[str, list[tuple]] | DataFrame,
    fields: str,
    kernel: Callable[[], Callable],
    schema: str = _KERNEL_OUT,
    cols: tuple = SCORE_COLS,
    dictionary: bool | dict[str, int] = True,
    right: Callable[[], DataFrame] | None = None,
) -> DataFrame | None:
    """The scatter half of every query over the index (module
    docstring): pruned block scan -> one exchange -> per-shard kernel.

    - reader: one index, or {field: reader} whose pruned scans (tagged
      with a `field` column) union before the one exchange;
    - per_term: query prep, query/prep.py (term -> entries with struct
      `fields`); the known terms are pushed as `term IN (...)` into the
      blocks scan. A DataFrame is a distributed qmap instead (batches
      above prep.PREP_DISTRIBUTED_THRESHOLD, one reader): it and the
      dictionary are shuffle-joined on term;
    - kernel / right: factories, called only when there is something to
      scan; right's rows are cogrouped with the blocks by shard;
    - dictionary: True gives each reader's global df, False none, a
      {term: df} dict replaces it (alias search's union statistics).

    Every site calls the kernel with one input: `run(table, entries,
    dfs[, right])`, one shard's blocks rows as a pyarrow Table (plus
    `field` when tagged), the query map {term: [entry dict]}, the
    global df {term: df} ({field: {term: df}} when tagged, None with no
    dictionary) and the shard's cogrouped rows. It returns plain
    columns, which only this function makes rows of `schema`.

    A driver qmap with no `right` whose pruned input is estimated at
    most LOCAL_MAX_BLOCKS blocks rows runs on the driver: the same scan
    read with pyarrow, the rows returned as a LocalRelation.

    Returns None when no index has blocks or no query term is known."""
    readers = reader if isinstance(reader, dict) else {None: reader}
    readers = {tag: r for tag, r in readers.items() if not r.empty}
    distributed = isinstance(per_term, DataFrame)
    if not readers or not (distributed or per_term):
        return None
    struct = _struct(schema)
    arrow_schema = to_arrow_schema(struct)

    def rows(columns: dict) -> pa.Table:
        return pa.Table.from_pydict(columns, schema=arrow_schema)

    if distributed:
        (r,) = readers.values()
        run = kernel()

        def joined(table):
            # the first block row of each term carries its queries and df
            first = table.append_column(
                "_row", pa.array(np.arange(table.num_rows))) \
                .group_by("term", use_threads=False) \
                .aggregate([("_row", "min")]).column("_row_min")
            one = table.take(first).select(["term", "queries", "df"]) \
                .to_pydict()
            return rows(run(table.drop_columns(["queries", "df"]),
                            dict(zip(one["term"], one["queries"])),
                            dict(zip(one["term"], one["df"]))))

        return spread_by_shard(
            r.blocks.select(*cols).join(per_term, "term")
            .join(r.dictionary.select("term", "df"), "term")) \
            .groupBy("shard").applyInArrow(joined, schema=struct)

    dfs, terms = {}, {}
    for tag, r in readers.items():
        if dictionary is True:
            dfs[tag] = r.df_slice(sorted(per_term))
        elif dictionary is not False:
            dfs[tag] = dictionary
        if dfs.get(tag, per_term):
            terms[tag] = sorted(dfs.get(tag, per_term))
    if not terms:
        return None
    run = kernel()
    names = [f.split(":", 1)[0] for f in fields.split(",")]
    entries = {t: [dict(zip(names, e)) for e in es]
               for t, es in per_term.items()}
    kdfs = (dfs[None] if None in dfs else dfs) or None
    # the count scatters take no dictionary: their estimate reads one
    local = right is None and sum(
        readers[tag].block_estimate(
            dfs[tag] if tag in dfs else readers[tag].df_slice(ts))
        for tag, ts in terms.items()) <= LOCAL_MAX_BLOCKS

    def per_shard(table):
        return rows(run(table, entries, kdfs))

    if local:
        return _scatter_local(
            {tag: readers[tag].block_table(ts, cols)
             for tag, ts in terms.items()}, per_shard, schema)
    grouped = spread_by_shard(reduce(DataFrame.unionByName, [
        _tagged(readers[tag].blocks.select(*cols)
                .filter(F.col("term").isin(ts)), tag)
        for tag, ts in terms.items()])).groupBy("shard")
    if right is None:
        return grouped.applyInArrow(per_shard, schema=struct)

    def per_shard_cogroup(table, right_rows):
        return rows(run(table, entries, kdfs, right_rows))
    return grouped.cogroup(spread_by_shard(right()).groupBy("shard")) \
        .applyInArrow(per_shard_cogroup, schema=struct)


def _tagged(part: DataFrame, tag: str | None) -> DataFrame:
    return part if tag is None else part.withColumn("field", F.lit(tag))


def _scatter_local(tables: dict, run: Callable, schema: str) -> DataFrame:
    """The driver execution site of `scatter`: the pruned blocks rows
    ({tag: pyarrow Table}) sliced per shard and handed to `run` in
    shard order; its rows are returned as a LocalRelation, which
    collects with no job."""
    table = pa.concat_tables([
        t if tag is None else t.append_column("field", pa.repeat(tag, len(t)))
        for tag, t in tables.items()])
    shard = table.column("shard")
    out = [run(table.filter(pc.equal(shard, s)))
           for s in sorted(set(shard.to_pylist()))]
    spark = SparkSession.active()
    if not sum(map(len, out)):
        return _empty(spark, schema)
    # one chunk: createDataFrame drops the rows after an empty batch
    return spark.createDataFrame(pa.concat_tables(out).combine_chunks(),
                                 _struct(schema))


def gather(
    per_shard: DataFrame | None, queries: list[dict] | DataFrame,
    cols: tuple = _TOPK_COLS, tie: tuple = (), best_of: str | None = None,
) -> DataFrame:
    """The gather half: each query's global top-k over the per-shard
    winners, ranked (score desc, doc_id asc, *tie asc); the empty
    answer when the scatter had nothing to scan. With `best_of` (a
    column, collapse's `conv`) only each value's best row is ranked:
    a group's global best is the best of its per-shard bests.

    Driver-literal queries (the rows prep collected) merge on the
    driver: the per-shard top-ks (at most k x shards rows per query)
    are read (`_read`), ranked in pandas and returned as a
    LocalRelation, which the caller collects with no job. A queries
    DataFrame (a distributed batch) merges in a Window."""
    schema = ", ".join(f"{c} {_TYPES[c]}" for c in cols)
    spark = SparkSession.active()
    if per_shard is None:
        return _empty(spark, schema)
    if isinstance(queries, DataFrame):
        by = [F.desc("score"), F.asc("doc_id"), *map(F.asc, tie)]
        if best_of:
            per_shard = per_shard.withColumn("_best", F.row_number().over(
                Window.partitionBy("query_id", best_of).orderBy(*by))) \
                .filter(F.col("_best") == 1)
        return (
            per_shard.join(queries.select("query_id", "k"), "query_id")
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("query_id").orderBy(*by)))
            .filter(F.col("rank") <= F.col("k"))
            .select(*cols)
        )
    ks = {q["query_id"]: int(q["k"]) for q in queries}
    pdf = _read(per_shard).sort_values(
        ["query_id", "score", "doc_id", *tie],
        ascending=[True, False, True, *[True] * len(tie)], kind="stable")
    if best_of:
        pdf = pdf.drop_duplicates(["query_id", best_of])
    pdf["rank"] = pdf.groupby("query_id").cumcount() + 1
    pdf = pdf[pdf["rank"] <= pdf["query_id"].map(ks)]
    if not len(pdf):
        return _empty(spark, schema)
    return spark.createDataFrame(pdf[list(cols)], _struct(schema))


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """limit(0) plans as an empty LocalRelation: collecting it runs no job."""
    return spark.createDataFrame([], _struct(schema)).limit(0)


@lru_cache(maxsize=None)
def _struct(ddl: str) -> StructType:
    """An output schema's DDL string parsed once per process: each parse
    is a JVM round trip. Every caller shares the struct: never mutate it."""
    return _parse_datatype_string(ddl)


def _read(per_shard: DataFrame) -> pd.DataFrame:
    """A scatter's rows on the driver. A driver-scored scatter optimizes
    to a LocalRelation (collapse's conv column folded in), which
    collect() reads with no job while toPandas() runs one; Spark-scored
    rows are read with Arrow."""
    if per_shard._jdf.queryExecution().optimizedPlan().getClass() \
            .getSimpleName() == "LocalRelation":
        return pd.DataFrame(per_shard.collect(), columns=per_shard.columns)
    return per_shard.toPandas()


# ------------------------------------------------------- kernel helpers

def _idf(n_docs: int, df: int) -> float:
    """BM25 idf over the GLOBAL df (dfs_query_then_fetch statistics)."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


class _Hits:
    """A kernel's output rows (query_id, doc_id, score)."""

    def __init__(self):
        self.q, self.d, self.s = [], [], []

    def add(self, qid, docs, scores) -> None:
        self.q += [qid] * len(docs)
        self.d += list(docs)
        self.s += list(scores)

    def topk(self, qid, docs: np.ndarray, scores: np.ndarray, k: int) -> None:
        """Exact per-shard cut (`wand.topk_order`)."""
        keep = wand_mod.topk_order(docs, scores, k)
        self.add(qid, docs[keep], scores[keep])

    def columns(self) -> dict:
        return {"query_id": self.q, "doc_id": self.d, "score": self.s}


class _ShardTerms:
    """One shard's posting blocks for the query terms as per-term lists
    of segment cursors (`wand.block_runs`), with each term's global df
    and idf and its query entries (the `scatter` kernel input). Every
    cursor shares one decode memo, so a block decodes once per kernel
    call, whichever query or path reads it; the streams decoded are the
    ones the scan projected."""

    def __init__(self, table: pa.Table, entries: dict, dfs: dict | None = None,
                 n_docs: int = 0, tomb=None):
        self.memo: dict = {}
        self.cursors, self.df, self.idf, self.entries = {}, {}, {}, {}
        for (term,), runs in wand_mod.block_runs(table).items():
            self.entries[term] = entries[term]
            if dfs is not None:
                self.df[term] = int(dfs[term])
                self.idf[term] = _idf(n_docs, self.df[term])
            self.cursors[term] = [
                wand_mod.TermCursor(
                    term=term, cache=self.memo,
                    tomb=tomb.for_seg(r["seg"]) if tomb is not None else None,
                    **r)
                for r in runs
            ]

    def runs(self, term: str, cand: np.ndarray | None = None) -> dict | None:
        """The term's live postings sorted by doc: {"docs", "tfs", "dls"}
        plus, when the scan read positions, the flat position stream
        "pos" and its per-posting offsets "occ".

        With candidates (sorted doc ids) only blocks whose [first_doc,
        last_doc] holds one are decoded: any candidate posting lies in
        such a block, so the cut is exact, and a hot term's cost scales
        with the candidate set, not its df. None when no block
        overlaps. Segments hold disjoint live doc sets, so the merge
        across them is a sort by doc."""
        blocks = []
        for c in self.cursors[term]:
            keep = range(len(c.firsts)) if cand is None else np.flatnonzero(
                np.searchsorted(cand, c.firsts, side="left")
                < np.searchsorted(cand, c.lasts, side="right"))
            blocks += [c.decode(int(bi)) for bi in keep]
        if not blocks:
            return None
        docs = np.concatenate([b[0] for b in blocks])
        order = np.argsort(docs, kind="stable")
        out = {"docs": docs[order]}
        if blocks[0][1] is not None:
            tfs = np.concatenate([b[1] for b in blocks]).astype(np.int64)
            out["tfs"] = tfs[order]
            out["dls"] = np.concatenate([b[2] for b in blocks]).astype(
                np.int64)[order]
        if blocks[0][3] is not None:
            occ_starts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
            out["pos"] = codec.gather_runs(
                np.concatenate([b[3] for b in blocks]), occ_starts, tfs, order)
            out["occ"] = np.concatenate(([0], np.cumsum(out["tfs"])))
        return out

    def rarest_first(self, terms) -> list[str]:
        return sorted(terms, key=lambda t: (self.df[t], t))

    def conjunction(self, terms, decoded: dict) -> np.ndarray | None:
        """Docs holding every term (None for no terms), intersected
        RAREST-df-FIRST so the candidate set collapses before the hot
        terms, whose blocks are then range-pruned instead of fully
        decoded. Fills `decoded` with each term's runs."""
        cand = None
        for t in self.rarest_first(terms):
            r = self.runs(t, cand)
            if r is None or not len(r["docs"]):
                return np.empty(0, np.int64)
            decoded[t] = r
            cand = r["docs"] if cand is None else np.intersect1d(
                cand, r["docs"], assume_unique=True)
            if not len(cand):
                break
        return cand

    def bm25(self, cand: np.ndarray, terms, decoded: dict,
             avgdl: float) -> np.ndarray:
        """Exact BM25 of `cand` over the decoded `terms` each doc holds,
        sorted-term accumulation order (the float-identity contract)."""
        scores = np.zeros(len(cand), dtype=np.float64)
        for t in sorted(terms):
            d = decoded.get(t)
            if d is None or not len(d["docs"]):
                continue
            di = np.clip(np.searchsorted(d["docs"], cand), 0,
                         len(d["docs"]) - 1)
            part = self.idf[t] * codec.bm25_partial(
                d["tfs"][di], d["dls"][di], avgdl)
            scores += np.where(d["docs"][di] == cand, part, 0.0)
        return scores


def _match_sets(table: pa.Table, entries: dict, tomb=None):
    """(query_id, docs) per query of one shard's kernel call: the live
    docs holding any of the query's terms (match / bool-should msm=1
    semantics), over the gaps stream alone when that is all the scan
    read. Shared by `_count_kernel` and `facets._match_kernel`."""
    shard = _ShardTerms(table, entries, tomb=tomb)
    term_docs = {t: shard.runs(t)["docs"] for t in shard.cursors}
    terms_of: dict[str, list[str]] = {}
    for term, qs in shard.entries.items():
        for q in qs:
            terms_of.setdefault(q["query_id"], []).append(term)
    for qid, terms in terms_of.items():
        # one term's docs are already unique and sorted
        yield qid, (term_docs[terms[0]] if len(terms) == 1 else
                    np.unique(np.concatenate([term_docs[t] for t in terms])))


# ------------------------------------------------------------ match / BM25

def _shard_kernel(
    avgdl: float, n_docs: int, algo: str, ub_scale: float = 1.0,
    tomb=None, collapse_stride: int | None = None,
):
    """One call per SHARD: block rows arrive ONCE per term, its entries
    (query_id, k, ...) and global df as dicts — no per-query row
    replication through the shuffle. Per-term block data is
    materialized once, and each block decodes at most once per call:
    the decode memo is a plain dict that lives for one call, so nothing
    decoded under one index state can serve another."""

    def run(table: pa.Table, entries: dict, dfs: dict) -> dict:
        cache: dict = {}
        # one cursor per (term, seg): incremental builds append a new
        # SEGMENT of doc-sorted blocks per term (doc sets disjoint across
        # segments), mirroring Lucene's per-segment posting lists
        runs = wand_mod.block_runs(table, ub_scale=ub_scale)
        idf: dict[str, float] = {}
        # qid -> [k, terms, after-cursor]
        queries: dict[str, list] = {}
        for (term,) in runs:
            idf[term] = _idf(n_docs, int(dfs[term]))
            for q in entries[term]:
                a_s = q["after_score"]
                after = (float(a_s), int(q["after_doc"])) if pd.notna(a_s) \
                    else None
                queries.setdefault(q["query_id"], [int(q["k"]), [], after])[1] \
                    .append((term, float(q["boost"])))

        out = _Hits()
        for qid, (k, terms, after) in queries.items():
            cursors = [
                wand_mod.TermCursor(
                    term=t, avgdl=avgdl, cache=cache, boost=b, idf=idf[t],
                    # per-segment liveDocs: a tombstone applies only to
                    # segments that existed when the delete happened
                    tomb=(tomb.for_seg(r["seg"]) if tomb is not None else None),
                    **r,
                )
                for (t, b) in terms
                for r in runs[(t,)]
            ]
            if collapse_stride:
                # collapse scores every candidate (exhaustive path);
                # block-max pruning can't apply — the kth GROUP score
                # is not a valid doc-level threshold
                topk = wand_mod.collapse_exhaustive_topk(
                    cursors, k, collapse_stride, after)
            elif algo == "all":
                # every matching doc with its exact score (no top-k):
                # feeds aggregating consumers (nested block-join
                # scoring) whose reduction is distributive, so each
                # shard emits its full local match set once
                uniq, scores = wand_mod._exhaustive_scores(cursors)
                topk = list(zip(uniq.tolist(), scores.tolist()))
            elif algo in ("bmx", "wand"):
                # one pruned top-k kernel; "wand" is its older name
                topk = wand_mod.blockmax_topk(cursors, k, after)
            else:
                topk = wand_mod.exhaustive_topk(cursors, k, after)
            out.add(qid, [d for d, _ in topk], [s for _, s in topk])
        return out.columns()

    return run


# Query prep (tokenize + per-term query map) is DRIVER-SIDE Python —
# query/prep.py. The round-3 tokenize-in-SQL prep cost 3-4 driver-
# blocking jobs per call (profiled: ~80% of bool_topk latency at
# sf0.01); its expressions live on as the semantic pin in
# tests/test_prep_equivalence.py.


def score_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | pd.DataFrame | list[dict],
    algo: str = "bmx",
    collapse: bool = False,
    collapse_stride: int | None = None,
) -> DataFrame:
    """queries(query_id, query_text, k[, after_score, after_doc]) ->
    (query_id, rank, doc_id, score). The queries are a DataFrame or
    driver rows (a list of dicts, a pandas frame), which cost no job to
    read (prep.collect_rows).

    search_after pagination (the reference opensearch source pages an
    index out with PIT + search_after — opensearch/.../worker/
    PitWorker.java:170-189): optional per-query cursor columns
    (after_score double, after_doc long) restrict results to docs
    strictly AFTER the cursor in (score desc, doc_id asc) order; page
    N+1 costs one scatter-gather like page 1, and rank restarts at 1
    per page. Cursor = the last row of the previous page.

    collapse=True (OpenSearch `collapse: {field: conv_id}` — one best
    hit per conversation): each shard returns its collapsed top-k
    GROUPS (exhaustive scoring — a kth-group score is not a valid
    doc-level WAND threshold), merged exactly across shards (group
    best = max over per-shard bests). Output gains a `conv` column;
    rank orders groups. doc_id // stride is the group key under BOTH
    id schemes (arith and convmap)."""
    r = IndexReader(spark, index_dir)
    stride = int(collapse_stride or DOC_ID_STRIDE)
    if isinstance(queries, DataFrame):
        cursor_cols = (
            [F.col("after_score").cast("double"),
             F.col("after_doc").cast("long")]
            if "after_score" in queries.columns
            else [F.lit(None).cast("double").alias("after_score"),
                  F.lit(None).cast("long").alias("after_doc")]
        )
        queries = queries.select("query_id", "query_text", "k", *cursor_cols)
    # interactive batches (<= threshold) prep in pure Python, scatter
    # with closure constants and merge on the driver; LARGE batches
    # (batch scoring) prep distributedly (prep.qmap_df_dist), join on
    # term and merge in a Window instead. Reading the rows is one
    # single-task job for a DataFrame and none for driver rows
    rows = prep.collect_rows(queries,
                             limit=prep.PREP_DISTRIBUTED_THRESHOLD + 1)
    if len(rows) > prep.PREP_DISTRIBUTED_THRESHOLD:
        if not isinstance(queries, DataFrame):
            # driver rows this many take the distributed path as a frame
            cast = {"query_id": str, "query_text": str, "k": int,
                    "after_score": float, "after_doc": int}
            queries = spark.createDataFrame(
                [tuple(None if q.get(c) is None else t(q[c])
                       for c, t in cast.items()) for q in rows],
                "query_id string, query_text string, k int, "
                "after_score double, after_doc long")
        per_term = prep.qmap_df_dist(spark, queries, "score", r.mode)
    else:
        queries = [{"after_score": None, "after_doc": None, **q}
                   for q in rows]
        per_term = prep.score_entries(queries, r.mode)
    per_shard = scatter(r, per_term, prep.SCORE_FIELDS, lambda: _shard_kernel(
        r.avgdl, r.n_docs, algo, r.ub_scale, r.tomb,
        collapse_stride=stride if collapse else None,
    ))
    if not collapse:
        return gather(per_shard, queries)
    if per_shard is not None:
        per_shard = per_shard.withColumn(
            "conv", F.expr(f"doc_id div {stride}"))
    # a group's global best is the best of its per-shard bests; the
    # merge input is bounded by k * n_shards rows per query
    return gather(per_shard, queries,
                  ("query_id", "rank", "conv", "doc_id", "score"),
                  best_of="conv")


def match_scores(
    spark: SparkSession, index_dir: str, queries: DataFrame,
) -> DataFrame:
    """queries(query_id, query_text) -> (query_id, doc_id, score): the
    FULL scored match set — every doc containing >= 1 query term, with
    its exact exhaustive BM25 score (sorted-term accumulation, the
    float-identity contract score_topk's exhaustive path uses).

    This is the scored sibling of facets.match_docs, for consumers
    whose reduction over matches is distributive (nested block-join
    scoring aggregates child scores per parent): the match set is
    emitted once per shard and never truncated, so downstream
    aggregates are exact without any per-shard k heuristic."""
    r = IndexReader(spark, index_dir)
    per_term = prep.score_entries(
        [dict(x, k=0) for x in prep.collect_rows(
            queries, "query_id", "query_text")], r.mode)
    out = scatter(r, per_term, prep.SCORE_FIELDS, lambda: _shard_kernel(
        r.avgdl, r.n_docs, "all", r.ub_scale, r.tomb))
    return out if out is not None else _empty(spark, _KERNEL_OUT)


# -------------------------------------------------- _count / total hits

def _count_kernel(tomb=None):
    """Per-shard exact match counting: the live docs of each query's
    `_match_sets`, counted. Only the gaps stream reaches the scan."""

    def run(table: pa.Table, entries: dict, dfs: None) -> dict:
        sets = dict(_match_sets(table, entries, tomb))
        return {"query_id": list(sets),
                "total_hits": [len(d) for d in sets.values()]}

    return run


def count_matches(
    spark: SparkSession, index_dir: str,
    queries: DataFrame | pd.DataFrame | list[dict],
) -> DataFrame:
    """OpenSearch `_count` / `track_total_hits: true`: the EXACT number
    of live documents matching at least one analyzed query term (match-
    query semantics — the same candidate set the exhaustive scorer
    ranks, which block-max pruning deliberately never enumerates).
    queries(query_id, query_text) -> (query_id, total_hits).

    Plan: the score_topk scatter minus everything scoring needs — no
    dictionary join (no idf), ReadSchema is (term, gaps, first_doc)
    plus keys, so the count costs one pruned scan of the SMALLEST
    posting stream. A doc lives in exactly one shard, so the global
    total is a plain sum of per-shard distinct counts, taken on the
    driver as `gather` merges; a query no shard counted gets 0. The
    answer is a LocalRelation."""
    r = IndexReader(spark, index_dir)
    rows = prep.collect_rows(queries, "query_id", "query_text")
    schema = "query_id string, total_hits long"
    per_shard = scatter(
        r, prep.count_entries(rows, r.mode), prep.COUNT_FIELDS,
        lambda: _count_kernel(r.tomb), schema, cols=COUNT_COLS,
        dictionary=False,
    )
    totals = dict.fromkeys((q["query_id"] for q in rows), 0)
    if per_shard is not None:
        for qid, n in _read(per_shard).itertuples(index=False):
            totals[qid] += int(n)
    if not totals:
        return _empty(spark, schema)
    return spark.createDataFrame(pd.DataFrame(
        list(totals.items()), columns=["query_id", "total_hits"]),
        _struct(schema))


# ---------------------------------------------------------- match_phrase

_POS_STRIDE = np.int64(1) << np.int64(32)  # doc-local key = idx*2^32 + pos


def _phrase_kernel(avgdl: float, n_docs: int, tomb=None):
    """Per-shard exact phrase matching + BM25 scoring.

    For a phrase t_0..t_m, a match at start position p in doc d means
    every (t_i, i) constraint holds: d contains t_i at position p+i.
    Each constraint's occurrence set maps to keys
    local_doc_idx * 2^32 + (pos - i); the phrase's matches are the
    intersection of all constraint key sets (sorted-array intersect1d —
    no per-doc Python loop). Matching docs are then scored with the
    standard BM25 sum over the phrase's DISTINCT terms (OpenSearch's
    match_phrase = position filter + BM25-weighted phrase clause; we
    score the matched docs with the same per-term sum as `match` so
    scores stay oracle-reproducible) in sorted-term order.

    slop > 0 (match_phrase's slop parameter): constraint i accepts
    pos = p + i + j for any |j| <= slop, i.e. each term may move up to
    `slop` positions from its in-order offset, implemented by
    expanding every constraint's key set over j in [-slop, slop]
    before the same intersections. Documented divergence from Lucene's
    SloppyPhraseMatcher: Lucene's slop is the TOTAL move count (L1),
    ours is per-term (L-infinity) — e.g. a transposition costs Lucene
    2 but matches here at slop 1; "a x b" matches "a b"~1 in both.
    Repeated-term phrases can additionally let one occurrence satisfy
    two offsets under slop (Lucene special-cases repeats); slop=0 is
    exact and unchanged."""

    def run(table: pa.Table, entries: dict, dfs: dict) -> dict:
        shard = _ShardTerms(table, entries, dfs, n_docs, tomb)
        queries: dict[str, dict] = {}
        for term, qs in shard.entries.items():
            for q in qs:
                ent = queries.setdefault(
                    q["query_id"],
                    {"k": int(q["k"]), "n_terms": int(q["n_terms"]),
                     "slop": int(q["slop"]),
                     "constraints": []},
                )
                for off in q["offsets"]:
                    ent["constraints"].append((term, int(off)))

        out = _Hits()
        for qid, ent in queries.items():
            terms_here = {t for t, _ in ent["constraints"]}
            if len(terms_here) < ent["n_terms"]:
                continue  # some phrase term absent from this shard
            # candidate docs: every distinct term present
            decoded: dict[str, dict] = {}
            cand = shard.conjunction(terms_here, decoded)
            if not len(cand):
                continue
            # positional intersection over all (term, offset) constraints
            keys = None
            for t, off in sorted(ent["constraints"], key=lambda c: c[1]):
                d = decoded[t]
                pidx = np.searchsorted(d["docs"], cand)
                # occurrences of t in candidate docs only (runs gather)
                occ_sel = codec.gather_runs(
                    d["pos"], d["occ"][:-1], d["tfs"], pidx
                )
                local = np.repeat(
                    np.arange(len(cand), dtype=np.int64), d["tfs"][pidx]
                )
                slop = ent["slop"]
                if slop == 0:
                    adj = occ_sel - off
                    ok = adj >= 0
                    ck = local[ok] * _POS_STRIDE + adj[ok]
                else:
                    # L-inf slop: a start p is witnessed by this
                    # constraint if some occurrence sits within slop of
                    # p + off -> expand keys over j in [-slop, slop]
                    parts = []
                    for j in range(-slop, slop + 1):
                        adj = occ_sel - off - j
                        ok = adj >= 0
                        parts.append(local[ok] * _POS_STRIDE + adj[ok])
                    ck = np.unique(np.concatenate(parts))
                keys = ck if keys is None else np.intersect1d(
                    keys, ck, assume_unique=True
                )
                if not len(keys):
                    break
            if keys is None or not len(keys):
                continue
            matched = cand[np.unique(keys // _POS_STRIDE)]
            # BM25 over distinct terms, sorted-term accumulation order
            out.topk(qid, matched,
                     shard.bm25(matched, terms_here, decoded, avgdl),
                     ent["k"])
        return out.columns()

    return run


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | pd.DataFrame | list[dict],
) -> DataFrame:
    """match_phrase top-k: queries(query_id, query_text, k) ->
    (query_id, rank, doc_id, score); only documents containing the
    query's tokens CONSECUTIVELY in order qualify (the reference serves
    this through OpenSearch's match_phrase — OpenSearchSink.java:132-141
    ships the docs, Lucene's position postings answer the query; here
    the `poss` stream in our own blocks does).

    The score_topk scatter-gather; this path DOES read the poss
    column."""
    r = IndexReader(spark, index_dir)
    r.require_positions("serve match_phrase")
    rows = prep.collect_rows(queries)
    return gather(scatter(
        r, prep.phrase_entries(rows, r.mode), prep.PHRASE_FIELDS,
        lambda: _phrase_kernel(r.avgdl, r.n_docs, r.tomb), cols=POS_COLS,
    ), rows)


# ----------------------------------------------------------- bool query

def _bool_kernel(avgdl: float, n_docs: int, tomb=None):
    """Per-shard bool-query evaluation (must / should / must_not /
    minimum_should_match — the OpenSearch `bool` query, the form the
    reference's deployments use for filtered search over the docs the
    opensearch sink ships, OpenSearchSink.java:132-141).

    Shards are doc-disjoint, so clause logic is complete shard-locally:
    candidates = ∩ must-term postings (every must term must appear in
    this shard's blocks — tracked via n_must — else no shard doc can match),
    minus ∪ must_not postings, filtered to docs holding >= msm distinct
    should terms. Scoring is the standard BM25 sum over the distinct
    (must ∪ should) terms PRESENT per doc, sorted-term accumulation
    order — a should-only msm=1 bool therefore ranks identically to
    `match` on the same terms."""
    empty = {"docs": np.empty(0, np.int64), "tfs": np.empty(0, np.int64),
             "dls": np.empty(0, np.int64)}

    def run(table: pa.Table, entries: dict, dfs: dict) -> dict:
        shard = _ShardTerms(table, entries, dfs, n_docs, tomb)
        queries: dict[str, dict] = {}
        for term, qs in shard.entries.items():
            for q in qs:
                nb = q["neg_boost"]
                ent = queries.setdefault(
                    q["query_id"],
                    {"k": int(q["k"]), "msm": int(q["msm"]),
                     "n_must": int(q["n_must"]),
                     "n_groups": int(q["n_groups"]),
                     "neg_boost": float(nb) if pd.notna(nb) else None,
                     "must": set(), "should": set(), "must_not": set(),
                     "negative": set(), "groups": {}},
                )
                for role in q["roles"]:
                    if role.startswith("group"):
                        # conjunctive OR-group (Lucene nested bool /
                        # synonym shape): doc must hold >=1 term of
                        # EACH group
                        ent["groups"].setdefault(role, set()).add(term)
                    else:
                        ent[role].add(term)

        out = _Hits()
        for qid, ent in queries.items():
            if len(ent["must"]) < ent["n_must"]:
                continue  # a must term has no postings in this shard
            if len(ent["groups"]) < ent["n_groups"]:
                continue  # a whole OR-group is absent from this shard
            decoded: dict[str, dict] = {}
            cand = shard.conjunction(ent["must"], decoded)
            if cand is not None and not len(cand):
                continue
            # conjunctive OR-groups, rarest group first (by summed df):
            # union the group's member postings (block-pruned once cand
            # exists), then intersect with the running candidate set
            dead = False
            for g in sorted(ent["groups"], key=lambda g: (
                    sum(shard.df[t] for t in ent["groups"][g]), g)):
                docs_g = []
                for t in sorted(ent["groups"][g]):
                    r = shard.runs(t, cand)
                    if r is None or not len(r["docs"]):
                        continue
                    decoded[t] = r
                    docs_g.append(r["docs"])
                if not docs_g:
                    dead = True
                    break
                g_union = np.unique(np.concatenate(docs_g))
                cand = g_union if cand is None else np.intersect1d(
                    cand, g_union, assume_unique=True
                )
                if not len(cand):
                    dead = True
                    break
            if dead:
                continue
            should = sorted(ent["should"])
            if should:
                for t in should:
                    decoded[t] = shard.runs(t, cand) or empty
                s_docs = np.concatenate([decoded[t]["docs"] for t in should])
                s_uniq, s_cnt = np.unique(s_docs, return_counts=True)
            if cand is None:
                if not should:
                    continue  # no positive clause at all
                cand = s_uniq[s_cnt >= max(1, ent["msm"])]
            elif should and ent["msm"] > 0:
                if not len(s_uniq):
                    continue
                si = np.clip(np.searchsorted(s_uniq, cand), 0, len(s_uniq) - 1)
                hit = np.where(s_uniq[si] == cand, s_cnt[si], 0)
                cand = cand[hit >= ent["msm"]]
            if not len(cand):
                continue
            for t in shard.rarest_first(ent["must_not"]):
                nd = (shard.runs(t, cand) or empty)["docs"]
                if not len(nd):
                    continue
                ni = np.clip(np.searchsorted(nd, cand), 0, len(nd) - 1)
                cand = cand[nd[ni] != cand]
                if not len(cand):
                    break
            if not len(cand):
                continue
            positive = ent["must"] | ent["should"]
            for g in ent["groups"].values():
                positive |= g
            scores = shard.bm25(cand, positive, decoded, avgdl)
            # boosting-query demotion (OpenSearch `boosting`): docs
            # holding any negative term keep matching but their FINAL
            # score is scaled by negative_boost BEFORE the shard heap —
            # per-shard top-k stays exact because the final score is
            # known shard-locally. Negative postings decode pruned to
            # the candidate set (a hot negative term never fully
            # decodes).
            if ent["negative"] and ent["neg_boost"] is not None:
                demote = np.zeros(len(cand), dtype=bool)
                for t in shard.rarest_first(ent["negative"]):
                    r = decoded.get(t) or shard.runs(t, cand)
                    if r is None or not len(r["docs"]):
                        continue
                    ni = np.clip(np.searchsorted(r["docs"], cand), 0,
                                 len(r["docs"]) - 1)
                    demote |= r["docs"][ni] == cand
                scores = np.where(demote, scores * ent["neg_boost"],
                                  scores)
            out.topk(qid, cand, scores, ent["k"])
        return out.columns()

    return run


def calculate_min_should_match(optional_count: int, spec) -> int:
    """OpenSearch/Lucene minimum_should_match spec resolution
    (org.opensearch.common.lucene.search.Queries.calculateMinShouldMatch
    — public algorithm, reimplemented): positive int (fixed), negative
    int (clauses minus n), 'N%' (truncating percentage of clauses),
    '-N%' (all but that percentage), and space-separated conditional
    chains 'n<spec' (applies spec only when more than n optional
    clauses; below the smallest n, ALL clauses are required)."""
    if spec is None:
        return 0
    s = str(spec).strip()
    if not s:
        return 0
    result = optional_count
    if "<" in s:
        for tok in s.split(" "):
            if not tok:
                continue
            upper_s, _, sub = tok.partition("<")
            if optional_count <= int(upper_s):
                return max(result, 0)
            result = calculate_min_should_match(optional_count, sub)
        return max(result, 0)
    if s.endswith("%"):
        pct = int(s[:-1])
        calc = optional_count * pct / 100.0
        result = optional_count + int(calc) if calc < 0 else int(calc)
    else:
        calc = int(s)
        result = optional_count + calc if calc < 0 else calc
    return max(result, 0)


def bool_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | pd.DataFrame | list[dict],
) -> DataFrame:
    """bool query top-k. queries(query_id, must, should, must_not,
    minimum_should_match, k) — each clause a space-separated term string
    (tokenizer-normalized like every query path) -> (query_id, rank,
    doc_id, score).

    OpenSearch semantics: docs must contain ALL must terms, NONE of the
    must_not terms, and at least minimum_should_match distinct should
    terms (msm defaults to 1 when there is no must clause, 0 — purely
    score-boosting — when there is). The score_topk scatter-gather over
    the clause terms (positions column never read)."""
    r = IndexReader(spark, index_dir)
    # clause tokenize + role/arity bookkeeping + minimum_should_match
    # spec resolution (Lucene calculateMinShouldMatch) all run driver-
    # side — bool queries are driver-literal in every caller, and the
    # retired SQL prep here cost THREE blocking jobs per call
    # (prep.bool_entries; conjunctive OR-groups ride `must_groups`)
    rows = prep.collect_rows(queries)
    return gather(scatter(
        r, prep.bool_entries(rows, r.mode), prep.BOOL_FIELDS,
        lambda: _bool_kernel(r.avgdl, r.n_docs, r.tomb), cols=MATCH_COLS,
    ), rows)


def boosting_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
) -> DataFrame:
    """OpenSearch `boosting` query: queries(query_id, positive,
    negative, negative_boost, k) -> (query_id, rank, doc_id, score).

    Docs matching the positive clause rank by BM25; those ALSO holding
    any negative term stay in the result but have their score
    multiplied by negative_boost (0 <= nb < 1) — demotion, not
    exclusion (the must_not contrast). The reference's deployments use
    this to bury, e.g., auto-generated turns without hiding them.

    Thin rewrite into the bool machinery: positive = should clause
    (match semantics, msm 1), negative = the demotion clause the bool
    kernel applies before its shard-local heap — exact global top-k."""
    bq = queries.select(
        "query_id",
        F.lit("").alias("must"),
        F.col("positive").alias("should"),
        F.lit("").alias("must_not"),
        F.lit(0).alias("minimum_should_match"),
        "k",
        F.col("negative"),
        F.col("negative_boost"),
    )
    return bool_topk(spark, index_dir, bq)


# ------------------------------------------------------------ filter context


def _filtered_kernel(avgdl: float, n_docs: int, tomb=None,
                     boost_mode: str | None = None):
    """Per-shard filter-context scoring (OpenSearch `bool: {must:
    match, filter: [...]}` — the filter restricts candidates BEFORE the
    top-k heap and contributes no score; idf/avgdl stay full-corpus,
    exactly OpenSearch's filter-context semantics).

    Cogroup kernel: `table` = this shard's posting blocks (one row per
    (term, seg, block)), `right` = this shard's ALLOWED doc_ids (the
    corpus rows passing the filter, shuffled here on the same
    shard key the index build used). The allowed set acts as the
    candidate set from the first decode on, so hot terms are
    block-range-pruned against it (_ShardTerms.runs) — per-shard cost
    scales with the FILTERED corpus, not the terms' df.

    With a boost_mode (function_score), `right` also carries each
    doc's precomputed `factor`, combined with the BM25 score per
    boost_mode BEFORE the top-k cut — OpenSearch function_score
    semantics (the function changes ranking, so it must precede it)."""

    def run(table: pa.Table, entries: dict, dfs: dict,
            right: pa.Table) -> dict:
        out = _Hits()
        if not table.num_rows or not right.num_rows:
            return out.columns()
        allowed, first = np.unique(
            right.column("doc_id").to_numpy().astype(np.int64),
            return_index=True)
        if boost_mode is not None:
            fac = right.column("factor").to_numpy().astype(np.float64)[first]
        shard = _ShardTerms(table, entries, dfs, n_docs, tomb)
        decoded = {t: shard.runs(t, allowed) for t in shard.cursors}
        queries: dict[str, list] = {}
        for term, qs in shard.entries.items():
            for q in qs:
                queries.setdefault(q["query_id"], [int(q["k"]), set()])[1].add(term)

        for qid, (k, terms) in queries.items():
            matched = [
                decoded[t]["docs"] for t in sorted(terms)
                if decoded[t] is not None and len(decoded[t]["docs"])
            ]
            if not matched:
                continue
            cand = np.intersect1d(
                np.unique(np.concatenate(matched)), allowed,
                assume_unique=True,
            )
            scores = shard.bm25(cand, terms, decoded, avgdl)
            live = scores > 0.0
            cand, scores = cand[live], scores[live]
            if boost_mode is not None:
                cf = fac[np.searchsorted(allowed, cand)]
                if boost_mode == "multiply":
                    scores = scores * cf
                elif boost_mode == "sum":
                    scores = scores + cf
                else:  # replace — query matches, function alone ranks
                    scores = cf
            out.topk(qid, cand, scores, k)
        return out.columns()

    return run


def sharded_docs(
    reader: IndexReader, docs: DataFrame, carry: tuple = (),
) -> DataFrame:
    """(shard, doc_id) for corpus rows — MUST mirror build_index's
    assignment (index/build.py: xxhash64(conv_id) % n_shards). The
    routing key is derived FROM THE INDEX's recorded id scheme, never
    guessed from the corpus columns (a corpus without conv_id routed by
    doc_id-string against a conv-sharded index silently lands docs in
    the wrong shards and DROPS results):

      arith    — conv_id is a pure function of doc_id
                 ('conv-' || doc_id div stride), derived here;
      convmap  — recover conv_id by joining the index's persisted
                 (conv_id, serial) side table on serial = doc_id div
                 stride (distributed equi-join; the convmap is NOT
                 broadcast — ~10^8 rows at 10^12 turns);
      external — stats.json's shard_key records whether the build
                 sharded by a PROVIDED conv_id column or by the
                 doc_id-string fallback; a conv_id-sharded external
                 index REQUIRES conv_id in `docs` (loud raise, never a
                 silent wrong-shard route).

    Fast path: a `docs` that already carries a `shard` column — the
    corpus store (index/corpus_store.py) precomputes this index's
    routing at write time — is trusted as-is: no derivation, no convmap
    join, no xxhash at query time. Only pass such a column if it came
    from THIS index's store (the store is keyed by index_dir)."""
    stats = reader.stats
    n_shards = int(stats["n_shards"])
    if "shard" in docs.columns:
        return docs.select(
            F.col("shard").cast("int").alias("shard"),
            F.col("doc_id").cast("long").alias("doc_id"), *carry,
        )
    scheme = stats.get("id_scheme", "arith")
    if scheme == "external" and stats.get("shard_key", "conv_id") == "conv_id":
        if "conv_id" not in docs.columns:
            raise ValueError(
                "this external-id index was sharded by a provided conv_id "
                "column; pass a docs DataFrame that includes conv_id "
                "(routing by doc_id would silently drop results)"
            )
        out = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "conv_id", *carry
        )
        base = F.col("conv_id")
        return out.select(
            F.pmod(F.xxhash64(base), F.lit(n_shards)).cast("int")
            .alias("shard"),
            "doc_id", *carry,
        )
    out = docs.select(F.col("doc_id").cast("long").alias("doc_id"), *carry)
    if scheme == "arith":
        base = F.concat(
            F.lit("conv-"),
            (F.col("doc_id") / DOC_ID_STRIDE).cast("long").cast("string"),
        )
    elif scheme == "convmap":
        cm = reader.convmap
        out = out.withColumn(
            "_serial", (F.col("doc_id") / DOC_ID_STRIDE).cast("long")
        ).join(cm.select(F.col("serial").alias("_serial"), "conv_id"),
               "_serial").drop("_serial")
        base = F.col("conv_id")
    else:  # external ids sharded by the doc_id-string fallback
        base = F.col("doc_id").cast("string")
    return out.select(
        F.pmod(F.xxhash64(base), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id", *carry,
    )


def filtered_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | pd.DataFrame | list[dict],
    docs: DataFrame,
    filter_expr: str,
) -> DataFrame:
    """Filter-context BM25 top-k — `bool: {must: match(query_text),
    filter: filter_expr}` (the everyday OpenSearch query shape over the
    reference sink's indexes: full-text match restricted by structured
    attributes, OpenSearchSink.java:132-141 consumers).

    queries(query_id, query_text, k); docs = the corpus table holding
    doc_id (+ conv_id when conv-sharded) and the filter's columns;
    filter_expr = a Spark SQL boolean expression over docs' columns.

    Plan (and why it scales to 10^12 docs):
      corpus scan: .filter(filter_expr) pushes to parquet
        (PushedFilters) and only (id cols + filter cols) are read
        (ReadSchema pruning — `text` never leaves the scan);
      allowed set: (shard, doc_id), shuffled BY SHARD — the same
        partitioner the index build used, so each kernel sees exactly
        its shard's allowed docs; the set is never collect()ed or
        broadcast (a date-range filter at 100 TB passes billions of
        docs);
      blocks scan: term In-filter pushed (row-group pruned), positions
        column never read;
      cogroup kernel: allowed doubles as the candidate set from the
        first decode — hot query terms decode only blocks whose
        [first_doc, last_doc] overlaps an allowed doc;
      global top-k: per-shard winners only (k rows per shard per
        query) through the final window."""
    return _filtered_topk(spark, index_dir, queries, docs.filter(
        F.expr(filter_expr)), None)


def function_score_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    factor_expr: str,
    boost_mode: str = "multiply",
    filter_expr: str | None = None,
    missing: float = 1.0,
) -> DataFrame:
    """OpenSearch `function_score` (field_value_factor / script_score
    role): rank the match set by BM25 combined with a document-
    attribute expression — the standard recency/popularity boost.

    `factor_expr` is a Spark SQL double expression over docs' columns
    (e.g. "1.0 + log1p(value)"); `boost_mode` multiply | sum | replace
    (how the function combines with the query score — OpenSearch's
    boost_mode); optional `filter_expr` restricts candidates first
    (filter context, no score contribution).

    Plan: the factor computes IN THE CORPUS SCAN (narrow projection:
    id + factor; text never leaves the scan), co-shuffles with the
    filtered_topk machinery on the index's shard key, and the kernel
    combines per candidate BEFORE the heap — per-shard top-k stays
    exact because the final score is known shard-locally. Factors for
    100 TB corpora stream as (shard, doc_id, double) — never
    collected or broadcast."""
    if boost_mode not in ("multiply", "sum", "replace"):
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    src = docs.filter(F.expr(filter_expr)) if filter_expr else docs
    # `missing` (OpenSearch field_value_factor's missing param): a null
    # factor — null attribute, null-propagating expression — would
    # otherwise NaN-poison every score it touches in the kernel
    src = src.withColumn(
        "factor",
        F.coalesce(F.expr(factor_expr).cast("double"),
                   F.lit(float(missing))),
    )
    return _filtered_topk(spark, index_dir, queries, src, boost_mode)


def _filtered_topk(spark, index_dir, queries, allowed, boost_mode):
    """filtered_topk / function_score_topk: the score_topk
    scatter-gather, cogrouped by shard with the allowed corpus rows."""
    r = IndexReader(spark, index_dir)
    rows = prep.collect_rows(queries, "query_id", "query_text", "k")
    carry = ("factor",) if boost_mode else ()
    return gather(scatter(
        r, prep.simple_entries(rows, r.mode), prep.SIMPLE_FIELDS,
        lambda: _filtered_kernel(r.avgdl, r.n_docs, r.tomb, boost_mode),
        cols=MATCH_COLS,
        right=lambda: sharded_docs(r, allowed, carry),
    ), rows)


def filtered_topk_multi(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
) -> DataFrame:
    """Per-query filter contexts: queries(query_id, query_text, k,
    filter) where `filter` is a Spark SQL predicate string (empty/null
    = unfiltered match). Queries sharing a filter run in ONE
    scatter-gather (grouped by distinct predicate — the filter string
    is part of the plan, so it cannot ride a data column); distinct
    filters each cost one corpus-scan + cogroup, unfiltered queries
    ride a single score_topk."""
    rows = prep.collect_rows(queries, "query_id", "query_text", "k", "filter")
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r.pop("filter") or "", []).append(r)
    out = None
    for filt, qs in sorted(groups.items()):
        part = (
            score_topk(spark, index_dir, qs)
            if not filt
            else filtered_topk(spark, index_dir, qs, docs, filt)
        )
        out = part if out is None else out.unionByName(part)
    return out if out is not None else gather(None, [])
