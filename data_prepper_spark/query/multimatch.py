"""multi_match over per-field sub-indexes (best_fields / most_fields).

The reference's documents land in OpenSearch with MULTIPLE analyzed
fields (the sink ships whole events — OpenSearchSink.java:132-141 —
and the index mapping analyzes each text field separately); consumers
query them with `multi_match` ("query": ..., "fields": ["text",
"tool^2"]). Lucene keeps per-field postings with per-field statistics
(df, norms); best_fields is a dis_max over the per-field BM25 scores
(+ tie_breaker * sum of the rest), most_fields sums them.

Here the same shape, Spark-first:

- `build_fields_index` assigns doc_ids ONCE on the parent frame, then
  builds one ordinary SPIMI sub-index per field under
  <dir>/fields/<f> — each with its OWN n_docs/avgdl/df (only docs
  that HAVE the field count, Lucene's per-field statistics), all
  sharing the doc_id space and the conv_id shard map, so one doc's
  postings across fields are CO-LOCATED in the same shard number.
- `multi_match_topk` runs ONE kernel exchange over the union of the
  per-field block scans (each keeping its own term In-filter
  pushdown + per-field dictionary df). Because shard maps align, the
  per-shard kernel holds every field's scores for its docs and can
  combine them EXACTLY — per (query, field) exhaustive BM25 (float-
  identical to score_topk on that field alone), then dis_max/sum per
  doc, then the boundary-exact per-shard top-k; the global merge is
  the same bounded k*n_shards row_number as score_topk.

Scale: one scatter-gather; block rows scanned once per (field, term);
no corpus scan; per-shard combine is numpy over already-local arrays.
The union scan grows linearly with the number of QUERIED fields —
exactly OpenSearch's multi_match cost model.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index import layout
from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.query import wand as wand_mod
from data_prepper_spark.query import prep
from data_prepper_spark.query.engine import (
    _Hits,
    _idf,
    gather,
    scatter,
)

__all__ = ["build_fields_index", "multi_match_topk", "parse_field_specs"]

_FIELD_BOOST_RE = re.compile(r"^(.*?)(?:\^([0-9]+(?:\.[0-9]+)?))?$")


def parse_field_specs(specs: list[str]) -> list[tuple[str, float]]:
    """["text", "tool^2"] -> [("text", 1.0), ("tool", 2.0)]."""
    out = []
    for s in specs:
        m = _FIELD_BOOST_RE.match(s.strip())
        out.append((m.group(1), float(m.group(2) or 1.0)))
    return out


def build_fields_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    fields: list[str],
    n_shards: int = 32,
    block_size: int = 128,
    tokenizer: str = "ascii",
    store_positions: bool = False,
) -> dict:
    """One SPIMI sub-index per field under <index_dir>/fields/<f>.

    doc_ids are assigned ONCE on the parent frame (arith packing or the
    persisted convmap at the PARENT dir — shared, so ids align across
    fields even when some rows lack a field), and each sub-index keeps
    conv_id so the shard map is identical everywhere. Per-field corpus
    stats count only docs that HAVE the field (Lucene per-field norms).
    """
    from data_prepper_spark.index.build import _assign_doc_ids_convmap, build_index
    from data_prepper_spark.query.bm25_df import assign_doc_ids, conv_scheme_arith_ok

    missing = [f for f in fields if f not in transcripts.columns]
    if missing:
        raise ValueError(f"fields {missing} not in input columns")
    os.makedirs(index_dir, exist_ok=True)
    if "doc_id" in transcripts.columns:
        assigned = transcripts
    elif conv_scheme_arith_ok(transcripts):
        assigned = assign_doc_ids(transcripts)
    else:
        assigned = _assign_doc_ids_convmap(spark, transcripts, index_dir)
    keys = ["doc_id"] + (["conv_id"] if "conv_id" in assigned.columns else [])
    for f in fields:
        sub = (
            assigned.select(*keys, F.col(f).alias("text"))
            .filter(F.col(f).isNotNull() & (F.length(f) > 0))
        )
        build_index(
            spark, sub, os.path.join(index_dir, "fields", f),
            n_shards=n_shards, block_size=block_size, tokenizer=tokenizer,
            store_positions=store_positions, assign_ids=False,
        )
    manifest = {
        "fields": list(fields), "n_shards": n_shards, "tokenizer": tokenizer,
    }
    layout.publish_file(
        os.path.join(index_dir, "fields.json"), json.dumps(manifest)
    )
    return manifest


def _mm_kernel(field_conf: dict, mm_type: str, tie_breaker: float):
    """Per-shard multi_match: exact per-(query, field) exhaustive BM25
    (same sorted-term accumulation as score_topk — float identity per
    field), field-boost scale, dis_max/sum combine, boundary-exact
    top-k. field_conf: field -> dict(n_docs, avgdl, boost, tomb)."""

    def run(table, entries: dict, dfs: dict) -> dict:
        xf = mm_type == "cross_fields"
        caches = {f: {} for f in field_conf}
        # pass 1: collect per-(field, term) block runs and each query's
        # terms; pass 2 constructs cursors with the mode's idf
        runs = wand_mod.block_runs(table, by=("field", "term"))
        queries: dict[str, list] = {}
        for field, term in runs:
            for q in entries[term]:
                ent = queries.setdefault(q["query_id"], [int(q["k"]), {}])
                ent[1].setdefault(term, set()).add(field)

        def idf_for(field: str, term: str) -> float:
            if xf:
                # blended statistics (BlendedTermQuery role): ONE idf
                # per term across fields — df = max over the queried
                # fields holding it, n_docs likewise. `dfs` holds every
                # queried field's GLOBAL dictionary slice (a shard may
                # hold only one field's postings for a term; blending
                # from shard-local rows would skew its idf).
                have = [f for f in dfs if term in dfs[f]]
                df_t = max(dfs[f][term] for f in have)
                nd = max(field_conf[f]["n_docs"] for f in have)
            else:
                df_t = dfs[field][term]
                nd = field_conf[field]["n_docs"]
            return _idf(nd, df_t)

        cursor_memo: dict[tuple[str, str], list] = {}

        def cursors_for(field: str, term: str) -> list:
            got = cursor_memo.get((field, term))
            if got is not None:
                return got
            conf = field_conf[field]
            tomb = conf["tomb"]
            idf = idf_for(field, term)
            cur = [
                wand_mod.TermCursor(
                    term=term, avgdl=conf["avgdl"], cache=caches[field],
                    tomb=(tomb.for_seg(r["seg"]) if tomb is not None else None),
                    idf=idf, **r,
                )
                for r in runs[(field, term)]
            ]
            cursor_memo[(field, term)] = cur
            return cur

        out = _Hits()
        for qid, (k, term_fields) in queries.items():
            if xf:
                # term-centric: per term, dismax the per-field scores
                # (blended idf), then SUM terms per doc
                tparts: list[tuple[np.ndarray, np.ndarray]] = []
                for term in sorted(term_fields):
                    per_field = []
                    for field in sorted(term_fields[term]):
                        docs, sc = wand_mod._exhaustive_scores(
                            cursors_for(field, term))
                        if len(docs):
                            per_field.append(
                                (docs, sc * field_conf[field]["boost"]))
                    if not per_field:
                        continue
                    t_docs = (
                        per_field[0][0] if len(per_field) == 1
                        else np.unique(np.concatenate(
                            [d for d, _ in per_field]))
                    )
                    S = np.zeros((len(per_field), len(t_docs)))
                    for i, (docs, sc) in enumerate(per_field):
                        S[i, np.searchsorted(t_docs, docs)] = sc
                    best = S.max(axis=0)
                    tparts.append(
                        (t_docs, best + tie_breaker * (S.sum(axis=0) - best)))
                if not tparts:
                    continue
                all_docs = (
                    tparts[0][0] if len(tparts) == 1
                    else np.unique(np.concatenate([d for d, _ in tparts]))
                )
                combined = np.zeros(len(all_docs), dtype=np.float64)
                for docs, sc in tparts:
                    combined[np.searchsorted(all_docs, docs)] += sc
            else:
                per_field = []
                for field in sorted(
                    {f for fs in term_fields.values() for f in fs}
                ):
                    cursors = [
                        c for term, fs in term_fields.items() if field in fs
                        for c in cursors_for(field, term)
                    ]
                    docs, scores = wand_mod._exhaustive_scores(cursors)
                    if len(docs):
                        per_field.append(
                            (docs, scores * field_conf[field]["boost"])
                        )
                if not per_field:
                    continue
                all_docs = (
                    per_field[0][0] if len(per_field) == 1
                    else np.unique(np.concatenate([d for d, _ in per_field]))
                )
                S = np.zeros((len(per_field), len(all_docs)), dtype=np.float64)
                for i, (docs, scores) in enumerate(per_field):
                    S[i, np.searchsorted(all_docs, docs)] = scores
                if mm_type == "most_fields":
                    combined = S.sum(axis=0)
                else:  # best_fields (dis_max + tie_breaker)
                    best = S.max(axis=0)
                    combined = best + tie_breaker * (S.sum(axis=0) - best)
            out.topk(qid, all_docs, combined, k)
        return out.columns()

    return run


def multi_match_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    fields: list[str] | None = None,
    mm_type: str = "best_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """queries(query_id, query_text, k) -> (query_id, rank, doc_id,
    score) over a fields index. `fields` are "name" or "name^boost"
    specs (default: every indexed field, boost 1). mm_type:
    best_fields (per-FIELD dismax + tie_breaker), most_fields
    (per-field sum), cross_fields (term-centric: per TERM the
    per-field scores dismax under ONE blended idf — df and n_docs
    maxed across the queried fields, the BlendedTermQuery role — then
    terms sum per doc)."""
    if mm_type not in ("best_fields", "most_fields", "cross_fields"):
        raise ValueError(f"unknown multi_match type {mm_type!r}")
    manifest = json.loads(
        layout.read_text(os.path.join(index_dir, "fields.json")))
    mode = manifest.get("tokenizer", "ascii")
    specs = (
        parse_field_specs(fields) if fields
        else [(f, 1.0) for f in manifest["fields"]]
    )
    unknown = [f for f, _ in specs if f not in manifest["fields"]]
    if unknown:
        raise ValueError(
            f"fields {unknown} not in index (has {manifest['fields']})"
        )
    rows = prep.collect_rows(queries, "query_id", "query_text", "k")
    per_term = prep.simple_entries(rows, mode)
    readers = {f: IndexReader(spark, os.path.join(index_dir, "fields", f))
               for f, _ in specs}

    def kernel():
        field_conf = {
            f: {"n_docs": int(readers[f].n_docs),
                "avgdl": float(readers[f].avgdl), "boost": float(boost),
                "tomb": readers[f].tomb}
            for f, boost in specs
        }
        return _mm_kernel(field_conf, mm_type, float(tie_breaker))

    return gather(scatter(readers, per_term, prep.SIMPLE_FIELDS, kernel),
                  rows)
