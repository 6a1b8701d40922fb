"""span_near queries: ordered / unordered proximity over the position
stream (Lucene SpanNearQuery — the reference serves these through
OpenSearch's `span_near` over docs its sink ships,
OpenSearchSink.java:132-141).

Semantics (documented, oracle-pinned by tests/test_span.py):
a doc matches when one occurrence of EACH clause term can be chosen
such that the covering window satisfies `width - n_terms <= slop`
(Lucene's matchWidth contract for single-term clauses), with

- in_order=True: the chosen positions must be strictly increasing in
  clause order;
- in_order=False: any arrangement (the minimal covering window over
  all terms decides).

Divergence from Lucene, documented: duplicate clause terms are
deduplicated (a query 'a b a' is served as clauses [a, b]); Lucene
would demand two distinct occurrences of `a`.

Scoring: BM25 over the distinct clause terms (the same
scoring_boolean-style policy as match_phrase here — Lucene's
SpanWeight sloppy-freq scoring is rank-similar but not equal; the
tests pin OUR contract).

Plan shape = phrase_topk's: clause-term In-filter pushed into the
blocks scan (positions column read only here), candidates intersected
RAREST-df-first with block-range pruning, per-shard exact top-k, one
kernel exchange. The window check itself is a per-candidate-doc
two-pointer / greedy-chain over that doc's few occurrences — candidate
docs already contain ALL clause terms, so this loop is tiny relative
to decode.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from data_prepper_spark.index.reader import POS_COLS, IndexReader
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.query import prep
from data_prepper_spark.query.engine import _Hits, _ShardTerms, gather, scatter

__all__ = ["span_near_topk"]

SPAN_FIELDS = (
    "query_id:string,k:bigint,n_terms:int,slop:int,in_order:boolean,"
    "ord:int"
)


def _span_entries(rows, mode):
    per_term: dict[str, list[tuple]] = {}
    for r in rows:
        toks = list(dict.fromkeys(tokenize(r.get("query_text") or "",
                                           mode=mode)))
        if not toks:
            continue
        qid, k = r["query_id"], int(r["k"])
        slop = int(r.get("slop") or 0)
        in_order = bool(r.get("in_order"))
        for i, t in enumerate(toks):
            per_term.setdefault(t, []).append(
                (qid, k, len(toks), slop, in_order, i)
            )
    return per_term


def _min_window_unordered(seqs: list[np.ndarray]) -> int:
    """Smallest window [lo, hi] containing >=1 position from every
    sequence -> its width hi-lo+1 (classic smallest-range two-pointer
    over the label-merged position stream)."""
    n = len(seqs)
    pos = np.concatenate(seqs)
    labels = np.concatenate(
        [np.full(len(s), i, dtype=np.int64) for i, s in enumerate(seqs)]
    )
    order = np.argsort(pos, kind="stable")
    pos, labels = pos[order], labels[order]
    counts = np.zeros(n, dtype=np.int64)
    have, lo, best = 0, 0, np.iinfo(np.int64).max
    for hi in range(len(pos)):
        c = labels[hi]
        counts[c] += 1
        if counts[c] == 1:
            have += 1
        while have == n:
            best = min(best, int(pos[hi] - pos[lo] + 1))
            cl = labels[lo]
            counts[cl] -= 1
            if counts[cl] == 0:
                have -= 1
            lo += 1
    return best


def _min_window_ordered(seqs: list[np.ndarray]) -> int:
    """Smallest width of strictly-increasing positions p1<p2<...<pn,
    one from each sequence IN CLAUSE ORDER (greedy next-smallest chain
    from every start is minimal for that start)."""
    best = np.iinfo(np.int64).max
    for p in seqs[0]:
        cur = int(p)
        ok = True
        for s in seqs[1:]:
            j = int(np.searchsorted(s, cur, side="right"))
            if j == len(s):
                ok = False
                break
            cur = int(s[j])
        if ok:
            best = min(best, cur - int(p) + 1)
    return best


def _span_kernel(avgdl: float, n_docs: int, tomb=None):
    def run(table, entries: dict, dfs: dict) -> dict:
        shard = _ShardTerms(table, entries, dfs, n_docs, tomb)
        queries: dict[str, dict] = {}
        for term, qs in shard.entries.items():
            for q in qs:
                ent = queries.setdefault(
                    q["query_id"],
                    {"k": int(q["k"]), "n_terms": int(q["n_terms"]),
                     "slop": int(q["slop"]),
                     "in_order": bool(q["in_order"]), "clauses": []},
                )
                ent["clauses"].append((int(q["ord"]), term))

        out = _Hits()
        for qid, ent in queries.items():
            if len(ent["clauses"]) < ent["n_terms"]:
                continue  # some clause term absent from this shard
            terms_in_order = [t for _, t in sorted(ent["clauses"])]
            # candidate docs contain ALL clause terms (phrase plan)
            decoded: dict[str, dict] = {}
            cand = shard.conjunction(terms_in_order, decoded)
            if not len(cand):
                continue
            width_cap = ent["slop"] + ent["n_terms"]
            fn = (_min_window_ordered if ent["in_order"]
                  else _min_window_unordered)
            matched = []
            for doc in cand:
                seqs = []
                for t in terms_in_order:
                    d = decoded[t]
                    pi = int(np.searchsorted(d["docs"], doc))
                    seqs.append(d["pos"][d["occ"][pi]:d["occ"][pi + 1]])
                if fn(seqs) <= width_cap:
                    matched.append(doc)
            matched = np.asarray(matched, dtype=np.int64)
            out.topk(qid, matched,
                     shard.bm25(matched, terms_in_order, decoded, avgdl),
                     ent["k"])
        return out.columns()

    return run


def span_near_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
) -> DataFrame:
    """queries(query_id, query_text, slop, in_order, k) ->
    (query_id, rank, doc_id, score). See module docstring."""
    r = IndexReader(spark, index_dir)
    r.require_positions("serve span_near")
    rows = prep.collect_rows(queries)
    return gather(scatter(
        r, _span_entries(rows, r.mode), SPAN_FIELDS,
        lambda: _span_kernel(r.avgdl, r.n_docs, r.tomb), cols=POS_COLS,
    ), rows)
