"""Posting-block cursors and exact BM25 top-k, one shard at a time.

`block_runs` cuts a shard's blocks table (pyarrow) into per-(term,
seg) runs with one Arrow sort, and `TermCursor` (a term's blocks in
one segment) is the one posting decoder of every query kernel: a
block decodes once per kernel call through a memo, with the streams
the scan projected, and its tombstoned docs dropped. The scorers below read cursors directly;
`engine._ShardTerms` serves the bool, phrase, span, filter, explain
and match-set kernels from the same cursors.

Two scorers:

- `blockmax_topk`, the engine's top-k kernel: block-max WAND (Ding &
  Suel 2011, "Faster top-k document retrieval using block-max
  indexes"), the skipping family OpenSearch/Lucene serve BM25 with, run
  term-at-a-time so each step is a numpy operation over whole blocks;
- `_exhaustive_scores`, which scores every posting: the reference the
  tests compare against, and the scorer of collapse, `algo="all"` and
  multi_match. `exhaustive_topk` is the exact cut over it.

Exactness contract:

- a block is skipped only when its *exact* upper bound (per-block
  float64 max partial score x idf, plus the other terms' bounds) is
  below the current threshold -> the returned top-k is identical to
  exhaustive scoring;
- per-document scores accumulate contributions in sorted-term order
  (float addition is non-associative; the oracle sums sorted) so scores
  are bit-equal to the oracle's;
- tie-break: score desc, doc_id asc (`topk_order`).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from data_prepper_spark.index import codec
from data_prepper_spark.index.tombstones import deleted_mask


@dataclass
class TermCursor:
    """One term's posting blocks in one segment (sorted by first_doc):
    the per-block metadata and streams the scan projected, `None` for
    the streams it did not (see `block_runs`)."""

    term: str
    # per block: first_doc, the doc-gap stream, and when projected
    # last_doc, max_partial, tfs, dls and the position stream
    firsts: np.ndarray
    gaps: list[bytes]
    lasts: np.ndarray | None = None
    maxps: np.ndarray | None = None
    tfs: list[bytes] | None = None
    dls: list[bytes] | None = None
    poss: list[bytes | None] | None = None
    idf: float = 0.0
    avgdl: float = 0.0
    seg: int = 0           # segment id (incremental builds); in memo keys
    # optional decode memo {(term, seg, bi): (docs, tfs, dls, pos,
    # {idf: partials})}, one dict per kernel call: every query and every
    # kernel path hitting a block in one call decodes it once
    cache: dict | None = None
    # query-time term boost ("error^2"): scales this term's idf — and
    # therefore every contribution AND every upper bound — uniformly,
    # so all pruning rules stay exact
    boost: float = 1.0
    # optional tombstone ranges (starts, ends) of this cursor's segment:
    # deleted docs are dropped at decode time (Lucene liveDocs semantics
    # — results exclude them immediately; df/avgdl stay full-corpus
    # until compaction). Block bounds (firsts/lasts/maxps) stay
    # conservative upper bounds, so every skip rule remains exact.
    tomb: tuple | None = None

    def __post_init__(self):
        if self.boost != 1.0:
            self.idf = float(self.idf * self.boost)
        self.global_ub = (float(self.idf * self.maxps.max())
                          if self.maxps is not None and len(self.maxps) else 0.0)

    def decode(self, bi: int) -> tuple:
        """Block bi's live postings -> (docs, tfs, dls, pos, partials),
        None for a stream the scan did not project, through the memo:
        one entry per block, whose `partials` ({idf: array}) dict
        `decode_cached` fills in place. Tombstoned docs are removed
        BEFORE memoizing: the memo lives for one kernel call, which sees
        one index state (tombstones, idf, avgdl), so no entry goes
        stale."""
        key = (self.term, self.seg, bi)
        hit = self.cache.get(key) if self.cache is not None else None
        if hit is not None:
            return hit
        base = int(self.firsts[bi])
        if self.tfs is None:
            docs, tf, dl = codec.delta_decode(self.gaps[bi], base), None, None
        else:
            g, tf, dl = codec.varint_decode3(self.gaps[bi], self.tfs[bi], self.dls[bi])
            docs = codec.gaps_to_docs(g, base)
        pos = None
        if self.poss is not None:
            pos = codec.pos_delta_decode(self.poss[bi] or b"", tf)
            if len(pos) != int(tf.sum()):
                raise ValueError(
                    "index has no position stream (built with "
                    "store_positions=False) — match_phrase needs positions"
                )
        if self.tomb is not None:
            keep = ~deleted_mask(docs, self.tomb)
            if pos is not None:
                pos = pos[np.repeat(keep, tf.astype(np.int64))]
            docs = docs[keep]
            if tf is not None:
                tf, dl = tf[keep], dl[keep]
        out = (docs, tf, dl, pos, {})
        if self.cache is not None:
            self.cache[key] = out
        return out

    def decode_cached(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        """Block bi -> (docs, idf-scaled partial scores), through the
        memo entry `decode` made for the block."""
        docs, tf, dl, _, partials = self.decode(bi)
        got = partials.get(self.idf)
        if got is None:
            got = partials[self.idf] = self.idf * codec.bm25_partial(
                tf, dl, self.avgdl)
        return docs, got


# block_runs output name -> blocks column; first_doc and gaps are
# always projected, the others only by some kernels
_RUN_COLS = {
    "firsts": "first_doc", "lasts": "last_doc", "maxps": "max_partial",
    "gaps": "gaps", "tfs": "tfs", "dls": "dls", "poss": "poss",
}
_STREAMS = ("gaps", "tfs", "dls", "poss")  # read as list[bytes]


def block_runs(
    table: pa.Table, by: tuple[str, ...] = ("term",), ub_scale: float = 1.0,
) -> dict[tuple, list[dict]]:
    """One shard's block rows cut into `TermCursor` inputs.

    Rows are sorted once by (*by, seg, block_ord) and cut into runs
    where the (*by, seg) key changes. Returns {key: runs} in key order:
    one dict of TermCursor keyword arguments per segment, in seg order,
    with `maxps` scaled by `ub_scale`. A stream or column the table
    does not carry is None in every run."""
    n = table.num_rows
    if not n:
        return {}
    table = table.sort_by(
        [(c, "ascending") for c in (*by, "seg", "block_ord")])
    seg = table.column("seg").to_numpy()
    keys = [table.column(c).to_numpy(zero_copy_only=False) for c in by]
    change = seg[1:] != seg[:-1]
    for v in keys:
        change |= v[1:] != v[:-1]
    cut = np.flatnonzero(change) + 1
    cols = {name: table.column(c).to_pylist() if name in _STREAMS
            else table.column(c).to_numpy()
            for name, c in _RUN_COLS.items() if c in table.column_names}
    if "maxps" in cols:
        cols["maxps"] = cols["maxps"] * ub_scale
    out: dict[tuple, list[dict]] = {}
    for lo, hi in zip(np.r_[0, cut], np.r_[cut, n]):
        run = dict.fromkeys(_RUN_COLS) | {
            name: v[lo:hi] for name, v in cols.items()}
        run["seg"] = int(seg[lo])
        out.setdefault(tuple(v[lo] for v in keys), []).append(run)
    return out


def _cursor_mask(docs: np.ndarray, scores: np.ndarray, after) -> np.ndarray:
    """search_after predicate: keep docs strictly AFTER the cursor in
    (score desc, doc asc) order — (score < s) or (score == s and doc > d).
    Scores are deterministic float64 (sorted-term accumulation), so the
    equality compare is exact across kernels/pages."""
    a_s, a_d = after
    return (scores < a_s) | ((scores == a_s) & (docs > a_d))


def _segment_max(scores: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max(scores[lo[i]:hi[i]]) per segment; 0.0 for empty."""
    out = np.zeros(len(lo), dtype=np.float64)
    ne = hi > lo
    if not (scores.size and ne.any()):
        return out
    s2 = np.append(scores, -np.inf)  # sentinel so hi == len(scores) is valid
    bounds = np.empty(2 * int(ne.sum()), dtype=np.int64)
    bounds[0::2] = lo[ne]
    bounds[1::2] = hi[ne]
    red = np.maximum.reduceat(s2, bounds)[0::2]
    out[ne] = red
    return out


def _merge_acc(
    docs_a: np.ndarray, sc_a: np.ndarray, docs_b: np.ndarray, sc_b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Merge two (sorted-doc, score) accumulators, summing on collision."""
    docs = np.concatenate([docs_a, docs_b])
    sc = np.concatenate([sc_a, sc_b])
    uniq, inv = np.unique(docs, return_inverse=True)
    out = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(out, inv, sc)
    return uniq, out


def blockmax_topk(
    cursors: list[TermCursor], k: int, after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k via vectorized block-max pruning, term-at-a-time.

    The TAAT analog of block-max WAND (Ding & Suel 2011): DAAT pointer
    movement is pure-Python-hostile, so instead terms are processed
    cheapest-first and whole BLOCKS of expensive terms are dropped when
    an exact upper bound proves no doc inside can reach the current
    threshold. Bound for block b of term t:

        ub(b) = idf_t * maxp_b                 (best contribution in b)
              + sum(global_ub of unprocessed terms != t)
              + max accumulated score of any doc in [first_b, last_b]

    theta = k-th best accumulated score so far — a valid lower bound of
    the true k-th score because partial sums only grow. Skipped docs have
    full score < theta, so they can never surface in the final top-k and
    their (partial) scores never display. Final scores are re-accumulated
    over surviving postings in sorted-term order, so returned scores are
    bit-identical to exhaustive/oracle.
    """
    cursors = [c for c in cursors if len(c.firsts)]
    if not cursors:
        return []
    if after is not None:
        # pagination inverts the pruning direction: phase-1 theta would
        # come from PRE-cursor (page-1) docs and prune exactly the docs
        # a later page needs, so score exhaustively and cursor-filter
        return exhaustive_topk(cursors, k, after)
    if any(c.idf <= 0 for c in cursors):
        # BM25's Lucene idf is always > 0; negative contributions would
        # invalidate every upper bound here, so refuse to prune
        return exhaustive_topk(cursors, k)
    # cheapest first: fewest blocks ~ shortest posting list
    order = sorted(range(len(cursors)), key=lambda i: len(cursors[i].firsts))
    rem_ub = sum(c.global_ub for c in cursors)
    acc_docs = np.empty(0, np.int64)
    acc_sc = np.empty(0, np.float64)
    survivors: list[tuple[TermCursor, np.ndarray]] = []  # (cursor, kept block idx)
    for oi, i in enumerate(order):
        c = cursors[i]
        rem_ub -= c.global_ub  # UB of terms after this one
        nb = len(c.firsts)
        if len(acc_sc) >= k:
            theta = float(np.partition(acc_sc, len(acc_sc) - k)[len(acc_sc) - k])
            lo = np.searchsorted(acc_docs, c.firsts, side="left")
            hi = np.searchsorted(acc_docs, c.lasts, side="right")
            bound = c.idf * c.maxps + rem_ub + _segment_max(acc_sc, lo, hi)
            # conservative float margin keeps the prune exact
            keep = np.flatnonzero(bound * (1.0 + 1e-9) + 1e-12 >= theta)
        else:
            keep = np.arange(nb)
        if len(keep) == 0:
            continue
        survivors.append((c, keep))
        if oi == len(order) - 1:
            break  # last term: acc no longer needed
        # decode kept blocks (cache-shared with other queries) and fold in
        decoded = [c.decode_cached(int(bi)) for bi in keep]
        acc_docs, acc_sc = _merge_acc(
            acc_docs, acc_sc,
            np.concatenate([d for d, _ in decoded]),
            np.concatenate([p for _, p in decoded]),
        )
    # phase 2: exact re-score of surviving postings in sorted-term order
    survivors.sort(key=lambda t: t[0].term)
    uniq, scores = _score_blocks(survivors)
    return [(int(uniq[i]), float(scores[i])) for i in topk_order(uniq, scores, k)]


# perfbench's kernel probe (`perfbench/layers.py::probe_kernels`) times
# the kernel under this name; `algo="wand"` selects the same kernel.
wand_topk = blockmax_topk


def _score_blocks(blocks) -> tuple[np.ndarray, np.ndarray]:
    """Sum the decoded contributions of (cursor, block indices) pairs
    per doc -> (doc_ids, scores), accumulating in the order given
    (pairs sorted by term: the float identity contract)."""
    doc_arrs, con_arrs = [], []
    for c, bis in blocks:
        for bi in bis:
            docs, contribs = c.decode_cached(int(bi))
            doc_arrs.append(docs)
            con_arrs.append(contribs)
    if not doc_arrs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    uniq, inv = np.unique(np.concatenate(doc_arrs), return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(scores, inv, np.concatenate(con_arrs))  # in-order accumulation
    return uniq, scores


def _exhaustive_scores(cursors: list[TermCursor]):
    """Exact BM25 score of every matching doc: (doc_ids, scores) numpy
    pair, sorted-term accumulation order (float identity contract).
    Shared by exhaustive_topk and collapse_exhaustive_topk."""
    cursors = sorted(cursors, key=lambda c: c.term)
    return _score_blocks((c, range(len(c.firsts))) for c in cursors)


def topk_order(docs: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top k of (docs, scores) in rank order (score desc,
    doc_id asc). Exact at the boundary: every doc tied with the kth
    score survives the partition, so the doc_id sort breaks boundary
    ties the way the global merge does."""
    if len(scores) <= k:
        return np.lexsort((docs, -scores))
    kth = np.partition(scores, len(scores) - k)[len(scores) - k]
    cand = np.flatnonzero(scores >= kth)
    return cand[np.lexsort((docs[cand], -scores[cand]))][:k]


def exhaustive_topk(
    cursors: list[TermCursor], k: int, after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k by scoring every posting (`_exhaustive_scores`, then
    the `topk_order` cut), after the search_after filter when paging."""
    uniq, scores = _exhaustive_scores(cursors)
    if after is not None:
        keep_m = _cursor_mask(uniq, scores, after)
        uniq, scores = uniq[keep_m], scores[keep_m]
    return [(int(uniq[i]), float(scores[i])) for i in topk_order(uniq, scores, k)]


def collapse_exhaustive_topk(
    cursors: list[TermCursor],
    k: int,
    stride: int,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Field collapsing (OpenSearch `collapse`, the one-hit-per-group
    query every reference consumer uses for "best turn per
    conversation"): exact scores for every matching doc, then keep ONE
    representative per group (group = doc_id // stride — the conv
    serial under both id schemes) — the (score desc, doc_id asc) best —
    and return the top-k groups.

    Emitting a shard's top-k GROUPS (not docs) keeps the cross-shard
    merge exact: a group's global best is the max of its per-shard
    bests, and if a group's shard-best is beaten by k other groups in
    that shard, those k groups beat it globally too."""
    uniq, scores = _exhaustive_scores(cursors)
    if len(uniq) == 0:
        return []
    if after is not None:
        keep_m = _cursor_mask(uniq, scores, after)
        uniq, scores = uniq[keep_m], scores[keep_m]
        if len(uniq) == 0:
            return []
    order = np.lexsort((uniq, -scores))  # rank order: score desc, doc asc
    du, su = uniq[order], scores[order]
    groups = du // stride
    # first occurrence of each group in rank order == its best doc
    _, first_idx = np.unique(groups, return_index=True)
    first_idx.sort()  # back to rank order across groups
    sel = first_idx[:k]
    return [(int(du[i]), float(su[i])) for i in sel]
