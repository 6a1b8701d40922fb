"""Block-max WAND top-k kernel over compressed posting blocks.

Pure-Python/numpy implementation of the classic WAND pointer-movement
algorithm (Broder et al. 2003) with block-max refinement (Ding & Suel
2011, "Faster top-k document retrieval using block-max indexes") — the
same family of skipping OpenSearch/Lucene uses to serve the reference's
BM25 queries. Exactness contract:

- skips happen only when the *exact* upper bound (sum of per-block
  float64 max partial scores x idf) is strictly below the current
  threshold, and never while the heap is not full -> the returned top-k
  is identical to exhaustive scoring;
- per-document scores accumulate contributions in sorted-term order
  (float addition is non-associative; the oracle sums sorted) so scores
  are bit-equal to the oracle's;
- tie-break: score desc, doc_id asc, via a min-heap keyed (score, -doc).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np

from data_prepper_spark.index import codec


@dataclass
class TermCursor:
    """Iterates one term's posting blocks (sorted by first_doc) lazily."""

    term: str
    idf: float
    avgdl: float
    # per block: first_doc, last_doc, max_partial, gaps, tfs, dls
    firsts: np.ndarray
    lasts: np.ndarray
    maxps: np.ndarray
    gaps: list[bytes]
    tfs: list[bytes]
    dls: list[bytes]
    seg: int = 0           # segment id (incremental builds); in cache keys
    bi: int = 0            # current block index
    pi: int = 0            # position within decoded block
    docs: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    partials: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    # optional decode memo {(term, seg, bi[, boost]): (docs, partials)},
    # one dict per kernel call — lets many queries hitting the same term
    # in one shard decode each block once
    cache: dict | None = None
    # query-time term boost ("error^2"): scales this term's idf — and
    # therefore every contribution AND every upper bound — uniformly,
    # so all pruning rules stay exact. boost != 1 enters the decode
    # cache key (cached partials are idf-scaled).
    boost: float = 1.0
    # optional tombstone ranges (starts, ends): deleted docs are dropped
    # at decode time (Lucene liveDocs semantics — results exclude them
    # immediately; df/avgdl stay full-corpus until compaction). Block
    # bounds (firsts/lasts/maxps) stay conservative upper bounds, so
    # every skip rule remains exact.
    tomb: tuple | None = None

    def __post_init__(self):
        if self.boost != 1.0:
            self.idf = float(self.idf * self.boost)
        self.global_ub = float(self.idf * self.maxps.max()) if len(self.maxps) else 0.0
        # LAZY construction: position at block 0 with pending target 0;
        # nothing decodes until a positional access (doc/score) or
        # ensure_positioned(). Block-jump skips (next_geq past the
        # current block) also stay lazy — a skipped window's blocks are
        # never decoded (41% of wand windows skip on the bench corpus,
        # and block-max TAAT prunes block 0 outright for most terms).
        self._pend: int | None = 0 if len(self.firsts) else None

    def decode_cached(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        """Decode block bi -> (docs, idf-scaled partial scores), via the
        per-call memo when present. Tombstoned docs are removed BEFORE
        memoizing: the memo lives for one kernel call, which sees one
        index state (tombstones, idf, avgdl), so no entry goes stale."""
        key = (
            (self.term, self.seg, bi) if self.boost == 1.0
            else (self.term, self.seg, bi, self.boost)
        )
        hit = self.cache.get(key) if self.cache is not None else None
        if hit is not None:
            return hit
        g, tf, dl = codec.varint_decode3(self.gaps[bi], self.tfs[bi], self.dls[bi])
        docs = codec.gaps_to_docs(g, base=int(self.firsts[bi]))
        if self.tomb is not None:
            from data_prepper_spark.index.tombstones import deleted_mask

            keep = ~deleted_mask(docs, self.tomb)
            docs, tf, dl = docs[keep], tf[keep], dl[keep]
        partials = self.idf * codec.bm25_partial(tf, dl, self.avgdl)
        if self.cache is not None:
            self.cache[key] = (docs, partials)
        return docs, partials

    def _decode_block(self, bi: int):
        # a block may decode EMPTY when every posting in it is
        # tombstoned — advance until a live block or the end (otherwise
        # `exhausted` would fire mid-stream)
        while bi < len(self.firsts):
            self.bi = bi
            self.docs, self.partials = self.decode_cached(bi)
            self.pi = 0
            if len(self.docs):
                return
            bi += 1
        self.bi = len(self.firsts)
        self.docs = np.empty(0, np.int64)

    @property
    def exhausted(self) -> bool:
        if self.bi >= len(self.firsts):
            return True
        if self._pend is not None:
            return False  # lazy: at worst materializes empty later
        return len(self.docs) == 0

    def ensure_positioned(self) -> None:
        """Materialize a lazy cursor: decode the pending block and place
        pi at the first doc >= the pending target. May advance past
        tombstone-empty blocks (targets never reach into a LATER block:
        pending <= lasts[bi] < firsts[bi+1])."""
        if self._pend is None:
            return
        t = self._pend
        self._pend = None
        self._decode_block(self.bi)
        if not self.exhausted:
            self.pi = int(np.searchsorted(self.docs, t, side="left"))
            if self.pi >= len(self.docs):
                self._decode_block(self.bi + 1)

    def doc_lb(self) -> int:
        """Exact lower bound of the next doc WITHOUT decoding (equals
        .doc when already decoded). Used by window/active tests; a
        phantom bound (e.g. tombstoned first_doc) only makes the active
        set conservatively larger, never smaller."""
        if self.exhausted:
            return 1 << 62
        if self._pend is not None:
            return max(int(self.firsts[self.bi]), self._pend)
        return int(self.docs[self.pi])

    @property
    def doc(self) -> int:
        self.ensure_positioned()
        return int(self.docs[self.pi]) if not self.exhausted else 1 << 62

    @property
    def score(self) -> float:
        self.ensure_positioned()
        return float(self.partials[self.pi])

    @property
    def block_ub(self) -> float:
        """Exact upper bound of any contribution in the current block.
        Metadata-only — valid on lazy (undecoded) cursors."""
        return float(self.idf * self.maxps[self.bi]) if not self.exhausted else 0.0

    @property
    def block_last(self) -> int:
        return int(self.lasts[self.bi]) if not self.exhausted else 1 << 62

    def next_geq(self, target: int):
        """Advance to the first posting with doc >= target. Block jumps
        are LAZY (metadata-only): the landing block is not decoded until
        a positional access needs it — so a window skipped by the UB
        rule never pays decode for the blocks it jumps over or onto."""
        if self.exhausted:
            return
        if self._pend is not None:
            t = max(self._pend, target)
            if t > int(self.lasts[self.bi]):
                nb = int(np.searchsorted(self.lasts, t, side="left"))
                if nb >= len(self.firsts):
                    self.bi = len(self.firsts)
                    self._pend = None
                    self.docs = np.empty(0, np.int64)
                    return
                self.bi = nb
            self._pend = t
            return
        if target > int(self.lasts[self.bi]):
            nb = int(np.searchsorted(self.lasts, target, side="left"))
            if nb >= len(self.firsts):
                self.bi = len(self.firsts)
                self.docs = np.empty(0, np.int64)
                return
            self.bi = nb
            self._pend = target  # lazy landing
            return
        self.pi = int(np.searchsorted(self.docs, target, side="left"))
        if self.pi >= len(self.docs):  # target fell in a gap past block end
            if self.bi + 1 >= len(self.firsts):
                self.bi = len(self.firsts)
                self.docs = np.empty(0, np.int64)
                return
            self.bi += 1
            self._pend = target  # lazy landing (target < firsts[bi+1])
            return

    def advance(self):
        self.ensure_positioned()
        self.pi += 1
        if self.pi >= len(self.docs):
            self._decode_block(self.bi + 1)



def _cursor_mask(docs: np.ndarray, scores: np.ndarray, after) -> np.ndarray:
    """search_after predicate: keep docs strictly AFTER the cursor in
    (score desc, doc asc) order — (score < s) or (score == s and doc > d).
    Scores are deterministic float64 (sorted-term accumulation), so the
    equality compare is exact across kernels/pages."""
    a_s, a_d = after
    return (scores < a_s) | ((scores == a_s) & (docs > a_d))


def wand_topk(
    cursors: list[TermCursor], k: int, after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k via WINDOW-BATCHED block-max DAAT.

    Classic WAND moves one posting pointer per iteration — a per-posting
    Python loop that benched 2.5x slower than the TAAT kernel (VERDICT
    r1). This kernel keeps WAND's document-at-a-time block-max skipping
    but processes a whole WINDOW per iteration: the doc range up to the
    minimum current block_last across live cursors.

    Exactness argument:
    - every posting with doc <= window_end lies in its cursor's CURRENT
      block (window_end is the min block_last, and consumed positions
      are < window start), so window scores are complete;
    - windows advance monotonically (all active cursors move past
      window_end), so each doc is scored exactly once;
    - skip rule: if sum of ACTIVE cursors' exact block UBs < theta (the
      k-th best score so far) with the heap full, no window doc can
      qualify — identical bound to classic block-max WAND at block
      granularity, strict `<` so boundary ties are always evaluated;
    - contributions accumulate in sorted-term order (cursor list is
      term-sorted; a doc's contributors are a subsequence), so scores
      are bit-identical to exhaustive/oracle.

    Each iteration consumes at least one block of one cursor, so the
    Python-level iteration count is O(total blocks), with all per-doc
    work vectorized. `wand_topk_classic` below retains the textbook
    per-posting pivot loop as a cross-check oracle (rank-identity is
    asserted between the two in tests)."""
    cursors = sorted(
        (c for c in cursors if not c.exhausted), key=lambda c: c.term
    )
    if not cursors:
        return []
    if any(c.idf <= 0 for c in cursors):
        return exhaustive_topk(cursors, k)
    top_docs = np.empty(0, np.int64)
    top_scores = np.empty(0, np.float64)
    theta = None  # k-th best score once the candidate set is full
    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        window_end = min(c.block_last for c in live)
        active = [c for c in live if c.doc_lb() <= window_end]
        if not active:
            # every live cursor's next doc is past its own block_last —
            # impossible by cursor invariants, but advance defensively
            for c in live:
                c.next_geq(window_end + 1)
            continue
        if theta is not None and sum(c.block_ub for c in active) < theta:
            for c in active:
                c.next_geq(window_end + 1)
            continue
        doc_arrs, con_arrs = [], []
        for c in active:  # term-sorted: accumulation order is sorted
            c.ensure_positioned()  # decode ONLY for scored windows
            if c.exhausted:
                continue
            j = int(np.searchsorted(c.docs, window_end, side="right"))
            doc_arrs.append(c.docs[c.pi:j])
            con_arrs.append(c.partials[c.pi:j])
        docs_all = np.concatenate(doc_arrs) if doc_arrs else np.empty(0, np.int64)
        if len(docs_all):
            uniq, inv = np.unique(docs_all, return_inverse=True)
            scores = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(scores, inv, np.concatenate(con_arrs))
            if after is not None:
                # search_after: only docs past the cursor may enter the
                # top set, so theta becomes the kth best PASSING score —
                # the skip rule stays exact (a skipped doc's full score
                # is < theta, hence outside the passing top-k too)
                keep_m = _cursor_mask(uniq, scores, after)
                uniq, scores = uniq[keep_m], scores[keep_m]
            # merge window winners into the running top-k (vectorized)
            m_docs = np.concatenate([top_docs, uniq])
            m_scores = np.concatenate([top_scores, scores])
            if len(m_docs) > k:
                kth = np.partition(m_scores, len(m_scores) - k)[len(m_scores) - k]
                cand = np.flatnonzero(m_scores >= kth)
                cand = cand[np.lexsort((m_docs[cand], -m_scores[cand]))][:k]
                top_docs, top_scores = m_docs[cand], m_scores[cand]
            else:
                top_docs, top_scores = m_docs, m_scores
            if len(top_docs) >= k:
                theta = float(top_scores.min())
        for c in active:
            c.next_geq(window_end + 1)
    order = np.lexsort((top_docs, -top_scores))[:k]
    return [(int(top_docs[i]), float(top_scores[i])) for i in order]


def wand_topk_classic(cursors: list[TermCursor], k: int) -> list[tuple[int, float]]:
    """Textbook per-posting block-max WAND (Broder 2003 + Ding & Suel
    2011) — retained as a cross-check oracle for wand_topk; exact top-k
    [(doc_id, score)] by (score desc, doc asc)."""
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of current top-k

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else -1.0

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.doc)
        # pivot: smallest prefix whose term-level UBs could beat theta
        acc, pivot = 0.0, -1
        th = theta()
        for i, c in enumerate(live):
            acc += c.global_ub
            if acc >= th:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = live[pivot].doc
        if pivot_doc >= (1 << 62):
            break
        if live[0].doc == pivot_doc:
            # block-max check: exact per-block UB for cursors at pivot_doc
            bub = sum(c.block_ub for c in live if c.doc == pivot_doc)
            if len(heap) >= k and bub < theta():
                # No doc whose only contributions come from the pivot
                # cursors' current blocks can qualify. Jump past the
                # tightest block boundary — but never past the next
                # cursor's doc: docs at/after it gain contributions from
                # cursors beyond the pivot, so their upper bound is NOT
                # `bub` and they must still be evaluated.
                nxt = min(c.block_last for c in live if c.doc == pivot_doc) + 1
                beyond = [c.doc for c in live if c.doc > pivot_doc]
                if beyond:
                    nxt = min(nxt, min(beyond))
                for c in live:
                    if c.doc == pivot_doc:
                        c.next_geq(nxt)
                continue
            # full evaluation, summing in SORTED TERM ORDER
            parts = sorted(
                (c.term, c.score) for c in live if c.doc == pivot_doc
            )
            s = 0.0
            for _, p in parts:
                s += p
            cand = (s, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, cand)
            elif cand > heap[0]:
                heapq.heapreplace(heap, cand)
            for c in live:
                if c.doc == pivot_doc:
                    c.advance()
        else:
            # advance the cursor with the largest "gap potential":
            # any cursor before pivot moves to pivot_doc
            live[0].next_geq(pivot_doc)

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


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
    bit-identical to wand/exhaustive/oracle.
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
    doc_arrs, con_arrs = [], []
    for c, keep in survivors:
        for bi in map(int, keep):
            docs, partials = c.decode_cached(bi)
            doc_arrs.append(docs)
            con_arrs.append(partials)
    if not doc_arrs:
        return []
    docs_all = np.concatenate(doc_arrs)
    contribs = np.concatenate(con_arrs)
    uniq, inv = np.unique(docs_all, return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(scores, inv, contribs)
    if len(uniq) <= k:
        sel = np.lexsort((uniq, -scores))[:k]
    else:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth)
        cand = cand[np.lexsort((uniq[cand], -scores[cand]))]
        sel = cand[:k]
    return [(int(uniq[i]), float(scores[i])) for i in sel]


def _exhaustive_scores(cursors: list[TermCursor]):
    """Exact BM25 score of every matching doc: (doc_ids, scores) numpy
    pair, sorted-term accumulation order (float identity contract).
    Shared by exhaustive_topk and collapse_exhaustive_topk."""
    cursors = sorted(cursors, key=lambda c: c.term)
    doc_arrs, con_arrs = [], []
    for c in cursors:
        for bi in range(len(c.firsts)):
            docs, contribs = c.decode_cached(bi)
            doc_arrs.append(docs)
            con_arrs.append(contribs)
    if not doc_arrs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs_all = np.concatenate(doc_arrs)
    contribs = np.concatenate(con_arrs)
    uniq, inv = np.unique(docs_all, return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(scores, inv, contribs)  # in-order accumulation (term-sorted)
    return uniq, scores


def exhaustive_topk(
    cursors: list[TermCursor], k: int, after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Vectorized exact scoring of every posting (the fast path in this
    Python sandbox; WAND wins when posting lists dwarf the candidate set
    and the kernel is native). Sorted-term accumulation order."""
    uniq, scores = _exhaustive_scores(cursors)
    if len(uniq) == 0:
        return []
    if after is not None:
        keep_m = _cursor_mask(uniq, scores, after)
        uniq, scores = uniq[keep_m], scores[keep_m]
    if len(uniq) <= k:
        order = np.lexsort((uniq, -scores))[:k]
    else:
        # exact boundary handling: keep EVERY doc scoring >= the kth
        # score (ties at the boundary are broken by doc_id, so none may
        # be dropped before the sort)
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth)
        cand = cand[np.lexsort((uniq[cand], -scores[cand]))]
        order = cand[:k]
    return [(int(uniq[i]), float(scores[i])) for i in order]


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
