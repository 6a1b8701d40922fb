"""Kernel-level fuzz: blockmax_topk (pruned TAAT) must equal
exhaustive_topk exactly — doc ids AND bit-identical scores — under
adversarial skew (hot terms, tied scores, tiny k forcing deep pruning).
"""

from __future__ import annotations

import numpy as np
import pytest

from data_prepper_spark.index import codec
from data_prepper_spark.query import wand as W

AVGDL = 20.0


def _make_cursor(rng, term: str, n_docs_universe: int, density: float,
                 block_size: int = 16, idf: float | None = None) -> W.TermCursor:
    n = max(1, int(n_docs_universe * density))
    docs = np.sort(rng.choice(n_docs_universe, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=n).astype(np.uint64)
    dls = rng.integers(5, 60, size=n).astype(np.uint64)
    starts = np.arange(0, n, block_size)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    np.subtract(docs[1:], docs[:-1], out=gaps[1:], casting="unsafe")
    gaps[starts] = 0
    if idf is None:
        # Lucene-style: N >= df so idf is always > 0 (the kernels rely on
        # non-negative contributions for their upper bounds)
        idf = float(np.log(1 + (n_docs_universe - n + 0.5) / (n + 0.5)))
    partial = idf * codec.bm25_partial(
        tfs.astype(np.int64), dls.astype(np.int64), AVGDL
    )
    ends = np.append(starts[1:], n)
    return W.TermCursor(
        term=term,
        idf=idf,
        avgdl=AVGDL,
        firsts=docs[starts],
        lasts=docs[ends - 1],
        maxps=np.array([
            (partial[s:e] / idf).max() for s, e in zip(starts, ends)
        ]),
        gaps=[codec.varint_encode(gaps[s:e]) for s, e in zip(starts, ends)],
        tfs=[codec.varint_encode(tfs[s:e]) for s, e in zip(starts, ends)],
        dls=[codec.varint_encode(dls[s:e]) for s, e in zip(starts, ends)],
        cache={},
    )


@pytest.mark.parametrize("seed", range(25))
@pytest.mark.parametrize("k", [1, 3, 10])
def test_bmx_equals_exhaustive(seed, k):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 6))
    universe = int(rng.integers(50, 2000))
    cursors = [
        _make_cursor(
            rng, f"t{j:02d}", universe,
            density=float(rng.uniform(0.01, 0.9)),
            block_size=int(rng.integers(4, 64)),
        )
        for j in range(n_terms)
    ]
    import copy

    got = W.blockmax_topk(copy.deepcopy(cursors), k)
    exp = W.exhaustive_topk(copy.deepcopy(cursors), k)
    assert [d for d, _ in got] == [d for d, _ in exp], (seed, k)
    for (_, sg), (_, se) in zip(got, exp):
        assert sg == se  # bit-identical: same sorted-term accumulation


def test_bmx_prunes_blocks_under_tight_threshold():
    """A rare high-idf term sets theta high; the hot low-idf term's
    blocks must actually get pruned (sanity that the fast path engages)."""
    import copy

    rng = np.random.default_rng(7)
    rare = _make_cursor(rng, "aa_rare", 5000, density=0.002, idf=8.0)
    hot = _make_cursor(rng, "zz_hot", 5000, density=0.8, idf=0.05, block_size=16)
    cursors = [rare, hot]
    got = W.blockmax_topk(copy.deepcopy(cursors), 3)
    exp = W.exhaustive_topk(copy.deepcopy(cursors), 3)
    assert [d for d, _ in got] == [d for d, _ in exp]


@pytest.mark.parametrize("seed", range(30))
@pytest.mark.parametrize("k", [1, 5, 100])
def test_wand_equals_exhaustive(seed, k):
    """The kernel behind algo="wand" (block-max, `blockmax_topk`) on a
    second fuzz family (up to 7 terms, k up to 100): identical doc ids
    and bit-identical scores vs exhaustive under random skew."""
    import copy

    rng = np.random.default_rng(1000 + seed)
    n_terms = int(rng.integers(1, 8))
    universe = int(rng.integers(20, 3000))
    cursors = [
        _make_cursor(
            rng, f"t{j:02d}", universe,
            density=float(rng.uniform(0.01, 0.9)),
            block_size=int(rng.integers(4, 64)),
        )
        for j in range(n_terms)
    ]
    got = W.blockmax_topk(copy.deepcopy(cursors), k)
    exp = W.exhaustive_topk(copy.deepcopy(cursors), k)
    assert [d for d, _ in got] == [d for d, _ in exp], (seed, k)
    for (_, sg), (_, se) in zip(got, exp):
        assert sg == se


def test_wand_window_prunes():
    """Block-max pruning must actually engage under a tight threshold:
    a rare high-idf term sets theta, and most of the hot low-idf term's
    blocks are never decoded (counted through the decode memo)."""
    def mk(cache):
        rng = np.random.default_rng(11)
        rare = _make_cursor(rng, "aa_rare", 5000, density=0.002, idf=8.0)
        hot = _make_cursor(rng, "zz_hot", 5000, density=0.8, idf=0.05, block_size=16)
        rare.cache = hot.cache = cache
        return [rare, hot]

    cache: dict = {}
    cursors = mk(cache)
    n_hot_blocks = len(cursors[1].firsts)
    got = W.blockmax_topk(cursors, 3)
    exp = W.exhaustive_topk(mk(None), 3)
    assert got == exp
    # pruning evidence: far fewer hot-term blocks decoded than exist
    hot_blocks_decoded = sum(1 for kk in cache if kk[0] == "zz_hot")
    assert hot_blocks_decoded < n_hot_blocks


def test_block_runs_match_grouped_rows():
    """`block_runs` (one Arrow sort, runs cut at key changes) yields,
    per (field, term) key in key order, one run per seg in seg order
    with its blocks in block_ord order: the nested groupby +
    sort_values construction it replaces, on shuffled rows. It carries
    the streams the table holds — the scoring projection, the
    gaps-only counting projection, and one with positions — and None
    for the others."""
    import pandas as pd
    import pyarrow as pa

    rng = np.random.default_rng(3)
    rows = [
        {"field": f, "term": t, "seg": s, "block_ord": b,
         "first_doc": 1000 * s + 10 * b, "last_doc": 1000 * s + 10 * b + 9,
         "max_partial": float(rng.uniform(0.1, 2.0)),
         "gaps": bytes([b]), "tfs": bytes([s]), "dls": t.encode(),
         "poss": bytes([b, s])}
        for f in ("text", "tool") for t in ("b", "a", "c")
        for s in range(int(rng.integers(1, 4)))
        for b in range(int(rng.integers(1, 5)))
    ]
    full = pd.DataFrame(rows).sample(frac=1.0, random_state=1).reset_index(drop=True)
    keys = ["field", "term", "seg", "block_ord", "first_doc"]
    for pdf in (
        full.drop(columns="poss"),
        full[keys + ["gaps"]],
        full.drop(columns="max_partial"),
    ):
        runs = W.block_runs(pa.Table.from_pandas(pdf, preserve_index=False),
                            by=("field", "term"), ub_scale=2.0)
        grouped = pdf.groupby(["field", "term"], sort=True)
        assert list(runs) == list(grouped.groups)
        for (f, t), tg in grouped:
            got = runs[(f, t)]
            want = [g.sort_values("block_ord")
                    for _, g in tg.groupby("seg", sort=True)]
            assert [r["seg"] for r in got] == [int(g["seg"].iloc[0]) for g in want]
            for r, g in zip(got, want):
                for name, col in W._RUN_COLS.items():
                    if col not in pdf:
                        assert r[name] is None, name
                    elif col == "max_partial":
                        assert r[name].tolist() == (g[col] * 2.0).tolist()
                    else:
                        assert list(r[name]) == list(g[col]), name
    assert W.block_runs(
        pa.Table.from_pandas(full.iloc[:0], preserve_index=False)) == {}


def test_one_memo_insert_per_block():
    """Within one kernel call, a block that `_ShardTerms.runs` and a
    scoring cursor's `decode_cached` both read is decoded and inserted
    into the memo once, and both see the same postings."""
    import dataclasses

    import pyarrow as pa

    from data_prepper_spark.query.engine import _ShardTerms

    ref = _make_cursor(np.random.default_rng(5), "t", 600, density=0.3)
    n = len(ref.firsts)
    table = pa.table({
        "term": ["t"] * n, "seg": [0] * n, "block_ord": np.arange(n),
        "first_doc": ref.firsts, "last_doc": ref.lasts,
        "max_partial": ref.maxps, "gaps": ref.gaps, "tfs": ref.tfs,
        "dls": ref.dls,
    })
    shard = _ShardTerms(table, {"t": []}, {"t": 180}, n_docs=600)
    run = shard.runs("t")
    assert len(shard.memo) == n
    (cursor,) = shard.cursors["t"]
    scorer = dataclasses.replace(cursor, idf=ref.idf, avgdl=AVGDL)
    assert scorer.cache is shard.memo
    got = [scorer.decode_cached(bi) for bi in range(n)]
    assert len(shard.memo) == n
    want = [ref.decode_cached(bi) for bi in range(n)]
    assert np.array_equal(np.concatenate([d for d, _ in got]), run["docs"])
    for (gd, gp), (wd, wp) in zip(got, want):
        assert np.array_equal(gd, wd) and np.array_equal(gp, wp)
