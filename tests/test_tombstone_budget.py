"""Enforced tombstone range budget (compact-after-N policy).

Every query kernel ships the tombstone range arrays in its task
closure, so the set size is a per-task memory cost. Round-4 verdict
item: the 100k-range WARNING must become an enforced policy. These
tests pin the contract:

1. a 1M-point-delete burst never leaves >COMPACT_THRESHOLD_RANGES in
   the store a kernel closure would load — the writer coalesces, then
   auto-runs compact_index, which consumes the set;
2. post-auto-compaction queries are rank-identical to a fresh build
   over the reduced corpus (delete semantics survive the forced merge);
3. auto_compact=False refuses (TombstoneOverflowError) instead of
   silently blowing the budget;
4. _minimize produces the minimal equivalent set (adjacent runs merge,
   ranges subsumed by wider-scoped coverage drop) and coalescing alone
   satisfies the budget when the delete pattern is range-friendly.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from data_prepper_spark import cli
from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import tombstones as tomb
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE as STRIDE

N_CONVS = 80
N_SHARDS = 2


def _build(spark, pdf, d):
    ib.build_index(spark, spark.createDataFrame(pdf), d, n_shards=N_SHARDS,
                   block_size=16)
    return d


def _topk(spark, d, queries_pdf):
    return (
        engine.score_topk(spark, d, spark.createDataFrame(queries_pdf), "wand")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


# ---------------------------------------------------------------- unit


def test_minimize_merges_adjacent_and_overlapping():
    pdf = pd.DataFrame(
        {"start": [0, 5, 10, 30, 25], "end": [5, 10, 20, 40, 35],
         "upto_seg": [1, 1, 1, 1, 1]}
    )
    out = tomb._minimize(pdf).sort_values("start").reset_index(drop=True)
    assert out.start.tolist() == [0, 25]
    assert out.end.tolist() == [20, 40]


def test_minimize_drops_ranges_subsumed_by_wider_scope():
    # [10,20)@upto=1 is implied by [0,100)@upto=3 (3 >= 1 covers it);
    # [90,150)@upto=1 only partially overlaps -> kept whole (safe).
    pdf = pd.DataFrame(
        {"start": [0, 10, 90], "end": [100, 20, 150], "upto_seg": [3, 1, 1]}
    )
    out = tomb._minimize(pdf).sort_values("start").reset_index(drop=True)
    assert len(out) == 2
    assert out.loc[0].tolist() == [0, 100, 3]
    assert out.loc[1].tolist() == [90, 150, 1]


def test_minimize_equivalence_random():
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "start": (s := rng.randint(0, 500, 400).astype(np.int64)),
            "end": s + rng.randint(1, 30, 400),
            "upto_seg": rng.randint(0, 4, 400).astype(np.int64),
        }
    )
    mini = tomb._minimize(pdf)
    assert len(mini) <= len(pdf)
    docs = np.arange(600, dtype=np.int64)
    for seg in range(5):
        a = tomb.Tombstones(
            pdf.start.to_numpy(np.int64), pdf.end.to_numpy(np.int64),
            pdf.upto_seg.to_numpy(np.int64)).for_seg(seg)
        b = tomb.Tombstones(
            mini.start.to_numpy(np.int64), mini.end.to_numpy(np.int64),
            mini.upto_seg.to_numpy(np.int64)).for_seg(seg)
        ma = np.zeros(len(docs), bool) if a is None else tomb.deleted_mask(docs, a)
        mb = np.zeros(len(docs), bool) if b is None else tomb.deleted_mask(docs, b)
        assert (ma == mb).all(), f"seg {seg}: minimized set changed liveDocs"


# ----------------------------------------------------------------- e2e


def test_coalesce_alone_satisfies_budget_for_contiguous_deletes(
    spark, tmp_path, monkeypatch, capsys
):
    """Point-deleting a contiguous doc run collapses to ONE range at
    write time — no compaction triggered, index untouched. The
    coalesced store lives behind its pointer (tombstones__vN), and the
    `stats` CLI still counts it."""
    d = _build(spark, generate_pandas(0, N_CONVS), str(tmp_path / "idx"))
    monkeypatch.setattr(tomb, "COMPACT_THRESHOLD_RANGES", 50)
    # 200 point deletes inside conv 3, all contiguous turn doc_ids
    base = 3 * STRIDE
    tomb.delete_docs(spark, d, [base + i for i in range(200)])
    t = tomb.load_tombstones(spark, d)
    assert t is not None and len(t.starts) == 1
    assert t.starts[0] == base and t.ends[0] == base + 200
    capsys.readouterr()
    assert cli.main(["stats", "--index", d]) == 0
    out = capsys.readouterr().out.splitlines()[-1]
    assert json.loads(out)["tombstone_ranges"] == 1


def test_million_point_deletes_auto_compact_and_rank_identity(
    spark, tmp_path
):
    """1M scattered point deletes: minimal form still exceeds the
    default 100k budget -> compact_index auto-runs, the set is
    consumed, and queries are rank-identical to a fresh build over the
    surviving corpus. No kernel closure ever sees >100k ranges."""
    corpus = generate_pandas(0, N_CONVS)
    d = _build(spark, corpus, str(tmp_path / "idx"))

    rng = np.random.RandomState(42)
    # the deletes that matter kill every existing doc of the even convs;
    # the other ~1M are adversarial scatter in empty doc_id space
    dead_convs = list(range(0, N_CONVS, 2))
    serials_all = corpus.conv_id.str.slice(5).astype(int)
    real = (
        serials_all[serials_all.isin(dead_convs)] * STRIDE
        + corpus.turn_idx[serials_all.isin(dead_convs)]
    ).to_numpy(np.int64)
    scatter = rng.choice(  # strictly above every real conv's range
        np.arange(100 * STRIDE, 100 * STRIDE + 3 * 10**9, 997, dtype=np.int64),
        size=1_000_000 - len(real), replace=False)
    tomb.delete_docs(spark, d, np.concatenate([real, scatter]).tolist())

    # budget enforced: auto-compaction consumed the set entirely
    assert tomb.load_tombstones(spark, d) is None

    queries = generate_queries(12)
    got = _topk(spark, d, queries)
    serials = corpus.conv_id.str.slice(5).astype(int)
    survivors = corpus[~serials.isin(dead_convs)].reset_index(drop=True)
    fresh = _topk(spark, _build(spark, survivors, str(tmp_path / "fresh")),
                  queries)
    assert (got.doc_id.values == fresh.doc_id.values).all()
    assert (abs(got.score.values - fresh.score.values) <= 1e-6).all()


def test_refuse_mode_raises_with_instruction(spark, tmp_path, monkeypatch):
    d = _build(spark, generate_pandas(0, 10), str(tmp_path / "idx"))
    monkeypatch.setattr(tomb, "COMPACT_THRESHOLD_RANGES", 10)
    scattered = [int(x) for x in range(0, 4000, 7)]  # non-adjacent
    with pytest.raises(tomb.TombstoneOverflowError, match="compact_index"):
        tomb.delete_docs(spark, d, scattered, auto_compact=False)
