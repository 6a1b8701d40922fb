"""E2e over the REAL index: SPIMI build -> compressed shards -> WAND /
exhaustive query -> rank identity vs oracle; resume byte-identity."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE as STRIDE

N_CONVS = 250
N_SHARDS = 8


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_pandas(0, N_CONVS)


@pytest.fixture(scope="module")
def queries_pdf():
    return generate_queries(30)


@pytest.fixture(scope="module")
def index_dir(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    df = spark.createDataFrame(corpus_pdf)
    ib.build_index(spark, df, d, n_shards=N_SHARDS, block_size=16)
    return d


@pytest.fixture(scope="module")
def oracle_results(corpus_pdf, queries_pdf):
    return _oracle(corpus_pdf, queries_pdf)


def _oracle(corpus_pdf, queries_pdf):
    doc_ids = corpus_pdf.conv_id.str.slice(5).astype(int) * STRIDE + corpus_pdf.turn_idx
    idx = oracle.build_index(list(zip(doc_ids, corpus_pdf.text)))
    return (
        pd.DataFrame(
            oracle.score_queries(
                idx, list(queries_pdf.itertuples(index=False, name=None))
            )
        )
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def _assert_identical(o, s):
    assert len(o) == len(s), f"rows: oracle={len(o)} got={len(s)}"
    assert (o.query_id.values == s.query_id.values).all()
    bad = o.doc_id.values != s.doc_id.values
    assert not bad.any(), (
        f"{bad.sum()} doc mismatches; first: "
        f"{o[bad].head(3).to_dict('records')} vs {s[bad].head(3).to_dict('records')}"
    )
    assert (abs(o.score.values - s.score.values) <= 1e-6).all()


@pytest.mark.parametrize("algo", ["exhaustive", "wand", "bmx"])
def test_rank_identity_over_compressed_index(
    spark, index_dir, queries_pdf, oracle_results, algo
):
    res = (
        engine.score_topk(spark, index_dir, spark.createDataFrame(queries_pdf), algo)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    _assert_identical(oracle_results, res)


def test_manifest_has_lineage_and_metrics(spark, index_dir):
    m = spark.read.parquet(os.path.join(index_dir, "manifest")).toPandas()
    assert len(m) == N_SHARDS
    assert (m.status == "done").all()
    assert (m.rows > 0).all() and (m.n_postings > 0).all()
    assert m.input_desc.str.contains("conv_id in").all()
    assert set(m.columns) >= {
        "shard", "status", "rows", "n_postings", "wall_ms", "input_desc",
        "snapshot_id",
    }


def test_resume_produces_identical_index(spark, corpus_pdf, tmp_path_factory, index_dir):
    """Crash between shard batches -> resume -> identical postings."""
    d2 = str(tmp_path_factory.mktemp("idx_resume"))
    df = spark.createDataFrame(corpus_pdf)
    # "crash" after building half the shards
    ib.build_index(spark, df, d2, n_shards=N_SHARDS, block_size=16,
                   shards_subset=list(range(N_SHARDS // 2)))
    m = spark.read.parquet(os.path.join(d2, "manifest")).toPandas()
    assert len(m) == N_SHARDS // 2
    # resume: builds only the missing shards
    ib.build_index(spark, df, d2, n_shards=N_SHARDS, block_size=16, resume=True)

    cols = ["shard", "term", "block_ord", "first_doc", "last_doc", "n",
            "gaps", "tfs", "dls", "max_partial"]
    a = (
        spark.read.parquet(layout.resolve(index_dir, "blocks"))
        .filter("block_ord >= 0")  # exclude per-run metrics sentinel rows
        .toPandas()[cols]
        .sort_values(["shard", "term", "block_ord"])
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(layout.resolve(d2, "blocks"))
        .filter("block_ord >= 0")
        .toPandas()[cols]
        .sort_values(["shard", "term", "block_ord"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    for c in ["term", "block_ord", "first_doc", "last_doc", "n", "max_partial"]:
        assert (a[c].values == b[c].values).all(), f"column {c} differs"
    for c in ["gaps", "tfs", "dls"]:
        assert all(bytes(x) == bytes(y) for x, y in zip(a[c], b[c])), f"{c} differs"


def test_resume_skips_done_shards(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_skip"))
    df = spark.createDataFrame(corpus_pdf)
    ib.build_index(spark, df, d, n_shards=4, block_size=16)
    wall0 = spark.read.parquet(os.path.join(d, "manifest")).toPandas()
    # resume over a complete index is a no-op (no new manifest rows)
    ib.build_index(spark, df, d, n_shards=4, block_size=16, resume=True)
    wall1 = spark.read.parquet(os.path.join(d, "manifest")).toPandas()
    assert len(wall0) == len(wall1) == 4


def test_compression_is_effective(spark, index_dir, corpus_pdf):
    stats = json.load(open(os.path.join(index_dir, "stats.json")))
    blocks = spark.read.parquet(layout.resolve(index_dir, "blocks"))
    bdf = blocks.filter("block_ord >= 0").toPandas()
    n_postings = int(bdf.n.sum())
    payload = sum(len(bytes(g)) for g in bdf.gaps) + sum(
        len(bytes(t)) for t in bdf.tfs
    ) + sum(len(bytes(d)) for d in bdf.dls)
    # uncompressed: 8B doc + 8B tf + 8B dl = 24B/posting
    assert payload < n_postings * 24 * 0.3, (
        f"poor compression: {payload / n_postings:.1f} B/posting"
    )
    assert stats["n_docs"] == len(corpus_pdf)


def test_empty_corpus_builds_and_queries_cleanly(spark, tmp_path):
    """Edge case: zero input rows -> valid (empty) index, zero query
    hits, no crash anywhere in the pipeline."""
    from data_prepper_spark.index import build as ib
    from data_prepper_spark.query import engine

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, doc_id long, text string"
    )
    d = str(tmp_path / "empty_idx")
    stats = ib.build_index(spark, empty, d, n_shards=4, assign_ids=False)
    assert stats["n_docs"] == 0
    qdf = spark.createDataFrame(
        [("q0", "anything", 3)], "query_id string, query_text string, k int"
    )
    res = engine.score_topk(spark, d, qdf)
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == ["query_id", "rank", "doc_id", "score"]


def test_search_after_pagination(spark, tmp_path):
    """search_after cursor (PitWorker.java:170-189 semantics): page N+1
    returns exactly oracle rows k*N+1..k*(N+1), no overlap, no gap, for
    every kernel."""
    from data_prepper_spark.data.transcripts import generate_pandas
    from data_prepper_spark.oracle import bm25 as oracle
    from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

    pdf = generate_pandas(0, 150)
    d = str(tmp_path / "page_idx")
    ib.build_index(spark, spark.createDataFrame(pdf), d, n_shards=4,
                   block_size=16)
    doc_ids = pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    idx = oracle.build_index(list(zip(doc_ids, pdf.text)))
    qtext = "error handling retry"
    k = 5
    want = oracle.score_query(idx, qtext, k=3 * k)  # [(doc, score)] full order
    assert len(want) == 3 * k, "query too selective for a 3-page test"

    for algo in ("wand", "bmx", "exh"):
        cursor = None
        got_all = []
        for page in range(3):
            if cursor is None:
                qdf = spark.createDataFrame(
                    [("q", qtext, k)],
                    "query_id string, query_text string, k int",
                )
            else:
                qdf = spark.createDataFrame(
                    [("q", qtext, k, float(cursor[1]), int(cursor[0]))],
                    "query_id string, query_text string, k int, "
                    "after_score double, after_doc long",
                )
            rows = (
                engine.score_topk(spark, d, qdf, algo)
                .orderBy("rank").collect()
            )
            assert [r["rank"] for r in rows] == list(range(1, k + 1))
            got_all += [(r["doc_id"], r["score"]) for r in rows]
            cursor = (rows[-1]["doc_id"], rows[-1]["score"])
        assert [g[0] for g in got_all] == [w[0] for w in want], algo
        assert all(abs(g[1] - w[1]) <= 1e-9 for g, w in zip(got_all, want)), algo


REBUILD_CALLS = 10


def test_rebuild_in_same_dir_serves_new_index(spark, tmp_path, queries_pdf):
    """An index deleted and rebuilt in place from the same texts on
    permuted turns (equal n_docs, avgdl and dfs) answers from its own
    blocks: no decode kept by a reused Python worker from the old index
    may serve it. One shard, so each call is one kernel task, and
    enough calls on each side to pass every worker of the pool."""
    import shutil

    import numpy as np

    old = generate_pandas(0, 40)
    perm = np.random.default_rng(0).permutation(len(old))
    new = old.assign(text=old.text.to_numpy()[perm])
    qs = queries_pdf.head(8)
    d = str(tmp_path / "idx")

    def run():
        return (engine.score_topk(spark, d, spark.createDataFrame(qs))
                .toPandas().sort_values(["query_id", "rank"])
                .reset_index(drop=True))

    ib.build_index(spark, spark.createDataFrame(old), d, n_shards=1,
                   block_size=16)
    want_old, want_new = _oracle(old, qs), _oracle(new, qs)
    assert not want_old.equals(want_new)
    for _ in range(REBUILD_CALLS):
        _assert_identical(want_old, run())
    shutil.rmtree(d)
    ib.build_index(spark, spark.createDataFrame(new), d, n_shards=1,
                   block_size=16)
    for _ in range(REBUILD_CALLS):
        _assert_identical(want_new, run())
