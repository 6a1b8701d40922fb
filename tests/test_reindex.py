"""_reindex: live-doc rebuild into a new index with new settings.

Pins: (1) a bare reindex of a tombstoned index == a fresh build over
the reduced corpus (rank + stats identity — the compacting-copy
contract); (2) a query-filtered reindex contains exactly the match
set; (3) an ascii -> unicode analyzer migration keeps ranks identical
on a pure-ASCII corpus (the byte-LUT fast-path equivalence) and
stamps the new tokenizer into stats; (4) doc_ids are preserved.
"""

from __future__ import annotations

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import tombstones as tomb
from data_prepper_spark.index.reader import load_stats
from data_prepper_spark.index.reindex import live_docs, reindex
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE as STRIDE

N_CONVS = 90
DELETED = [5, 41]


def _with_ids(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["doc_id"] = (
        pdf.conv_id.str.slice(5).astype(int) * STRIDE + pdf.turn_idx
    )
    return pdf


def _topk(spark, d, queries_pdf):
    return (
        engine.score_topk(spark, d, spark.createDataFrame(queries_pdf), "wand")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    pdf = _with_ids(generate_pandas(0, N_CONVS))
    d = str(tmp_path_factory.mktemp("ri") / "src")
    ib.build_index(spark, spark.createDataFrame(pdf.drop(columns="doc_id")),
                   d, n_shards=4, block_size=16)
    tomb.delete_conversations(spark, d, DELETED)
    return d, pdf


def test_bare_reindex_is_compacting_copy(spark, src, tmp_path):
    d, pdf = src
    serials = pdf.conv_id.str.slice(5).astype(int)
    live = pdf[~serials.isin(DELETED)].reset_index(drop=True)

    dst = str(tmp_path / "dst")
    stats = reindex(spark, d, spark.createDataFrame(pdf), dst)
    assert stats["n_docs"] == len(live)

    fresh = str(tmp_path / "fresh")
    ib.build_index(
        spark, spark.createDataFrame(live.drop(columns="doc_id")), fresh,
        n_shards=4, block_size=16,
    )
    qpdf = generate_queries(10)
    got, exp = _topk(spark, dst, qpdf), _topk(spark, fresh, qpdf)
    assert list(got.doc_id) == list(exp.doc_id)
    assert (abs(got.score.values - exp.score.values) <= 1e-9).all()


def test_filtered_reindex_is_match_set(spark, src, tmp_path):
    d, pdf = src
    q = "crash"
    qterms = set(tokenize(q))
    serials = pdf.conv_id.str.slice(5).astype(int)
    expect = {
        int(i) for i, t, s in zip(pdf.doc_id, pdf.text, serials)
        if qterms & set(tokenize(t)) and s not in DELETED
    }
    got = live_docs(spark, d, spark.createDataFrame(pdf), query=q)
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == expect

    dst = str(tmp_path / "dst_q")
    stats = reindex(spark, d, spark.createDataFrame(pdf), dst, query=q)
    assert stats["n_docs"] == len(expect)


def test_analyzer_migration_preserves_ranks_on_ascii(spark, src, tmp_path):
    d, pdf = src
    dst = str(tmp_path / "uni")
    stats = reindex(spark, d, spark.createDataFrame(pdf), dst,
                    tokenizer="unicode", n_shards=2)
    assert stats["tokenizer"] == "unicode"
    assert load_stats(dst)["tokenizer"] == "unicode"
    qpdf = generate_queries(8)
    got = _topk(spark, dst, qpdf)
    bare = str(tmp_path / "bare")
    reindex(spark, d, spark.createDataFrame(pdf), bare)
    exp = _topk(spark, bare, qpdf)
    assert list(got.doc_id) == list(exp.doc_id)
    assert (abs(got.score.values - exp.score.values) <= 1e-9).all()
