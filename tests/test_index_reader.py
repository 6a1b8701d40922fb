"""Every query over the index opens it through one IndexReader and runs
the engine's one scatter-gather path: a pre-segment index (blocks
without a `seg` column) answers on every kernel, kernels carry full
type hints, and a fresh build refuses a directory that already holds
an index instead of appending a second copy of every block."""

from __future__ import annotations

import os
import shutil
import warnings

import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

N_CONVS = 200


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_pandas(0, N_CONVS)


@pytest.fixture(scope="module")
def oracle_idx(corpus_pdf):
    ids = corpus_pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE \
        + corpus_pdf.turn_idx
    return oracle.build_index(list(zip(ids, corpus_pdf.text)))


@pytest.fixture(scope="module")
def legacy_index(spark, corpus_pdf, tmp_path_factory):
    """An index in the pre-segment layout: blocks partitioned by shard
    only, no `seg` column anywhere."""
    d = str(tmp_path_factory.mktemp("legacy"))
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d, n_shards=4,
                   block_size=16)
    blocks = layout.resolve(d, "blocks")
    tmp = os.path.join(d, "_blocks_noseg")
    spark.read.parquet(blocks).drop("seg").write.partitionBy("shard") \
        .parquet(tmp)
    shutil.rmtree(blocks)
    os.rename(tmp, blocks)
    assert "seg" not in spark.read.parquet(blocks).columns
    return d


def _rows(df):
    return [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in df.orderBy("query_id", "rank").collect()]


def _want(qid, hits):
    return [(qid, i, d, round(s, 9)) for i, (d, s) in enumerate(hits, 1)]


def test_legacy_layout_score_and_bool(spark, legacy_index, oracle_idx):
    q = spark.createDataFrame([("q", "error handling retry", 5)],
                              "query_id string, query_text string, k int")
    want = _want("q", oracle.score_query(oracle_idx, "error handling retry", 5))
    assert want
    assert _rows(engine.score_topk(spark, legacy_index, q)) == want
    # should-only msm=1 bool ranks exactly like `match` on its terms
    bq = spark.createDataFrame(
        [("q", "", "error handling retry", "", 1, 5)],
        "query_id string, must string, should string, must_not string, "
        "minimum_should_match int, k int")
    assert _rows(engine.bool_topk(spark, legacy_index, bq)) == want


def test_legacy_null_seg_reads_as_zero(spark, legacy_index, oracle_idx):
    """The blocks scan reads with an explicit schema, so the missing
    `seg` column reads null and is coalesced to 0; the driver-merged
    answer past the hit count is still the oracle's."""
    from data_prepper_spark.index.reader import IndexReader

    blocks = IndexReader(spark, legacy_index).blocks
    assert [r["seg"] for r in blocks.select("seg").distinct().collect()] == [0]
    q = spark.createDataFrame([("q", "rollback migrate", 100_000)],
                              "query_id string, query_text string, k int")
    want = _want("q", oracle.score_query(oracle_idx, "rollback migrate",
                                         100_000))
    assert 0 < len(want) < 100_000
    assert _rows(engine.score_topk(spark, legacy_index, q)) == want


def test_legacy_layout_phrase(spark, legacy_index, corpus_pdf, oracle_idx):
    phrase, k = "w00000 error", 5
    terms = tokenize(phrase)
    ids = corpus_pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE \
        + corpus_pdf.turn_idx
    holds = set()
    for d, text in zip(ids, corpus_pdf.text):
        toks = tokenize(text)
        if any(toks[i:i + len(terms)] == terms for i in range(len(toks))):
            holds.add(int(d))
    ranked = oracle.score_query(oracle_idx, phrase, oracle_idx.n_docs)
    want = _want("p", [(d, s) for d, s in ranked if d in holds][:k])
    assert want
    q = spark.createDataFrame([("p", phrase, k)],
                              "query_id string, query_text string, k int")
    assert _rows(engine.phrase_topk(spark, legacy_index, q)) == want


def test_legacy_layout_count(spark, legacy_index, oracle_idx):
    q = spark.createDataFrame([("c", "error retry")],
                              "query_id string, query_text string")
    got = engine.count_matches(spark, legacy_index, q).collect()
    want = len(oracle.score_query(oracle_idx, "error retry",
                                  oracle_idx.n_docs))
    assert [(r["query_id"], r["total_hits"]) for r in got] == [("c", want)]


def test_kernels_carry_full_type_hints(spark, legacy_index):
    """pyspark infers a grouped-map kernel's eval type from its hints
    and warns (TYPE_HINT_SHOULD_BE_SPECIFIED) when any is missing."""
    q = spark.createDataFrame([("q", "error handling", 3)],
                              "query_id string, query_text string, k int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        engine.score_topk(spark, legacy_index, q).collect()
        engine.phrase_topk(spark, legacy_index, q).collect()
    hinted = [w for w in caught if issubclass(w.category, UserWarning)
              and "Cannot infer the eval type" in str(w.message)]
    assert not hinted, [str(w.message) for w in hinted]


def test_fresh_build_into_used_dir_raises(spark, corpus_pdf, oracle_idx,
                                          tmp_path):
    """A second fresh build into a used dir once appended a second seg=0
    copy of every block: summed df doubled and idf went negative."""
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(corpus_pdf)
    ib.build_index(spark, corpus, d, n_shards=4)
    dictionary = layout.resolve(d, "dictionary")
    df_sum = spark.read.parquet(dictionary).groupBy().sum("df").first()[0]
    with pytest.raises(layout.IndexExistsError):
        ib.build_index(spark, corpus, d, n_shards=4)
    assert spark.read.parquet(dictionary).groupBy().sum("df") \
        .first()[0] == df_sum
    q = spark.createDataFrame([("q", "error handling", 3)],
                              "query_id string, query_text string, k int")
    want = _want("q", oracle.score_query(oracle_idx, "error handling", 3))
    assert _rows(engine.score_topk(spark, d, q)) == want
    assert all(s > 0 for *_, s in want)


def test_cli_build_index_into_used_dir_is_usage_error(spark, tmp_path,
                                                      capsys):
    from data_prepper_spark import cli

    d = str(tmp_path / "idx")
    argv = ["build-index", "--input", "synthetic", "--synthetic-convs", "20",
            "--index", d, "--shards", "2"]
    assert cli.main(argv) == 0
    with pytest.raises(SystemExit) as exc:
        cli.main(argv)
    assert exc.value.code == 2
    assert "already holds an index" in capsys.readouterr().err
