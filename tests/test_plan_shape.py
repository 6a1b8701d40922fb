"""Plan-shape regression guards: the scale properties EXPLAIN.md
documents are asserted here so a refactor can't silently lose them.
Each test checks the OPTIMIZED/physical plan string, not results —
results are covered by the oracle gates. The top-k entry points
(score_topk, filtered_topk, multi_index_topk) run their scatter inside
the call and return the merged answer as a LocalRelation, so their
guards read the executed scatter plan from Spark's status store
(the `executed_plans` fixture).

A request whose pruned input is small runs its scatter on the driver
(engine.LOCAL_MAX_BLOCKS): the Spark-path guards set that limit to 0,
and the driver path has its own guard on the pyarrow read.

Guarded invariants (EXPLAIN.md §2/§7/§9):
  - query scatter: term In-filter reaches the blocks parquet scan
    (PushedFilters) and the positions column never does (ReadSchema);
    on the driver path, the pyarrow read filters on the query terms
    and never projects the positions column;
  - highlight: the top-k doc_id set reaches the corpus scan;
  - filtered_topk: the attribute filter reaches the corpus scan and
    only id + filter columns are read (text never leaves the scan).
"""

from __future__ import annotations

import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.query import engine, facets
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE


@pytest.fixture(scope="module")
def corpus_and_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_idx"))
    pdf = generate_pandas(0, 60)
    pdf["doc_id"] = (
        pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    )
    sdf = spark.createDataFrame(pdf[["doc_id", "conv_id", "text"]])
    ib.build_index(spark, sdf, d, n_shards=2, block_size=32,
                   assign_ids=False)
    return pdf, d


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def spark_path(monkeypatch):
    """Every scatter runs on Spark: no pruned input fits the driver."""
    monkeypatch.setattr(engine, "LOCAL_MAX_BLOCKS", 0)


def test_score_topk_scan_pruning(spark, corpus_and_index, executed_plans,
                                 spark_path):
    _, d = corpus_and_index
    qdf = spark.createDataFrame(
        [("q", "error timeout", 5)],
        "query_id string, query_text string, k int",
    )
    _, plan = executed_plans(
        lambda: engine.score_topk(spark, d, qdf, algo="wand").collect())
    assert "FlatMapGroupsInArrow" in plan  # the scatter plan was read
    # term In-filter pushed into the blocks scan
    assert "PushedFilters: [In(term" in plan
    # the position stream must not reach the scan (largest column)
    assert "poss" not in plan


def test_filtered_topk_corpus_scan_pruning(spark, corpus_and_index, tmp_path,
                                           executed_plans):
    pdf, d = corpus_and_index
    qdf = spark.createDataFrame(
        [("q", "error timeout", 5)],
        "query_id string, query_text string, k int",
    )
    # corpus must be a parquet SCAN for pushdown to be visible
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        pdf[["doc_id", "conv_id", "role", "text"]]
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    _, plan = executed_plans(lambda: engine.filtered_topk(
        spark, d, qdf, docs, "role = 'user'").collect())
    assert "FlatMapCoGroupsInArrow" in plan  # the scatter plan was read
    # blocks scan still term-pruned
    assert "PushedFilters: [In(term" in plan
    # corpus-side filter evaluated at the scan, not post-load
    assert "EqualTo(role,user)" in plan
    # `text` must never leave the corpus scan: every ReadSchema line in
    # the plan is free of it (only id + filter cols are read)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line, line


def test_highlight_docid_pushdown(spark, corpus_and_index, tmp_path):
    from data_prepper_spark.query import highlight

    pdf, d = corpus_and_index
    # corpus must be a parquet SCAN for pushdown to be visible
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(pdf[["doc_id", "text"]]).write.parquet(p)
    docs = spark.read.parquet(p)
    qdf = spark.createDataFrame(
        [("q", "error timeout", 3)],
        "query_id string, query_text string, k int",
    )
    res = engine.score_topk(spark, d, qdf, algo="wand")
    plan = _physical(highlight.highlight_topk(
        docs, res, qdf.select("query_id", "query_text")
    ))
    assert "In(doc_id" in plan  # top-k doc_id set reaches the scan


def test_multi_index_scan_pruning(spark, corpus_and_index, tmp_path,
                                  executed_plans, spark_path):
    """Alias search keeps the term In-filter pushed into EVERY member
    index's blocks scan (and still prunes positions out of ReadSchema);
    the dictionary slices are read on the driver, query terms only."""
    from data_prepper_spark.index.reader import IndexReader
    from data_prepper_spark.query.multi import multi_index_topk

    pdf, d = corpus_and_index
    d2 = str(tmp_path / "idx2")
    pdf2 = generate_pandas(100, 130)
    pdf2["doc_id"] = (
        pdf2.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf2.turn_idx
    )
    ib.build_index(spark, spark.createDataFrame(pdf2[["doc_id", "conv_id", "text"]]),
                   d2, n_shards=2, block_size=32, assign_ids=False)
    qdf = spark.createDataFrame(
        [("q", "error timeout", 3)],
        "query_id string, query_text string, k int",
    )
    _, plan = executed_plans(
        lambda: multi_index_topk(spark, [d, d2], qdf).collect())
    scans = [node for node in plan.split("\n\n")
             if "Scan parquet" in node and "/blocks" in node]
    # one blocks scan per member, each with the term In-filter pushed
    assert len(scans) >= 2
    assert all(any(m in node for node in scans) for m in (d, d2))
    assert all("PushedFilters: [In(term" in node for node in scans)
    for m in (d, d2):
        got = IndexReader(spark, m).df_slice(["error", "timeout"])
        assert got and set(got) <= {"error", "timeout"}
    for line in plan.splitlines():
        if "ReadSchema" in line and "gaps" in line:
            assert "poss" not in line, line


def test_count_matches_scan_pruning(spark, corpus_and_index, spark_path,
                                    executed_plans):
    """_count (EXPLAIN.md §17) and the facets match set: the scatter
    reads ONLY the gaps stream + keys — tfs/dls/poss/max_partial never
    reach the blocks scan, and the term In-filter is pushed down.
    count_matches merges on the driver inside the call, so its guard
    reads the plan that ran."""
    _, d = corpus_and_index
    qdf = spark.createDataFrame(
        [("q", "error timeout")], "query_id string, query_text string",
    )
    for entry in (engine.count_matches, facets.match_docs):
        _, plan = executed_plans(lambda: entry(spark, d, qdf).collect())
        assert "PushedFilters: [In(term" in plan
        scans = [line for line in plan.splitlines()
                 if "ReadSchema" in line and "gaps" in line]
        assert scans, entry
        for line in scans:
            for col in ("tfs", "dls", "poss", "max_partial"):
                assert col not in line, (entry, col, line)


def test_driver_scan_pruning(spark, corpus_and_index, monkeypatch):
    """The driver path's pyarrow read (IndexReader.block_table): the
    SCORE_COLS scan of score_topk and the COUNT_COLS scans of _count
    and the facets match set filter on the query terms and never read
    the position stream; the count scans read the gaps stream alone."""
    from data_prepper_spark.index.reader import (
        COUNT_COLS, SCORE_COLS, IndexReader,
    )

    _, d = corpus_and_index
    reads = []
    block_table = IndexReader.block_table

    def spy(self, terms, cols):
        t = block_table(self, terms, cols)
        reads.append((list(terms), tuple(cols), t.column_names,
                      set(t.column("term").to_pylist())))
        return t

    monkeypatch.setattr(IndexReader, "block_table", spy)
    qdf = spark.createDataFrame(
        [("q", "error timeout", 5)],
        "query_id string, query_text string, k int",
    )
    engine.score_topk(spark, d, qdf).collect()
    engine.count_matches(spark, d, qdf.drop("k")).collect()
    facets.match_docs(spark, d, qdf.drop("k")).collect()
    assert [cols for _, cols, _, _ in reads] == [
        SCORE_COLS, COUNT_COLS, COUNT_COLS]
    for terms, cols, names, seen in reads:
        assert terms and set(terms) <= {"error", "timeout"}
        assert seen and seen <= set(terms)
        assert names == list(cols) and "poss" not in names
    for _, _, names, _ in reads[1:]:
        for col in ("tfs", "dls", "poss", "max_partial"):
            assert col not in names


def test_knn_prefilter_pushdown(spark, tmp_path):
    """k-NN `filter=` reaches the vector parquet scan as a pushed
    predicate (efficient-filtering contract: restrict before scoring,
    at the scan)."""
    from data_prepper_spark.dedup import embedding as emb

    p = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(30)],
        "doc_id long, embedding array<double>, label int",
    ).write.parquet(p)
    vecs = spark.read.parquet(p)
    q = spark.createDataFrame(
        [("q", [1.0, 0.5])], "query_id string, embedding array<double>"
    )
    out = emb.brute_force_topk(
        vecs, q, k=3, id_col="doc_id", filter="label = 1"
    )
    plan = _physical(out)
    assert "PushedFilters: [" in plan and "EqualTo(label,1)" in plan
