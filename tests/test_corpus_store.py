"""Corpus store (doc_id-bucketed co-located layout) — correctness
equality vs the plain-parquet corpus, plan-shape assertions (the
corpus-side Exchange disappears; the scan is bucketed), cross-session
re-registration, and the sharded_docs fast path."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import corpus_store as cs
from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.query import engine, facets
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

N_CONVS = 80


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = generate_pandas(0, N_CONVS)
    d = str(tmp_path_factory.mktemp("cstore") / "idx")
    ib.build_index(spark, spark.createDataFrame(pdf), d, n_shards=4,
                   block_size=16)
    pdf = pdf.copy()
    pdf["doc_id"] = (
        pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    )
    docs = spark.createDataFrame(
        pdf[["doc_id", "text", "role", "turn_idx"]]
    )
    meta = cs.write_corpus(spark, docs, d, n_buckets=4)
    return d, pdf, docs, meta


def _exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange [^\n]*", plan)


def _queries(spark):
    return spark.createDataFrame(
        [("q1", "error handling"), ("q2", "deploy rollback")],
        "query_id string, query_text string",
    )


def test_store_roundtrip_and_routing(spark, built):
    d, pdf, docs, meta = built
    store = cs.load_corpus(spark, d)
    assert meta["columns"][:2] == ["shard", "doc_id"]
    got = store.orderBy("doc_id").toPandas()
    want = pdf.sort_values("doc_id")
    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.text) == list(want.text)
    # stored routing == the index's own routing (derived fresh)
    fresh = engine.sharded_docs(
        IndexReader(spark, d), docs
    ).orderBy("doc_id").toPandas()
    assert list(got.shard) == list(fresh.shard)


def test_facet_join_drops_corpus_exchange(spark, built):
    d, pdf, docs, meta = built
    store = cs.load_corpus(spark, d)
    q = _queries(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = facets.terms_facet(spark, d, q, docs, ["role"], size=5)
        co = facets.terms_facet(spark, d, q, store, ["role"], size=5)
        ex_plain, ex_co = _exchanges(plain), _exchanges(co)
        # the bucketed corpus scan feeds the join directly: exactly one
        # Exchange (the corpus side's) is gone, nothing else changed
        assert len(ex_co) == len(ex_plain) - 1
        plan = co._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan  # bucketed scan in play
        # same answer either way
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, co.collect()))
        assert a == b and len(a) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_filtered_topk_uses_stored_routing(spark, built, executed_plans):
    d, pdf, docs, meta = built
    store = cs.load_corpus(spark, d)
    q = spark.createDataFrame(
        [("f1", "error handling", 10)],
        "query_id string, query_text string, k int",
    )
    plain = engine.filtered_topk(spark, d, q, docs, "role = 'user'").collect()
    # filtered_topk runs its scatter inside the call: read the plans
    # that ran, not the returned (merged, driver-local) answer's
    co, plan = executed_plans(lambda: engine.filtered_topk(
        spark, d, q, store, "role = 'user'").collect())
    a = [(r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in plain]
    b = [(r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in co]
    assert a == b and len(a) > 0
    # fast path: no xxhash64 derivation in the co-located plan
    assert "FlatMapCoGroupsInArrow" in plan  # the scatter plan was read
    assert "xxhash64" not in plan


def test_reregistration_survives_catalog_loss(spark, built):
    d, pdf, docs, meta = built
    # simulate a fresh session: the in-memory catalog forgets the table
    spark.sql(f"DROP TABLE IF EXISTS {cs._table_name(d)}")
    store = cs.load_corpus(spark, d)
    assert store.count() == len(pdf)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            store.join(
                spark.range(5).select(F.col("id").alias("doc_id")), "doc_id"
            )._jdf.queryExecution().executedPlan().toString()
        )
        assert "SelectedBucketsCount" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_corpus_or_store_fallback(spark, built, tmp_path):
    d, pdf, docs, meta = built
    assert cs.corpus_or_store(spark, d, docs) is not docs  # store wins
    bare = str(tmp_path / "noidx")
    ib.build_index(
        spark, spark.createDataFrame(generate_pandas(0, 5)), bare,
        n_shards=2, block_size=16,
    )
    assert cs.corpus_or_store(spark, bare, docs) is docs  # no store
    with pytest.raises(FileNotFoundError):
        cs.load_corpus(spark, bare)


def test_write_rejects_shard_collision(spark, built):
    d, pdf, docs, meta = built
    bad = docs.withColumn("shard", F.lit(0))
    with pytest.raises(ValueError, match="shard"):
        cs.write_corpus(spark, bad, d)
