"""Rollover (data-stream / ISM pattern): generation cutover by policy,
incremental appends into the write generation, and alias reads that
stay rank-identical to one union index."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index.reader import load_stats
from data_prepper_spark.index.rollover import (
    RolloverPolicy, generations, rollover_append, search_all, write_index,
)
from data_prepper_spark.query import engine


def _batch(spark, start, n=50):
    return spark.createDataFrame(generate_pandas(start, start + n))


def test_rollover_by_docs_and_alias_read(spark, tmp_path):
    base = str(tmp_path / "roll")
    pol = RolloverPolicy(max_docs=400)

    b1 = generate_pandas(0, 50)
    b2 = generate_pandas(50, 100)
    b3 = generate_pandas(100, 150)

    g1 = rollover_append(spark, spark.createDataFrame(b1), base, pol,
                         n_shards=4, block_size=16)
    assert os.path.basename(g1) == "idx-000001"
    # under threshold -> second batch appends incrementally to gen 1
    g2 = rollover_append(spark, spark.createDataFrame(b2), base, pol,
                         n_shards=4, block_size=16)
    assert g2 == g1
    s1 = load_stats(g1)
    assert s1["n_docs"] == len(b1) + len(b2)
    # now over threshold -> third batch opens gen 2
    g3 = rollover_append(spark, spark.createDataFrame(b3), base, pol,
                         n_shards=4, block_size=16)
    assert os.path.basename(g3) == "idx-000002"
    assert load_stats(g3)["n_docs"] == len(b3)
    assert [os.path.basename(p) for p in generations(base)] == [
        "idx-000001", "idx-000002"]
    assert write_index(base) == g3

    # alias read == one union index, rank + score identical
    union = str(tmp_path / "union")
    ib.build_index(
        spark, spark.createDataFrame(pd.concat([b1, b2, b3])), union,
        n_shards=4, block_size=16,
    )
    qdf = spark.createDataFrame(generate_queries(10))
    got = (search_all(spark, base, qdf, "wand").toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    exp = (engine.score_topk(spark, union, qdf, "wand").toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert list(got.doc_id) == list(exp.doc_id)
    assert (abs(got.score.values - exp.score.values) <= 1e-9).all()


def test_rollover_by_bytes(spark, tmp_path):
    base = str(tmp_path / "rollb")
    pol = RolloverPolicy(max_bytes=1)  # every non-empty generation rolls
    for i in range(3):
        rollover_append(spark, _batch(spark, 200 + i * 20, 20), base, pol,
                        n_shards=2, block_size=16)
    assert [os.path.basename(p) for p in generations(base)] == [
        "idx-000001", "idx-000002", "idx-000003"]


def test_search_all_empty_and_single(spark, tmp_path):
    base = str(tmp_path / "rolle")
    qdf = spark.createDataFrame(generate_queries(3))
    assert search_all(spark, base, qdf).count() == 0
    rollover_append(spark, _batch(spark, 400, 30), base,
                    RolloverPolicy(max_docs=10**9), n_shards=2,
                    block_size=16)
    got = search_all(spark, base, qdf, "wand")
    assert {"query_id", "rank", "index", "doc_id", "score"} == set(got.columns)
    assert got.count() > 0
