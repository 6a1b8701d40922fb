"""Index integrity checker (Lucene CheckIndex analog): a healthy index
reports ok; injected corruption (flipped posting bytes, dictionary df
drift) is detected and localized."""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index.check import check_index


@pytest.fixture()
def built(spark, tmp_path):
    d = str(tmp_path / "idx")
    pdf = generate_pandas(0, 80)
    ib.build_index(spark, spark.createDataFrame(pdf), d, n_shards=2,
                   block_size=32)
    return d


def test_healthy_index_ok(spark, built):
    rep = check_index(spark, built)
    assert rep["ok"], rep
    assert rep["docs_seen"] == rep["stats_n_docs"]
    assert rep["df_mismatches"] == []
    assert rep["block_violations"] == []


def test_incremental_and_tombstones_still_ok(spark, built):
    """Segments + tombstones are normal states, not corruption: df
    counts include tombstoned postings (Lucene keeps deleted docs until
    merge) and incremental dictionary merges stay consistent."""
    from data_prepper_spark.index import tombstones as tomb_mod

    pdf2 = generate_pandas(80, 120)
    ib.build_index(spark, spark.createDataFrame(pdf2), built, n_shards=2,
                   block_size=32, incremental=True, snapshot_id=1)
    tomb_mod.delete_conversations(spark, built, [3, 7])
    rep = check_index(spark, built)
    assert rep["ok"], rep
    assert rep["tombstone_ranges"] == 2


def test_upsert_generations_check_ok(spark, tmp_path):
    """An upsert's new generation of a doc lives in a new segment, and
    n_docs counts every generation until a compaction: distinct docs are
    counted per (shard, segment), so a plain upsert checks ok."""
    d = str(tmp_path / "idx")
    base = generate_pandas(0, 120)
    ib.build_index(spark, spark.createDataFrame(base), d, n_shards=4,
                   block_size=32)
    batch = pd.concat([generate_pandas(40, 60, seed=7),
                       generate_pandas(120, 140)], ignore_index=True)
    ib.upsert_conversations(spark, spark.createDataFrame(batch), d,
                            snapshot_id=1)
    rep = check_index(spark, d)
    assert rep["ok"], rep
    assert rep["docs_seen"] == rep["stats_n_docs"] == len(base) + len(batch)


def test_dictionary_drift_detected(spark, built):
    """A dictionary df that disagrees with the postings is flagged."""
    from data_prepper_spark.index import layout
    from pyspark.sql import functions as F

    dpath = layout.resolve(built, "dictionary")
    dic = spark.read.parquet(dpath).toPandas()
    dic.loc[dic.index[0], "df"] = int(dic.iloc[0]["df"]) + 5
    bad_term = dic.iloc[0]["term"]
    spark.createDataFrame(dic).write.mode("overwrite").parquet(
        str(dpath) + "_bad"
    )
    # point the checker at a layout where the dictionary disagrees:
    # swap files on disk (local test only)
    import shutil

    shutil.rmtree(dpath)
    shutil.move(str(dpath) + "_bad", dpath)
    rep = check_index(spark, built)
    assert not rep["ok"]
    assert any(m["term"] == bad_term for m in rep["df_mismatches"])
