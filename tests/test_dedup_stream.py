"""Streaming corpus admission (streaming/dedup_stream.py):
within-batch + cross-batch dedup, replay idempotence, slice
compaction, and readStream wiring."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.dedup import bloom as bl
from data_prepper_spark.streaming import dedup_stream as ds


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_within_and_cross_batch(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = _docs(spark, [
        (1, "alpha beta gamma"), (2, "alpha beta gamma"),  # in-batch dup
        (3, "delta epsilon zeta"),
    ])
    out0 = ds.admit_batch(b0, 0, state)
    assert sorted(r.doc_id for r in out0.collect()) == [1, 3]

    b1 = _docs(spark, [
        (10, "alpha beta gamma"),      # dup of batch 0
        (11, "eta theta iota"),        # new
        (12, "eta  theta   iota"),     # in-batch dup (whitespace-normal)
    ])
    out1 = ds.admit_batch(b1, 1, state)
    assert sorted(r.doc_id for r in out1.collect()) == [11]

    corpus = ds.admitted_corpus(spark, state)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 3, 11]


def test_file_uri_state_is_read(spark, tmp_path):
    """A state dir named by a URI is found: the second batch repeats a
    row of the first and must not admit it."""
    state = (tmp_path / "state").as_uri()
    assert state.startswith("file://")
    ds.admit_batch(_docs(spark, [(1, "alpha beta gamma"), (2, "delta")]),
                   0, state)
    out1 = ds.admit_batch(
        _docs(spark, [(10, "alpha beta gamma"), (11, "eta theta")]), 1, state)
    assert sorted(r.doc_id for r in out1.collect()) == [11]


def test_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = _docs(spark, [(1, "first doc"), (2, "second doc")])
    b1 = _docs(spark, [(10, "first doc"), (11, "third doc")])
    ds.admit_batch(b0, 0, state)
    first = sorted(r.doc_id for r in ds.admit_batch(b1, 1, state).collect())
    # replay batch 1 (same input, same batch_id) — the replay must see
    # exactly the pre-batch-1 state and rewrite identical output
    replay = sorted(r.doc_id for r in ds.admit_batch(b1, 1, state).collect())
    assert first == replay == [11]
    corpus = ds.admitted_corpus(spark, state)
    assert corpus.count() == 3  # no self-duplication from the replay


def test_later_batch_not_visible_to_earlier_epoch(spark, tmp_path):
    state = str(tmp_path / "state")
    ds.admit_batch(_docs(spark, [(1, "one doc")]), 0, state)
    ds.admit_batch(_docs(spark, [(2, "two doc")]), 1, state)
    # replaying epoch 1 after epoch 2 exists must STILL admit doc 2's
    # content if presented (state reads are batch_id < epoch)
    ds.admit_batch(_docs(spark, [(3, "three doc")]), 2, state)
    out = ds.admit_batch(_docs(spark, [(2, "two doc")]), 1, state)
    assert [r.doc_id for r in out.collect()] == [2]


def test_coalesce_bloom_slices_probe_parity(spark, tmp_path):
    state = str(tmp_path / "state")
    ds.admit_batch(_docs(spark, [(1, "aaa bbb"), (2, "ccc ddd")]), 0, state)
    ds.admit_batch(_docs(spark, [(3, "eee fff")]), 1, state)
    slices = spark.read.option(
        "basePath", os.path.join(state, "bloom")
    ).parquet(os.path.join(state, "bloom")).drop("batch_id")
    folded = ds.coalesce_bloom_slices(slices)
    assert folded.count() <= slices.count()
    probes = _docs(spark, [
        (10, "aaa bbb"), (11, "eee fff"), (12, "brand new"),
    ])
    a = {r.doc_id: r.maybe_dup
         for r in bl.probe_bloom(probes, slices, "text").collect()}
    b = {r.doc_id: r.maybe_dup
         for r in bl.probe_bloom(probes, folded, "text").collect()}
    assert a == b == {10: True, 11: True, 12: False}


def test_readstream_wiring(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _docs(spark, [(1, "stream doc one"), (2, "stream doc one"),
                  (3, "stream doc two")]).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = (
        stream.writeStream
        .foreachBatch(lambda df, bid: ds.admit_batch(df, bid, state))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    corpus = ds.admitted_corpus(spark, state)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 3]
