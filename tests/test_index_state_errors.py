"""Builds and upserts that contradict the index they write into raise
layout.IndexStateError, a named error that `python -O` keeps (a bare
assert would be stripped, and the build would go on to corrupt the
index)."""

from __future__ import annotations

import os

import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A 4-shard index at snapshot 3, and the corpus it was built from."""
    d = str(tmp_path_factory.mktemp("state") / "idx")
    corpus = spark.createDataFrame(generate_pandas(0, 20))
    ib.build_index(spark, corpus, d, n_shards=4, snapshot_id=3)
    return d, corpus


def _stats(d: str) -> str:
    with open(os.path.join(d, "stats.json")) as f:
        return f.read()


def test_resume_with_other_n_shards_raises(spark, built):
    d, corpus = built
    before = _stats(d)
    with pytest.raises(layout.IndexStateError, match="resume with different n_shards"):
        ib.build_index(spark, corpus, d, n_shards=2, resume=True)
    assert _stats(d) == before


def test_incremental_with_other_n_shards_raises(spark, built):
    d, corpus = built
    before = _stats(d)
    with pytest.raises(layout.IndexStateError,
                       match="incremental with different n_shards"):
        ib.build_index(spark, corpus, d, n_shards=2, incremental=True,
                       snapshot_id=4)
    assert _stats(d) == before


def test_incremental_with_stale_snapshot_raises(spark, built):
    d, corpus = built
    before = _stats(d)
    with pytest.raises(layout.IndexStateError,
                       match="incremental snapshot_id 3 must exceed"):
        ib.build_index(spark, corpus, d, n_shards=4, incremental=True,
                       snapshot_id=3)
    assert _stats(d) == before


def test_upsert_with_stale_snapshot_raises(spark, built):
    d, corpus = built
    before = _stats(d)
    with pytest.raises(layout.IndexStateError,
                       match="upsert snapshot_id 2 must be newer than current 3"):
        ib.upsert_conversations(spark, corpus, d, snapshot_id=2)
    assert _stats(d) == before
