"""Builds and upserts that contradict the index they write into raise
layout.IndexStateError, a named error that `python -O` keeps (a bare
assert would be stripped, and the build would go on to corrupt the
index)."""

from __future__ import annotations

import hashlib
import os

import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout


def _uuid_corpus(spark, lo: int, hi: int):
    """Conversations [lo, hi) under UUID-looking conv_ids: the index
    keeps its id scheme in a convmap, which a build appends to."""
    pdf = generate_pandas(lo, hi)
    pdf["conv_id"] = [hashlib.md5(c.encode()).hexdigest() for c in pdf.conv_id]
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A 4-shard UUID-id index at snapshot 3, and the corpus it was
    built from."""
    d = str(tmp_path_factory.mktemp("state") / "idx")
    corpus = _uuid_corpus(spark, 0, 20)
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


def test_refused_incremental_leaves_the_convmap(spark, built):
    """The checks run before the build assigns ids: new conversations
    of a refused incremental build never reach the convmap."""
    d, _ = built
    convmap = os.path.join(d, "convmap")
    before = spark.read.parquet(convmap).count()
    with pytest.raises(layout.IndexStateError,
                       match="incremental snapshot_id 3 must exceed"):
        ib.build_index(spark, _uuid_corpus(spark, 20, 40), d, n_shards=4,
                       incremental=True, snapshot_id=3)
    assert spark.read.parquet(convmap).count() == before == 20


def test_upsert_with_stale_snapshot_raises(spark, built):
    d, corpus = built
    before = _stats(d)
    with pytest.raises(layout.IndexStateError,
                       match="upsert snapshot_id 2 must be newer than current 3"):
        ib.upsert_conversations(spark, corpus, d, snapshot_id=2)
    assert _stats(d) == before
