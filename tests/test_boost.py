"""Query-time term boosts ("error^2 timeout"): BM25 contributions are
linear in idf, so score(error^2 timeout) == score(error timeout) +
score(error) per doc — an exact cross-check needing no new oracle.
"""

from __future__ import annotations

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.query import engine


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("boost_idx"))
    ib.build_index(spark, spark.createDataFrame(generate_pandas(0, 200)),
                   d, n_shards=4)
    return d


def _full_scores(spark, idx, text, algo="exhaustive", k=100000):
    q = spark.createDataFrame([("q", text, k)],
                              "query_id string, query_text string, k int")
    out = engine.score_topk(spark, idx, q, algo=algo).toPandas()
    return out.set_index("doc_id").score


@pytest.mark.parametrize("algo", ["bmx", "wand", "exhaustive"])
def test_boost_linearity(spark, idx, algo):
    boosted = _full_scores(spark, idx, "error^2 timeout", algo=algo)
    base = _full_scores(spark, idx, "error timeout")
    err = _full_scores(spark, idx, "error")
    want = base.add(err.reindex(base.index, fill_value=0.0))
    joined = pd.concat([boosted, want], axis=1, keys=["got", "want"])
    assert joined.got.notna().all() and joined.want.notna().all()
    assert (joined.got - joined.want).abs().max() < 1e-9


def test_boost_one_is_identity(spark, idx):
    a = _full_scores(spark, idx, "error^1 timeout")
    b = _full_scores(spark, idx, "error timeout")
    assert list(a.index) == list(b.index)
    assert (a - b).abs().max() == 0.0


def test_fractional_boost_reorders(spark, idx):
    """A strong downweight must change the ranking vs unboosted (the
    feature does something) while keeping the same match set."""
    down = _full_scores(spark, idx, "error^0.1 timeout")
    base = _full_scores(spark, idx, "error timeout")
    assert set(down.index) == set(base.index)
    assert (down <= base.reindex(down.index) + 1e-12).all()


def test_boost_caching_isolated(spark, idx):
    """A boosted query must not poison the decode memo for a plain
    query on the same term (the memo key carries the boost): across
    calls, and within ONE request, whose plain and boosted queries
    share one kernel call per shard and so one memo."""
    _ = _full_scores(spark, idx, "error^3")
    plain_after = _full_scores(spark, idx, "error")
    tripled = _full_scores(spark, idx, "error^3")
    assert ((tripled - 3.0 * plain_after).abs() < 1e-9).all()
    q = spark.createDataFrame([("plain", "error", 100000),
                               ("tripled", "error^3", 100000)],
                              "query_id string, query_text string, k int")
    out = engine.score_topk(spark, idx, q, algo="exhaustive").toPandas()
    plain = out[out.query_id == "plain"].set_index("doc_id").score
    tripled = out[out.query_id == "tripled"].set_index("doc_id").score
    assert len(plain) and set(plain.index) == set(tripled.index)
    assert ((tripled - 3.0 * plain.reindex(tripled.index)).abs() < 1e-9).all()

