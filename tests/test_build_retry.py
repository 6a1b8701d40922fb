"""Retrying a failed build, with a failure injected into one step.

Every build publishes in one order: its segment files and a new
dictionary version (one job chain), the dictionary pointer flip,
stats.json, then its manifest rows. Pinned here:

- an incremental append and an upsert that fail before their stats.json
  (at the exchange, or at the dictionary pointer flip) can be retried
  with the same snapshot_id, and the index then answers like
  `oracle.bm25` (counting an upsert's dead generation, as the engine
  does until a compaction);
- one that fails between the dictionary flip and stats.json is refused
  on retry with IndexStateError: its dictionary already counts the
  segment, and a second append would count it twice;
- one that fails in the manifest append has committed: check_index
  passes and the answers are the oracle's."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout
from data_prepper_spark.index.check import check_index
from data_prepper_spark.index.reader import load_stats
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

N_CONVS = 120
N_SHARDS = 4
DEAD_ID_OFFSET = 1 << 52  # oracle ids of tombstoned turns; never returned


@pytest.fixture(scope="module")
def base_pdf():
    return generate_pandas(0, N_CONVS)


@pytest.fixture(scope="module")
def base_index(spark, base_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("retry_base") / "idx")
    ib.build_index(spark, spark.createDataFrame(base_pdf), d,
                   n_shards=N_SHARDS, block_size=16)
    return d


def _batch(op: str) -> pd.DataFrame:
    """An append adds 30 new conversations; an upsert rewrites 20 and
    adds 20."""
    if op == "append":
        return generate_pandas(N_CONVS, N_CONVS + 30)
    return pd.concat([generate_pandas(40, 60, seed=7),
                      generate_pandas(N_CONVS, N_CONVS + 20)],
                     ignore_index=True)


def _apply(spark, op: str, d: str) -> dict:
    batch = spark.createDataFrame(_batch(op))
    if op == "append":
        return ib.build_index(spark, batch, d, n_shards=N_SHARDS,
                              block_size=16, incremental=True, snapshot_id=1)
    return ib.upsert_conversations(spark, batch, d, snapshot_id=1)


def _generations(base: pd.DataFrame, op: str):
    """(live turns, dead turns) after `op`: an upsert's rewritten
    conversations leave their old turns in the index until compaction."""
    batch = _batch(op)
    rewritten = base.conv_id.isin(set(batch.conv_id))
    return (pd.concat([base[~rewritten], batch], ignore_index=True),
            base[rewritten])


def _ids(pdf: pd.DataFrame) -> np.ndarray:
    return (pdf.conv_id.str.slice(5).astype(np.int64) * DOC_ID_STRIDE
            + pdf.turn_idx).to_numpy(np.int64)


def _assert_answers_like_oracle(spark, d, live, dead):
    docs = list(zip(_ids(live).tolist(), live.text))
    docs += list(zip((_ids(dead) + DEAD_ID_OFFSET).tolist(), dead.text))
    oidx = oracle.build_index(docs)
    qpdf = generate_queries(10)
    want = []
    for qid, text, k in qpdf.itertuples(index=False, name=None):
        hits = [h for h in oracle.score_query(oidx, text, k + len(dead))
                if h[0] < DEAD_ID_OFFSET][:k]
        want += [(qid, doc, score) for doc, score in hits]
    got = (engine.score_topk(spark, d, qpdf.to_dict("records")).toPandas()
           .sort_values(["query_id", "rank"]))
    assert len(want) and list(got.doc_id) == [w[1] for w in want]
    assert np.allclose(got.score, [w[2] for w in want], rtol=1e-9, atol=0)


def _dictionary(d) -> dict[str, int]:
    t = pq.read_table(layout.resolve(d, "dictionary")).to_pandas()
    return dict(zip(t["term"], t["df"].astype(int)))


def _boom(*_a, **_k):
    raise RuntimeError("injected build failure")


def _fail_publish(m, suffix: str) -> None:
    """Make layout.publish_file fail for the file whose name ends with
    `suffix` (stats.json, or a pointer file such as dictionary.ptr)."""
    real = layout.publish_file

    def faulty(path, content):
        if path.endswith(suffix):
            _boom()
        real(path, content)

    m.setattr(layout, "publish_file", faulty)


def _copy(base_index, tmp_path) -> str:
    d = str(tmp_path / "idx")
    shutil.copytree(base_index, d)
    return d


@pytest.mark.parametrize("fail_at", ["exchange", "dictionary flip"])
@pytest.mark.parametrize("op", ["append", "upsert"])
def test_failed_append_retries_with_same_snapshot_id(
        spark, base_index, base_pdf, tmp_path, monkeypatch, op, fail_at):
    d = _copy(base_index, tmp_path)
    with monkeypatch.context() as m:
        if fail_at == "exchange":
            m.setattr(ib, "spread_by_shard", _boom)
        else:
            _fail_publish(m, "dictionary.ptr")
        with pytest.raises(RuntimeError, match="injected"):
            _apply(spark, op, d)
    assert load_stats(d)["snapshot_id"] == 0

    stats = _apply(spark, op, d)  # the retry, same snapshot_id
    live, dead = _generations(base_pdf, op)
    assert stats["snapshot_id"] == 1
    assert stats["n_docs"] == len(live) + len(dead)
    rep = check_index(spark, d)
    assert rep["ok"], rep
    _assert_answers_like_oracle(spark, d, live, dead)


@pytest.mark.parametrize("op", ["append", "upsert"])
def test_retry_after_dictionary_flip_is_refused(
        spark, base_index, tmp_path, monkeypatch, op):
    d = _copy(base_index, tmp_path)
    with monkeypatch.context() as m:
        _fail_publish(m, "stats.json")
        with pytest.raises(RuntimeError, match="injected"):
            _apply(spark, op, d)
    dictionary = _dictionary(d)
    with pytest.raises(layout.IndexStateError, match="dictionary"):
        _apply(spark, op, d)
    # the dictionary counts the failed append's segment once
    assert _dictionary(d) == dictionary
    assert check_index(spark, d)["df_mismatches"] == []


@pytest.mark.parametrize("op", ["fresh", "upsert"])
def test_failed_manifest_append_leaves_a_committed_index(
        spark, base_index, base_pdf, tmp_path, monkeypatch, op):
    with monkeypatch.context() as m:
        m.setattr(layout, "append_table", _boom)
        with pytest.raises(RuntimeError, match="injected"):
            if op == "fresh":
                d = str(tmp_path / "idx")
                ib.build_index(spark, spark.createDataFrame(base_pdf), d,
                               n_shards=N_SHARDS, block_size=16)
            else:
                d = _copy(base_index, tmp_path)
                _apply(spark, op, d)
    if op == "fresh":
        live, dead = base_pdf, base_pdf.head(0)
    else:
        live, dead = _generations(base_pdf, op)
    assert load_stats(d)["n_docs"] == len(live) + len(dead)
    rep = check_index(spark, d)
    assert rep["ok"], rep
    _assert_answers_like_oracle(spark, d, live, dead)
