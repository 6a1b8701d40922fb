"""Continuous indexing: streaming foreachBatch sink appends one segment
per micro-batch; replayed batches are no-ops (exactly-once); a stale /
foreign checkpoint is refused; queries see all segments.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout
from data_prepper_spark.index.reader import load_stats
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE
from data_prepper_spark.streaming.stream import streaming_index_sink

TSCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _write_batch(d: str, name: str, pdf: pd.DataFrame) -> None:
    rows = pdf.to_dict("records")
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(json.dumps({**r, "ts": str(r["ts"])}) for r in rows))


def _run_available(spark, src: str, ckpt: str, sink) -> None:
    q = (
        spark.readStream.schema(TSCHEMA).json(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


@pytest.fixture()
def dirs():
    made = [tempfile.mkdtemp(prefix=f"dps_stridx_{n}_") for n in ("src", "ckpt", "idx")]
    # index dir must not pre-exist for the initial build path
    shutil.rmtree(made[2], ignore_errors=True)
    yield made
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


def test_yaml_streaming_pipeline_index_sink(spark, tmp_path):
    """The reference's canonical shape — source -> processors ->
    opensearch sink — as a STREAMING YAML pipeline whose sink is the
    from-scratch index: drains twice, each drain appends a segment,
    the index stays queryable and complete."""
    from data_prepper_spark.pipeline import load_yaml, run_pipeline_streaming

    src = tmp_path / "in"
    src.mkdir()
    idx = str(tmp_path / "idx")
    yml = f"""
p:
  source:
    stream-json:
      path: "{src}"
      schema: "{TSCHEMA}"
  processor:
    - drop_events:
        drop_when: "/role == \\"system\\""
  sink:
    - index:
        path: "{idx}"
        shards: 4
"""
    cfg = load_yaml(yml)["p"]
    b1, b2 = generate_pandas(0, 60), generate_pandas(60, 90)
    _write_batch(str(src), "b1.json", b1)
    q = run_pipeline_streaming(spark, cfg, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)
    n1 = load_stats(idx)["n_docs"]
    assert n1 == int((b1.role != "system").sum())

    _write_batch(str(src), "b2.json", b2)
    q = run_pipeline_streaming(spark, cfg, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert load_stats(idx)["n_docs"] == n1 + int((b2.role != "system").sum())

    qdf = spark.createDataFrame(pd.DataFrame(generate_queries(5)))
    assert engine.score_topk(spark, idx, qdf).count() > 0


def test_streaming_many_batches_then_compact(spark, dirs):
    """The steady-state operational story: 8 micro-batches stream in as
    8 segments, a maintenance compact folds them to one, and ranking is
    oracle-identical before AND after compaction."""
    src, ckpt, idx = dirs
    batches = [generate_pandas(i * 25, (i + 1) * 25) for i in range(8)]
    sink = streaming_index_sink(idx, n_shards=4)
    for i, b in enumerate(batches):
        _write_batch(src, f"b{i}.json", b)
        _run_available(spark, src, ckpt, sink)
    stats = load_stats(idx)
    full = pd.concat(batches, ignore_index=True)
    assert stats["n_docs"] == len(full)
    segs = spark.read.parquet(layout.resolve(idx, "blocks")).select("seg").distinct()
    assert segs.count() == 8

    doc_ids = full.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + full.turn_idx
    oidx = oracle.build_index(list(zip(doc_ids, full.text)))
    qpdf = pd.DataFrame(generate_queries(15))
    orc = pd.DataFrame(oracle.score_queries(oidx, list(qpdf.itertuples(index=False, name=None))))
    orc = orc.sort_values(["query_id", "rank"]).reset_index(drop=True)

    def ranks():
        return (
            engine.score_topk(spark, idx, spark.createDataFrame(qpdf))
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )

    assert list(ranks().doc_id) == list(orc.doc_id)
    ib.compact_index(spark, idx)
    segs2 = spark.read.parquet(layout.resolve(idx, "blocks")).select("seg").distinct()
    assert segs2.count() == 1
    assert list(ranks().doc_id) == list(orc.doc_id)


def test_streaming_index_end_to_end(spark, dirs):
    src, ckpt, idx = dirs
    b1 = generate_pandas(0, 120)
    b2 = generate_pandas(120, 180)
    sink = streaming_index_sink(idx, n_shards=4)

    _write_batch(src, "b1.json", b1)
    _run_available(spark, src, ckpt, sink)
    s1 = load_stats(idx)
    assert s1["n_docs"] == len(b1) and s1["snapshot_id"] >= 1

    _write_batch(src, "b2.json", b2)
    _run_available(spark, src, ckpt, sink)
    s2 = load_stats(idx)
    assert s2["n_docs"] == len(b1) + len(b2)
    assert s2["snapshot_id"] > s1["snapshot_id"]

    # rank identity vs the oracle over BOTH batches
    full = pd.concat([b1, b2], ignore_index=True)
    doc_ids = full.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + full.turn_idx
    oidx = oracle.build_index(list(zip(doc_ids, full.text)))
    qpdf = pd.DataFrame(generate_queries(20))
    orc = pd.DataFrame(oracle.score_queries(oidx, list(qpdf.itertuples(index=False, name=None))))
    got = (
        engine.score_topk(spark, idx, spark.createDataFrame(qpdf))
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    orc = orc.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(orc.doc_id)

    # replayed batch is a no-op: call the sink again with the LAST epoch
    last_epoch = s2["snapshot_id"] - 1
    segs_before = sorted(os.listdir(idx))
    sink(spark.createDataFrame(b2), last_epoch)
    assert load_stats(idx)["n_docs"] == s2["n_docs"]
    assert sorted(os.listdir(idx)) == segs_before

    # a FRESH checkpoint (epochs restart at 0) against the committed
    # index must refuse, not interleave stale segments
    with pytest.raises(Exception, match="ahead of stream epoch"):
        sink(spark.createDataFrame(b1), 0)

    # empty batch: no new segment
    sink(spark.createDataFrame([], TSCHEMA), 99)
    assert load_stats(idx)["snapshot_id"] == s2["snapshot_id"]


def test_failed_first_batch_replays_into_a_full_index(spark, dirs, monkeypatch):
    """The first micro-batch is a fresh build. If it fails after its
    index dir exists, the replay of that epoch must build the batch
    again: stats.json is published last, so a failed build leaves none
    behind to mark the epoch committed, and no index that holds stats
    and no blocks answers queries with zero hits."""
    _src, _ckpt, idx = dirs
    pdf = generate_pandas(0, 40)
    batch = spark.createDataFrame(pdf)
    sink = streaming_index_sink(idx, n_shards=4)

    def boom(*_a, **_k):
        raise RuntimeError("injected build failure")

    with monkeypatch.context() as m:
        m.setattr(ib, "spread_by_shard", boom)
        with pytest.raises(RuntimeError, match="injected build failure"):
            sink(batch, 0)

    sink(batch, 0)  # the replay
    assert load_stats(idx)["n_docs"] == len(pdf)
    doc_ids = pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    oidx = oracle.build_index(list(zip(doc_ids, pdf.text)))
    qpdf = pd.DataFrame(generate_queries(10))
    orc = pd.DataFrame(oracle.score_queries(
        oidx, list(qpdf.itertuples(index=False, name=None))))
    got = engine.score_topk(spark, idx, qpdf.to_dict("records")).toPandas()
    assert len(orc) and len(got) == len(orc)
    assert list(got.sort_values(["query_id", "rank"]).doc_id) == \
        list(orc.sort_values(["query_id", "rank"]).doc_id)
