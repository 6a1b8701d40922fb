"""What a fresh build says about its corpus, and the bounds it stores.

A fresh build takes n_docs and avgdl from its kernel's token counts
(the manifest's `rows` and `n_tokens`); an incremental append still
counts tokens with `compute_stats` in the JVM. Both must mean the same
dl, or a fresh and an appended segment would score the same text
differently. Each shard's block-max partials are encoded against that
shard's own mean dl, and `IndexReader.ub_scale` must keep every stored
bound at or above the partial a query computes at the index's avgdl:
after a fresh build, a crash-and-resume and an incremental append."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import codec, layout
from data_prepper_spark.index.reader import IndexReader, load_stats

N_SHARDS = 4

# lowercasing U+212A (Kelvin sign) gives ASCII 'k', and U+0130 gives
# 'i' plus a combining dot; a null text is a document with no tokens
EDGE_TEXTS = [
    "Kelvin scale: 300 K is warm",
    "İstanbul İİ İzmir",
    "naïve café 東京 ΟΔΥΣΣΕΥΣ",
    "the and of to in is it with",
    "",
    None,
]


def _corpus(edge: bool) -> pd.DataFrame:
    pdf = generate_pandas(0, 60)
    if not edge:
        return pdf
    extra = pdf.head(len(EDGE_TEXTS)).copy()
    extra["conv_id"] = [f"conv-{900 + i:08d}" for i in range(len(EDGE_TEXTS))]
    extra["text"] = EDGE_TEXTS
    return pd.concat([pdf, extra], ignore_index=True)


@pytest.mark.parametrize("tokenizer,edge", [
    ("ascii", False), ("unicode", False), ("ascii+stop", False),
    ("ascii", True), ("unicode", True), ("ascii+stop", True),
])
def test_fresh_build_stats_match_compute_stats(spark, tmp_path, tokenizer,
                                               edge):
    df = spark.createDataFrame(_corpus(edge))
    stats = ib.build_index(spark, df, str(tmp_path / "idx"),
                           n_shards=N_SHARDS, block_size=16,
                           tokenizer=tokenizer)
    want = ib.compute_stats(df, tokenizer=tokenizer)
    assert stats["n_docs"] == want["n_docs"]
    assert stats["avgdl"] == want["avgdl"]
    assert stats["avgdl_min"] <= stats["avgdl"]


def _assert_bounds_hold(spark, d: str) -> int:
    """Every block's stored max_partial, scaled by ub_scale, is at least
    the largest BM25 partial of its postings at the index's avgdl.
    Returns the number of blocks checked."""
    reader = IndexReader(spark, d)
    stats = load_stats(d)
    t = pq.read_table(layout.resolve(d, "blocks"),
                      columns=["tfs", "dls", "max_partial"])
    bad = []
    for tfs, dls, maxp in zip(t.column("tfs").to_pylist(),
                              t.column("dls").to_pylist(),
                              t.column("max_partial").to_pylist()):
        true = codec.bm25_partial(codec.varint_decode(tfs),
                                  codec.varint_decode(dls), stats["avgdl"],
                                  stats["k1"], stats["b"]).max()
        if not maxp * reader.ub_scale >= true:
            bad.append((maxp, reader.ub_scale, true))
    assert not bad, f"{len(bad)} blocks under-bound, e.g. {bad[:3]}"
    return t.num_rows


def test_block_max_bounds_hold_fresh_resume_incremental(spark, tmp_path):
    base = generate_pandas(0, 120)
    # longer turns than the base corpus: the append moves avgdl up
    inc = generate_pandas(120, 160, seed=3)
    inc["text"] = inc["text"] + " " + inc["text"]

    fresh = str(tmp_path / "fresh")
    ib.build_index(spark, spark.createDataFrame(base), fresh,
                   n_shards=N_SHARDS, block_size=16)
    assert _assert_bounds_hold(spark, fresh)
    stats = load_stats(fresh)
    shard_means = [ib.shard_avgdl(int(t), int(r)) for t, r in zip(
        *pq.read_table(f"{fresh}/manifest", columns=["n_tokens", "rows"])
        .to_pydict().values())]
    assert stats["avgdl_min"] == min(shard_means) < stats["avgdl"]

    resumed = str(tmp_path / "resumed")
    corpus = spark.createDataFrame(base)
    ib.build_index(spark, corpus, resumed, n_shards=N_SHARDS, block_size=16,
                   shards_subset=[1, 3])
    assert _assert_bounds_hold(spark, resumed)
    got = ib.build_index(spark, corpus, resumed, n_shards=N_SHARDS,
                         block_size=16, resume=True)
    assert _assert_bounds_hold(spark, resumed)
    assert {k: got[k] for k in ("n_docs", "avgdl", "avgdl_min")} == \
        {k: stats[k] for k in ("n_docs", "avgdl", "avgdl_min")}

    ib.build_index(spark, spark.createDataFrame(inc), fresh,
                   n_shards=N_SHARDS, incremental=True, snapshot_id=1)
    after = load_stats(fresh)
    assert after["avgdl"] > stats["avgdl"]
    assert np.isclose(after["avgdl"] / after["avgdl_min"],
                      after["avgdl"] / min(shard_means))
    assert _assert_bounds_hold(spark, fresh)
