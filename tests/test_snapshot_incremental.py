"""Snapshot CDC source + incremental index updates.

Covers the reference's iceberg-source contract (snapshot-pinned reads,
snapshots-between changelog) and the engine's incremental build path:
appending a batch with a DIFFERENT length profile shifts avgdl, and the
query engine must stay rank-identical to a full oracle rebuild (stale
block-max metadata is compensated by the avgdl_min UB scale).
"""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout
from data_prepper_spark.index.reader import load_stats
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.sources import snapshot as snap
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE as STRIDE


@pytest.fixture(scope="module")
def base_pdf():
    return generate_pandas(0, 300)


@pytest.fixture(scope="module")
def inc_pdf():
    pdf = generate_pandas(300, 400)
    # force avgdl UP (the unsafe direction for stale block-max bounds)
    pdf = pdf.copy()
    pdf["text"] = pdf["text"] + " " + pdf["text"] + " " + pdf["text"]
    return pdf


def test_snapshot_read_and_incremental(spark, base_pdf, inc_pdf):
    d = tempfile.mkdtemp(prefix="dps_snap_")
    s1 = snap.append_snapshot(spark.createDataFrame(base_pdf), d)
    s2 = snap.append_snapshot(spark.createDataFrame(inc_pdf), d)
    assert (s1, s2) == (1, 2)
    assert snap.read_snapshot(spark, d, 1).count() == len(base_pdf)
    assert snap.read_snapshot(spark, d).count() == len(base_pdf) + len(inc_pdf)
    inc = snap.read_incremental(spark, d, start_snapshot_id=1)
    assert inc.count() == len(inc_pdf)
    with pytest.raises(ValueError):
        snap.read_incremental(spark, d, start_snapshot_id=2)


@pytest.mark.parametrize("algo", ["bmx", "wand"])
def test_incremental_build_rank_identity(spark, base_pdf, inc_pdf, algo):
    table = tempfile.mkdtemp(prefix="dps_snap_tbl_")
    idx = tempfile.mkdtemp(prefix="dps_snap_idx_")
    snap.append_snapshot(spark.createDataFrame(base_pdf), table)
    snap.append_snapshot(spark.createDataFrame(inc_pdf), table)

    # initial build at snapshot 1, then CDC append of snapshot 2
    ib.build_index(spark, snap.read_snapshot(spark, table, 1), idx,
                   n_shards=8, snapshot_id=1)
    ib.build_index(spark, snap.read_incremental(spark, table, 1), idx,
                   n_shards=8, snapshot_id=2, incremental=True)
    stats = load_stats(idx)
    assert stats["n_docs"] == len(base_pdf) + len(inc_pdf)
    assert stats["avgdl"] > stats["avgdl_min"]  # drifted up

    # oracle over the FULL corpus with the same doc ids
    full = pd.concat([base_pdf, inc_pdf], ignore_index=True)
    doc_ids = full.conv_id.str.slice(5).astype(int) * STRIDE + full.turn_idx
    oidx = oracle.build_index(list(zip(doc_ids, full.text)))
    qpdf = pd.DataFrame(generate_queries(25))
    orc = pd.DataFrame(
        oracle.score_queries(oidx, list(qpdf.itertuples(index=False, name=None)))
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)

    got = (
        engine.score_topk(spark, idx, spark.createDataFrame(qpdf), algo=algo)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(orc)
    assert (got.doc_id.values == orc.doc_id.values).all()
    assert (abs(got.score.values - orc.score.values) < 1e-9).all()


def test_incremental_dictionary_merge_prunes_old_segments(spark, base_pdf, inc_pdf):
    """The CDC append's dictionary maintenance must aggregate ONLY the
    new segment's block files (seg is a partition column, so pruning is
    file-level) and still produce the exact full dictionary."""
    import os

    from pyspark.sql import functions as F

    table = tempfile.mkdtemp(prefix="dps_dict_tbl_")
    idx = tempfile.mkdtemp(prefix="dps_dict_idx_")
    snap.append_snapshot(spark.createDataFrame(base_pdf), table)
    snap.append_snapshot(spark.createDataFrame(inc_pdf), table)
    ib.build_index(spark, snap.read_snapshot(spark, table, 1), idx,
                   n_shards=4, snapshot_id=1)
    ib.build_index(spark, snap.read_incremental(spark, table, 1), idx,
                   n_shards=4, snapshot_id=2, incremental=True)

    # partition pruning evidence: seg is a partition column, so the
    # seg-filtered scan carries a PartitionFilter (file-level pruning —
    # historical segments are never listed into tasks)
    pruned = (
        spark.read.parquet(layout.resolve(idx, "blocks"))
        .filter(F.col("seg") == 2)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "seg" in plan.split("PartitionFilters")[1][:120]

    # merged dictionary == exact rebuild over all blocks
    merged = {
        r["term"]: r["df"]
        for r in spark.read.parquet(layout.resolve(idx, "dictionary")).collect()
    }
    rebuilt = {
        r["term"]: r["df"]
        for r in (
            spark.read.parquet(layout.resolve(idx, "blocks"))
            .groupBy("term").agg(F.sum("n").alias("df"))
            .collect()
        )
    }
    assert merged == rebuilt


@pytest.mark.parametrize("algo", ["bmx", "wand"])
def test_compaction_rank_identity_and_metadata_refresh(spark, base_pdf, inc_pdf, algo):
    """compact_index merges all segments to seg=0, refreshes block-max
    metadata against the current avgdl (avgdl_min resets), and stays
    rank-identical to the full-corpus oracle."""
    import os

    from pyspark.sql import functions as F

    table = tempfile.mkdtemp(prefix="dps_cmp_tbl_")
    idx = tempfile.mkdtemp(prefix="dps_cmp_idx_")
    snap.append_snapshot(spark.createDataFrame(base_pdf), table)
    snap.append_snapshot(spark.createDataFrame(inc_pdf), table)
    ib.build_index(spark, snap.read_snapshot(spark, table, 1), idx,
                   n_shards=4, snapshot_id=1)
    ib.build_index(spark, snap.read_incremental(spark, table, 1), idx,
                   n_shards=4, snapshot_id=2, incremental=True)
    pre = load_stats(idx)
    assert pre["avgdl"] > pre["avgdl_min"]

    ib.compact_index(spark, idx)
    post = load_stats(idx)
    assert post["avgdl_min"] == post["avgdl"]  # staleness cleared
    segs = (
        spark.read.parquet(layout.resolve(idx, "blocks"))
        .select("seg").distinct().collect()
    )
    # ONE merged segment, under a FRESH id (> every pre-merge snapshot,
    # so stale tombstones can never apply to it)
    assert {r["seg"] for r in segs} == {post["snapshot_id"]}
    assert post["snapshot_id"] > pre["snapshot_id"]

    full = pd.concat([base_pdf, inc_pdf], ignore_index=True)
    doc_ids = full.conv_id.str.slice(5).astype(int) * STRIDE + full.turn_idx
    oidx = oracle.build_index(list(zip(doc_ids, full.text)))
    qpdf = pd.DataFrame(generate_queries(25))
    orc = pd.DataFrame(
        oracle.score_queries(oidx, list(qpdf.itertuples(index=False, name=None)))
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)
    got = (
        engine.score_topk(spark, idx, spark.createDataFrame(qpdf), algo=algo)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(orc)
    assert (got.doc_id.values == orc.doc_id.values).all()
    assert (abs(got.score.values - orc.score.values) < 1e-9).all()

    # dictionary untouched: df identical to a rebuild over merged blocks
    d1 = {r["term"]: r["df"] for r in
          spark.read.parquet(layout.resolve(idx, "dictionary")).collect()}
    d2 = {r["term"]: r["df"] for r in (
        spark.read.parquet(layout.resolve(idx, "blocks"))
        .groupBy("term").agg(F.sum("n").alias("df")).collect())}
    assert d1 == d2
