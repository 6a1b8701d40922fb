"""The build's passes and what they leave behind.

A fresh build of a conv-N corpus is one narrow corpus agg (the id
scheme) and one job chain: the SPIMI kernel stage at the session's
shuffle width, whose kernels write the blocks files themselves, and the
dictionary summed from their df partials. An incremental append and an
external-id fresh build run the chain without the agg. stats.json and
the manifest rows come from the per-shard metrics the kernel reports
through an accumulator, so the blocks table holds postings only and the
manifest is exact. Indexes written by older builds, whose blocks carry
one metrics row per (shard, seg), stay readable, checkable and
compactable.

Pinned here: the Spark jobs of a fresh build, of an incremental append,
of an external-id fresh build, of an upsert and of a delete by conv_id
(whose id frame is a LocalRelation), the kernel stage's task count,
postings-only blocks and an exact manifest after a fresh build, a
crash-and-resume, an upsert and a compaction, and the old layout under
check_index, compact_index and score_topk."""

from __future__ import annotations

import itertools
import os
import shutil
import uuid

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout, tombstones
from data_prepper_spark.index.check import check_index
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

N_CONVS = 150
N_SHARDS = 4
LEGACY_META_TERM = "\x00shard_meta"
_groups = itertools.count()


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_pandas(0, N_CONVS)


def _upsert_batch() -> pd.DataFrame:
    """20 existing conversations rewritten, 30 new ones."""
    return pd.concat([generate_pandas(40, 60, seed=7),
                      generate_pandas(N_CONVS, N_CONVS + 30)],
                     ignore_index=True)


def _jobs(spark, fn):
    """-> (fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    gid = f"build-passes-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _kernel_stage_tasks(spark, fn) -> list[int]:
    """Tasks of every stage of the SQL executions fn ran whose plan
    holds a grouped pandas kernel (FlatMapGroupsInPandas)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        lst = store.executionsList()
        return {int(lst.apply(i).executionId()): lst.apply(i)
                for i in range(lst.size())}

    bus.waitUntilEmpty()
    before = set(executions())
    fn()
    bus.waitUntilEmpty()
    tasks = []
    for i, e in executions().items():
        if i in before or "FlatMapGroupsInPandas" not in e.physicalPlanDescription():
            continue
        it = e.stages().iterator()
        while it.hasNext():
            info = spark.sparkContext.statusTracker().getStageInfo(int(it.next()))
            tasks.append(info.numTasks)
    return tasks


def _blocks(spark, d):
    return spark.read.parquet(layout.resolve(d, "blocks"))


def _manifest(d) -> pd.DataFrame:
    return pq.read_table(os.path.join(d, "manifest")).to_pandas()


def _dictionary(d) -> dict[str, int]:
    t = pq.read_table(layout.resolve(d, "dictionary")).to_pandas()
    return dict(zip(t["term"], t["df"].astype(int)))


def _assert_postings_only(spark, d):
    bad = _blocks(spark, d).filter((F.col("block_ord") < 0) | (F.col("n") < 1))
    assert bad.count() == 0


def _assert_one_done_row_per_built_shard(spark, d):
    """Every (segment, shard) a build wrote blocks for has exactly one
    `done` row in the manifest, under that snapshot id."""
    m = _manifest(d)
    assert (m["status"] == "done").all()
    assert not m.duplicated(["snapshot_id", "shard"]).any()
    built = {(int(r["seg"]), int(r["shard"])) for r in
             _blocks(spark, d).select("seg", "shard").distinct().collect()}
    assert set(zip(m["snapshot_id"].astype(int), m["shard"].astype(int))) \
        == built


def test_fresh_build_and_upsert_job_counts(spark, corpus_pdf, tmp_path):
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(corpus_pdf)
    _stats, jobs = _jobs(spark, lambda: ib.build_index(
        spark, corpus, d, n_shards=N_SHARDS, block_size=16))
    # id-scheme agg (2), then one chain (3): the exchange to the kernel,
    # the kernel stage (it writes the blocks) and its df partials' sum,
    # the dictionary; stats.json and the manifest are written on the
    # driver
    assert jobs <= 5
    # the upsert's id check, serial ranges and tombstones, then an
    # incremental build (the kernel chain, whose output merges into the
    # old dictionary; no stats pass: stats.json comes from the kernel's
    # token counts)
    batch = spark.createDataFrame(_upsert_batch())
    _stats, jobs = _jobs(spark, lambda: ib.upsert_conversations(
        spark, batch, d, snapshot_id=1))
    assert jobs <= 13
    # one chain (3): the exchange, the merge kernel stage (it writes the
    # blocks) and the dictionary summed from its df partials
    _stats, jobs = _jobs(spark, lambda: ib.compact_index(spark, d))
    assert jobs <= 3


def test_append_and_external_id_job_counts(spark, corpus_pdf, tmp_path):
    """Neither an incremental append nor a fresh build of external ids
    runs a pass before the kernel chain: the append takes n_docs and
    avgdl from the kernel's token counts and its id scheme from
    stats.json, and external ids need no id scheme."""
    d = str(tmp_path / "idx")
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d,
                   n_shards=N_SHARDS, block_size=16)
    more = spark.createDataFrame(generate_pandas(N_CONVS, N_CONVS + 30))
    _stats, jobs = _jobs(spark, lambda: ib.build_index(
        spark, more, d, n_shards=N_SHARDS, block_size=16, incremental=True,
        snapshot_id=1))
    # the chain (3), and the schema read of the old dictionary
    assert jobs <= 4
    ext = spark.createDataFrame(corpus_pdf.assign(
        doc_id=range(len(corpus_pdf)))[["doc_id", "text"]])
    _stats, jobs = _jobs(spark, lambda: ib.build_index(
        spark, ext, str(tmp_path / "ext"), n_shards=N_SHARDS, block_size=16,
        assign_ids=False))
    assert jobs <= 3


def test_kernel_stage_runs_at_shuffle_width(spark, corpus_pdf, tmp_path):
    """More shards than shuffle partitions: the kernel stage still runs
    one task per shuffle partition, each holding several shards."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_shards = 4 * width
    tasks = _kernel_stage_tasks(spark, lambda: ib.build_index(
        spark, spark.createDataFrame(corpus_pdf).coalesce(2),
        str(tmp_path / "idx"), n_shards=n_shards, block_size=16))
    assert tasks and max(tasks) <= width
    m = _manifest(str(tmp_path / "idx"))
    assert sorted(m["shard"]) == list(range(n_shards))


def test_fresh_build_manifest_is_exact(spark, corpus_pdf, tmp_path):
    d = str(tmp_path / "idx")
    stats = ib.build_index(spark, spark.createDataFrame(corpus_pdf), d,
                           n_shards=N_SHARDS, block_size=16)
    _assert_postings_only(spark, d)
    _assert_one_done_row_per_built_shard(spark, d)
    m = _manifest(d)
    assert sorted(m["shard"]) == list(range(N_SHARDS))
    assert m["rows"].sum() == stats["n_docs"] == len(corpus_pdf)
    assert m["n_postings"].sum() == sum(_dictionary(d).values())


def test_crash_and_resume_manifest_is_exact(spark, corpus_pdf, tmp_path):
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(corpus_pdf)
    ib.build_index(spark, corpus, d, n_shards=N_SHARDS, block_size=16,
                   shards_subset=[0, 2])
    assert sorted(_manifest(d)["shard"]) == [0, 2]
    _assert_postings_only(spark, d)
    _assert_one_done_row_per_built_shard(spark, d)
    stats = ib.build_index(spark, corpus, d, n_shards=N_SHARDS, block_size=16,
                           resume=True)
    _assert_postings_only(spark, d)
    _assert_one_done_row_per_built_shard(spark, d)
    m = _manifest(d)
    assert sorted(m["shard"]) == list(range(N_SHARDS))
    assert m["rows"].sum() == stats["n_docs"] == len(corpus_pdf)
    assert m["n_postings"].sum() == sum(_dictionary(d).values())
    assert check_index(spark, d)["ok"]


def test_upsert_and_compaction_leave_postings_only(spark, corpus_pdf,
                                                   tmp_path):
    d = str(tmp_path / "idx")
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d,
                   n_shards=N_SHARDS, block_size=16)
    batch = _upsert_batch()
    ib.upsert_conversations(spark, spark.createDataFrame(batch), d,
                            snapshot_id=1)
    _assert_postings_only(spark, d)
    _assert_one_done_row_per_built_shard(spark, d)
    new = _manifest(d).query("snapshot_id == 1")
    assert new["rows"].sum() == len(batch)
    manifest = _manifest(d)

    stats = ib.compact_index(spark, d)
    _assert_postings_only(spark, d)
    # compaction writes blocks under a fresh segment id and no manifest
    assert _manifest(d).equals(manifest)
    assert {r["seg"] for r in _blocks(spark, d).select("seg").distinct()
            .collect()} == {stats["snapshot_id"]}
    live = pd.concat([corpus_pdf[~corpus_pdf.conv_id.isin(batch.conv_id)],
                      batch], ignore_index=True)
    assert stats["n_docs"] == len(live)
    assert check_index(spark, d)["ok"]


def test_shard_metrics_merge_by_shard(spark):
    """A retried task re-reports its shard: one entry, not two."""
    m = {"n_docs": 3, "n_postings": 10}
    acc = spark.sparkContext.accumulator({}, ib.ShardMetrics())
    acc.add({5: m})
    acc.add({5: m})
    acc.add({6: m})
    assert ib.ShardMetrics.drain(acc) == {5: m, 6: m}
    assert acc.value == {}


# ------------------------------------------------ indexes of older builds

def _ids(pdf: pd.DataFrame) -> pd.Series:
    return pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx


@pytest.fixture(scope="module")
def legacy_meta_index(spark, corpus_pdf, tmp_path_factory):
    """An index in the layout older builds wrote: each (shard, seg) of
    the blocks table carries one metrics row (term "\\x00shard_meta",
    block_ord -1, the metrics json in `gaps`)."""
    d = str(tmp_path_factory.mktemp("legacy_meta"))
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d,
                   n_shards=N_SHARDS, block_size=16)
    blocks = layout.resolve(d, "blocks")
    b = spark.read.parquet(blocks)
    meta = b.groupBy("shard", "seg").agg(F.sum("n").alias("n_postings")).select(
        "shard", "seg", F.lit(LEGACY_META_TERM).alias("term"),
        F.lit(-1).alias("block_ord"), F.lit(0).cast("long").alias("first_doc"),
        F.lit(0).cast("long").alias("last_doc"), F.lit(0).alias("n"),
        F.to_json(F.struct("n_postings")).cast("binary").alias("gaps"),
        *(F.lit(b"").alias(c) for c in ("tfs", "dls", "poss")),
        F.lit(0.0).alias("max_partial"))
    tmp = os.path.join(d, "_blocks_meta")
    b.unionByName(meta).write.partitionBy("shard", "seg").parquet(tmp)
    shutil.rmtree(blocks)
    os.rename(tmp, blocks)
    assert spark.read.parquet(blocks).filter(F.col("block_ord") < 0) \
        .count() == N_SHARDS
    return d


def _topk(spark, d, qpdf) -> pd.DataFrame:
    return (engine.score_topk(spark, d, spark.createDataFrame(qpdf))
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True))


def test_legacy_meta_rows_check_ok(spark, legacy_meta_index, corpus_pdf):
    rep = check_index(spark, legacy_meta_index)
    assert rep["ok"], rep
    assert rep["docs_seen"] == len(corpus_pdf)


def test_legacy_meta_rows_score_like_oracle(spark, legacy_meta_index,
                                            corpus_pdf):
    oidx = oracle.build_index(list(zip(_ids(corpus_pdf), corpus_pdf.text)))
    qpdf = generate_queries(20)
    want = pd.DataFrame(oracle.score_queries(
        oidx, list(qpdf.itertuples(index=False, name=None)))) \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    got = _topk(spark, legacy_meta_index, qpdf)
    assert len(want) and list(got.doc_id) == list(want.doc_id)
    assert (abs(got.score - want.score) < 1e-9).all()


def test_legacy_meta_rows_compact_like_fresh_build(spark, legacy_meta_index,
                                                   corpus_pdf, tmp_path):
    d = str(tmp_path / "legacy")
    shutil.copytree(legacy_meta_index, d)
    convs = sorted(corpus_pdf.conv_id.unique())
    gone = [convs[i] for i in (5, 33, 71, 120)]
    ib.delete_conversations_by_id(spark, d, gone)
    stats = ib.compact_index(spark, d)
    _assert_postings_only(spark, d)

    fresh = str(tmp_path / "fresh")
    survivors = corpus_pdf[~corpus_pdf.conv_id.isin(gone)]
    want = ib.build_index(spark, spark.createDataFrame(survivors), fresh,
                          n_shards=N_SHARDS, block_size=16)
    assert stats["n_docs"] == want["n_docs"] == len(survivors)
    assert abs(stats["avgdl"] - want["avgdl"]) < 1e-9
    assert _dictionary(d) == _dictionary(fresh)
    qpdf = generate_queries(20)
    got, ref = _topk(spark, d, qpdf), _topk(spark, fresh, qpdf)
    assert len(ref) and list(got.doc_id) == list(ref.doc_id)
    assert (abs(got.score - ref.score) < 1e-9).all()


def _uuid(conv_id: str) -> str:
    return str(uuid.uuid5(uuid.NAMESPACE_URL, conv_id))


@pytest.mark.parametrize("scheme", ["arith", "convmap"])
def test_delete_by_conv_id_frame_is_local(spark, corpus_pdf, tmp_path,
                                          monkeypatch, scheme):
    """delete_conversations_by_id turns its conv_ids into a frame the
    optimizer sees as a LocalRelation (a pandas frame through Arrow, no
    Python tasks), and tombstones the same doc_id ranges as a frame
    built from a list of rows, under either id scheme."""
    pdf = corpus_pdf if scheme == "arith" else \
        corpus_pdf.assign(conv_id=corpus_pdf.conv_id.map(_uuid))
    d = str(tmp_path / "idx")
    stats = ib.build_index(spark, spark.createDataFrame(pdf), d,
                           n_shards=N_SHARDS, block_size=16)
    assert stats["id_scheme"] == scheme
    convs = sorted(pdf.conv_id.unique())
    victims = [convs[i] for i in (3, 4, 5, 40)] + ["never-seen"]
    want = sorted(ib.serials_to_ranges(ib.resolve_conv_serials(
        spark, d, spark.createDataFrame([(c,) for c in victims],
                                        "conv_id string"), scheme)))
    assert len(want) == 2

    plans, written = [], []
    resolve, write = ib.resolve_conv_serials, tombstones.write_tombstones

    def spy_resolve(spark_, d_, df, scheme_):
        plans.append(df._jdf.queryExecution().optimizedPlan()
                     .getClass().getSimpleName())
        return resolve(spark_, d_, df, scheme_)

    def spy_write(spark_, d_, ranges, *a, **k):
        written.append(sorted(ranges))
        return write(spark_, d_, ranges, *a, **k)

    monkeypatch.setattr(ib, "resolve_conv_serials", spy_resolve)
    monkeypatch.setattr(tombstones, "write_tombstones", spy_write)
    ib.delete_conversations_by_id(spark, d, victims)
    assert plans == ["LocalRelation"]
    assert written == [want]
    tomb = tombstones.load_tombstones(spark, d)
    assert sorted(zip(tomb.starts.tolist(), tomb.ends.tolist())) == want
