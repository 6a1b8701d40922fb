"""Snapshot/restore (index/backup.py): restored indexes answer queries
identically to the index at snapshot time; re-snapshots are
incremental; digest verification fails loud; GC keeps shared blobs."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import backup
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import tombstones as tomb
from data_prepper_spark.query import facets

N_CONVS = 60


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bk")
    d = str(root / "idx")
    pdf = generate_pandas(0, N_CONVS)
    ib.build_index(spark, spark.createDataFrame(pdf), d, n_shards=2,
                   block_size=16)
    return d, str(root / "repo"), root


def _matches(spark, d) -> pd.DataFrame:
    q = spark.createDataFrame(
        [("q1", "error timeout"), ("q2", "deploy retry")],
        "query_id string, query_text string",
    )
    return (
        facets.match_docs(spark, d, q)
        .toPandas().sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    )


def test_snapshot_restore_identity_and_incremental(spark, env, tmp_path):
    d, repo, _ = env
    before = _matches(spark, d)
    r1 = backup.create_snapshot(d, repo, "snap1")
    # identical files (_SUCCESS markers, ...) dedupe to shared blobs
    assert 0 < r1["new_blobs"] <= r1["files"]

    # mutate the index: tombstone two conversations
    tomb.delete_conversations(spark, d, [0, 1])
    after = _matches(spark, d)
    assert len(after) < len(before)

    r2 = backup.create_snapshot(d, repo, "snap2")
    # incremental: only the tombstone artifact's files are new — not a
    # full copy of the index
    tomb_files = sum(len(files) for _r, _d, files in
                     os.walk(os.path.join(d, "tombstones")))
    assert 0 < r2["new_blobs"] <= tomb_files < r1["files"]
    assert r2["files"] == r1["files"] + tomb_files

    t1 = str(tmp_path / "restore1")
    backup.restore_snapshot(repo, "snap1", t1)
    pd.testing.assert_frame_equal(_matches(spark, t1), before)

    t2 = str(tmp_path / "restore2")
    backup.restore_snapshot(repo, "snap2", t2)
    pd.testing.assert_frame_equal(_matches(spark, t2), after)

    tomb.clear_tombstones(d)


def test_snapshot_name_collision_and_nonempty_target(spark, env, tmp_path):
    d, repo, _ = env
    with pytest.raises(FileExistsError):
        backup.create_snapshot(d, repo, "snap1")
    tgt = tmp_path / "occupied"
    tgt.mkdir()
    (tgt / "x").write_text("hi")
    with pytest.raises(FileExistsError):
        backup.restore_snapshot(repo, "snap1", str(tgt))


def test_list_delete_gc(spark, env, tmp_path):
    d, repo, _ = env
    names = [s["name"] for s in backup.list_snapshots(repo)]
    assert names == ["snap1", "snap2"]
    blob_dir = os.path.join(repo, "blobs")
    n_before = len(os.listdir(blob_dir))
    res = backup.delete_snapshot(repo, "snap2")
    # snap2's extra blobs (tombstones) gone; shared blobs survive
    assert res["blobs_removed"] >= 1
    assert len(os.listdir(blob_dir)) == n_before - res["blobs_removed"]
    t1 = str(tmp_path / "after_gc")
    backup.restore_snapshot(repo, "snap1", t1)
    assert len(_matches(spark, t1)) > 0


def test_digest_verification_fails_loud(spark, env, tmp_path):
    d, repo, _ = env
    import json as _json

    with open(os.path.join(repo, "snapshots", "snap1.json")) as f:
        man = _json.load(f)["files"]
    victim = next(v["blob"] for v in man.values() if v["size"] > 0)
    path = os.path.join(repo, "blobs", victim)
    data = open(path, "rb").read()
    with open(path, "wb") as f:
        f.write(b"\x00" + data[1:])
    with pytest.raises(IOError):
        backup.restore_snapshot(repo, "snap1", str(tmp_path / "corrupt"))
    with open(path, "wb") as f:
        f.write(data)
