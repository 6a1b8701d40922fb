"""Segment files: the SPIMI and merge kernels write their own blocks.

Each kernel call writes its shard's block rows as one parquet file,
`blocks/shard=S/seg=G/part-<S>-<G>.snappy.parquet`, with pyarrow, under
a hidden temp name and then renamed over the final one
(`build.write_segment`). Its Spark output is the shard's (term, n) df
partials, which the build sums into the dictionary.

Pinned here: a resume after a build that failed in its manifest append
rewrites each shard's segment instead of adding a second copy of it
(and removes a stray legacy-named file), the writer is idempotent, and
the files read back through Spark and through `IndexReader.block_table`
as the kernel's rows, with per-row-group `term` statistics and no more
bytes than Spark's own writer would take."""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import layout
from data_prepper_spark.index.check import check_index
from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

N_CONVS = 150
N_SHARDS = 4


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_pandas(0, N_CONVS)


def _data_files(d: str) -> dict[str, list[str]]:
    """{shard=S/seg=G dir: its parquet data files}."""
    out: dict[str, list[str]] = {}
    for seg_dir in sorted(glob.glob(os.path.join(
            layout.resolve(d, "blocks"), "shard=*", "seg=*"))):
        out[os.path.relpath(seg_dir, d)] = sorted(
            f for f in os.listdir(seg_dir) if f.endswith(".parquet")
            and not f.startswith("."))
    return out


def _dictionary(d) -> dict[str, int]:
    t = pq.read_table(layout.resolve(d, "dictionary")).to_pandas()
    return dict(zip(t["term"], t["df"].astype(int)))


def _manifest(d) -> pd.DataFrame:
    return pq.read_table(os.path.join(d, "manifest")).to_pandas()


def _oracle_topk(pdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
    ids = pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    oidx = oracle.build_index(list(zip(ids, pdf.text)))
    return pd.DataFrame(oracle.score_queries(
        oidx, list(qpdf.itertuples(index=False, name=None)))) \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)


def _topk(spark, d, qpdf) -> pd.DataFrame:
    return (engine.score_topk(spark, d, spark.createDataFrame(qpdf))
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True))


@pytest.mark.parametrize("stray", [False, True])
def test_resume_after_failed_manifest_rewrites_each_segment_once(
        spark, corpus_pdf, tmp_path, monkeypatch, stray):
    """A fresh build fails after its blocks land, in its manifest
    append, which comes after stats.json: the index is committed, and
    the manifest names no shard done. The resume must not add a second
    copy of any shard's postings (it once did: 2 files per dir, every df
    doubled)."""
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(corpus_pdf)

    def boom(*_a, **_k):
        raise RuntimeError("injected: manifest write failed")

    with monkeypatch.context() as m:
        m.setattr(layout, "append_table", boom)
        with pytest.raises(RuntimeError, match="injected"):
            ib.build_index(spark, corpus, d, n_shards=N_SHARDS, block_size=16)
    files = _data_files(d)
    assert len(files) == N_SHARDS
    assert IndexReader(spark, d).n_docs == len(corpus_pdf)
    if stray:
        # a file an older build named its own way, in a target shard's dir
        seg_dir = os.path.join(d, next(iter(files)))
        shutil.copy(os.path.join(seg_dir, files[next(iter(files))][0]),
                    os.path.join(seg_dir, "part-00000-0a1b.c000.snappy.parquet"))

    stats = ib.build_index(spark, corpus, d, n_shards=N_SHARDS, block_size=16,
                           resume=True)
    files = _data_files(d)
    assert len(files) == N_SHARDS
    assert all(len(v) == 1 for v in files.values()), files
    m = _manifest(d)
    assert sorted(m["shard"]) == list(range(N_SHARDS))
    assert m["rows"].sum() == stats["n_docs"] == len(corpus_pdf)
    assert sum(_dictionary(d).values()) == m["n_postings"].sum()
    assert check_index(spark, d)["ok"]
    qpdf = generate_queries(5)
    want, got = _oracle_topk(corpus_pdf, qpdf), _topk(spark, d, qpdf)
    assert len(want) and list(got.doc_id) == list(want.doc_id)
    assert (abs(got.score - want.score) < 1e-9).all()


def _shard_cols(n_terms: int = 40) -> dict:
    rng = np.random.default_rng(3)
    terms = sorted(f"t{i:03d}" for i in range(n_terms))
    return {
        "term": np.array(terms), "block_ord": np.zeros(n_terms, np.int32),
        "first_doc": np.arange(n_terms, dtype=np.int64),
        "last_doc": np.arange(n_terms, dtype=np.int64) + 5,
        "n": rng.integers(1, 9, n_terms).astype(np.int32),
        "gaps": [bytes(rng.integers(0, 255, 4, np.uint8)) for _ in terms],
        "tfs": [b"\x01\x02"] * n_terms, "dls": [b"\x07"] * n_terms,
        "poss": [b""] * n_terms,
        "max_partial": rng.random(n_terms),
    }


def test_write_segment_is_idempotent(tmp_path):
    """A retried task writes its shard's file again: one file is left,
    byte-equal to a single write, and no hidden temp file."""
    cols = _shard_cols()
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    p1 = ib.write_segment(once, 3, 0, cols)
    ib.write_segment(twice, 3, 0, cols)
    p2 = ib.write_segment(twice, 3, 0, cols)
    seg_dir = ib.segment_dir(twice, 3, 0)
    assert os.listdir(seg_dir) == ["part-3-0.snappy.parquet"]
    with open(os.path.join(ib.segment_dir(once, 3, 0),
                           "part-3-0.snappy.parquet"), "rb") as a, \
            open(os.path.join(seg_dir, "part-3-0.snappy.parquet"), "rb") as b:
        assert a.read() == b.read()
    # the returned df partials are the postings per term
    assert p1.equals(p2)
    assert dict(zip(p1["term"], p1["n"])) == dict(zip(cols["term"], cols["n"]))
    assert str(p1["n"].dtype) == "int64"


def test_write_segment_of_no_blocks_writes_no_file(tmp_path):
    partials = ib.write_segment(str(tmp_path), 1, 0, {
        c: [] for c in ib.BLOCK_FILE_SCHEMA.names})
    assert partials.empty and list(partials.columns) == ["term", "n"]
    assert not os.path.exists(ib.segment_dir(str(tmp_path), 1, 0))


class _Acc:
    def add(self, _value):
        pass


def test_segment_file_reads_back_as_the_kernel_rows(spark, corpus_pdf,
                                                     tmp_path, monkeypatch):
    """Spark (BLOCK_SCHEMA) and `IndexReader.block_table` read a written
    segment as the rows the kernel wrote, with BLOCK_SCHEMA's types; each
    row group keeps `term` min/max statistics for row-group pruning."""
    d = str(tmp_path / "idx")
    blocks = layout.resolve(d, "blocks")
    pdf = corpus_pdf.head(300).assign(shard=2)
    pdf = pdf.assign(doc_id=np.arange(len(pdf), dtype=np.int64))[
        ["shard", "doc_id", "conv_id", "text"]]
    written = []
    write = ib.write_segment

    def spy(*a):
        written.append(a[3])
        return write(*a)

    monkeypatch.setattr(ib, "write_segment", spy)
    partials = ib._spimi_kernel(None, 16, _Acc(), blocks, seg=5)(pdf)
    want = pd.DataFrame(written[0])
    assert len(want) > 16
    assert partials["n"].sum() == want["n"].sum()
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "stats.json"), "w") as f:
        json.dump({"n_docs": len(pdf), "avgdl": 1.0, "n_shards": 4}, f)

    types = {"shard": "int", "seg": "bigint", "term": "string",
             "block_ord": "int", "first_doc": "bigint", "last_doc": "bigint",
             "n": "int", "gaps": "binary", "tfs": "binary", "dls": "binary",
             "poss": "binary", "max_partial": "double"}
    sdf = spark.read.schema(ib.BLOCK_SCHEMA).parquet(blocks)
    assert dict(sdf.dtypes) == types
    got = sdf.toPandas()
    assert (got["shard"] == 2).all() and (got["seg"] == 5).all()
    # the file's own column types, as Spark infers them without a schema
    (path,) = glob.glob(os.path.join(ib.segment_dir(blocks, 2, 5), "*.parquet"))
    assert dict(spark.read.parquet(path).dtypes) == {
        c: t for c, t in types.items() if c not in ("shard", "seg")}

    table = IndexReader(spark, d).block_table(
        list(want["term"]), ("shard", "seg") + tuple(want.columns))
    assert table.schema.field("shard").type == "int32"
    assert table.schema.field("seg").type == "int64"
    for f in ib.BLOCK_FILE_SCHEMA:
        assert table.schema.field(f.name).type == f.type
    for rows in (got, table.to_pandas()):
        rows = rows.sort_values(["term", "block_ord"]).reset_index(drop=True)
        for c in want.columns:
            assert list(rows[c]) == list(want[c]), c

    meta = pq.ParquetFile(path).metadata
    term_col = meta.schema.names.index("term")
    start = 0
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        st = rg.column(term_col).statistics
        assert st is not None and st.has_min_max
        assert st.min == want["term"].iloc[start]
        assert st.max == want["term"].iloc[start + rg.num_rows - 1]
        start += rg.num_rows


def _bytes(path: str) -> int:
    """On-disk size, hidden files (checksums, temp files) excluded."""
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path)
               for f in files if not f.startswith("."))


def test_segment_files_are_no_larger_than_spark_written(spark, corpus_pdf,
                                                        tmp_path):
    """The index's on-disk bytes do not grow: the blocks take no more
    than the same rows written by Spark's parquet writer, one
    term-sorted file per (shard, seg), as builds used to write them.
    Both writers give the columns the same parquet types."""
    d = str(tmp_path / "idx")
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d,
                   n_shards=N_SHARDS, block_size=16)
    blocks = layout.resolve(d, "blocks")
    spark_dir = str(tmp_path / "spark_blocks")
    (spark.read.parquet(blocks).repartition(N_SHARDS, "shard")
     .sortWithinPartitions("shard", "seg", "term", "block_ord")
     .write.partitionBy("shard", "seg").parquet(spark_dir))
    assert spark.read.parquet(spark_dir).count() \
        == spark.read.parquet(blocks).count()
    assert _bytes(blocks) <= _bytes(spark_dir)
    ours = pq.read_schema(glob.glob(os.path.join(blocks, "*/*/*.parquet"))[0])
    theirs = pq.read_schema(glob.glob(os.path.join(spark_dir, "*/*/*.parquet"))[0])
    assert ours.remove_metadata().equals(theirs.remove_metadata())
