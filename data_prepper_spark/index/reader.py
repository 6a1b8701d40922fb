"""IndexReader: everything a query needs to know about one index dir.

Every module that reads an index's state — score_topk and its siblings
in query/, expansion, suggestions, term vectors, the CLI, the
integrity checker, rollover, streaming and reindex — opens ONE reader
per call (or calls ``load_stats``) and takes the index state from it:

- eagerly: ``stats.json`` (corpus statistics n_docs / avgdl, the
  tokenizer mode, the shard count), and the values derived from it;
- lazily, on first use: the tombstones, the blocks, the dictionary and
  the convmap DataFrames, and the dictionary slice (``df_slice``) of a
  term list. ``postings`` is the blocks scan for whole-shard readers
  (check_index, compact_index, the stats CLI);
- on the driver: ``block_table``, the pruned blocks rows of a term list
  as a pyarrow Table, which ``query.engine.scatter`` scores in-process
  when the input is small (``block_estimate`` sizes it from stats.json
  and a dictionary slice).

The reader runs no Spark job of its own: the blocks scan carries an
explicit schema (a pre-segment index's null ``seg`` reads as 0), and
``stats.json``, the pointer files, the driver-small tombstones, the
dictionary slice and a small request's pruned blocks are read on the
driver with pyarrow
(``layout.read_text`` / ``layout.read_table``), through the filesystem
the path names: an index named by a URI (``file://``, ``s3://``,
``hdfs://``) reads like a local one. Nothing read or decoded outlives
the call: a reader is not cached across calls, and the kernels memoize
decoded blocks in a dict that lives for one kernel call, so an index
rebuilt or mutated in place is never served stale.
"""

from __future__ import annotations

import json
import os
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index import layout, tombstones
from data_prepper_spark.index.build import BLOCK_SCHEMA


# blocks-table projections, one per kernel family: explicit, so the
# streams a kernel never reads — above all the position stream `poss`,
# roughly half the block bytes — never reach the scan (ReadSchema)
COUNT_COLS = ("shard", "seg", "term", "block_ord", "first_doc", "gaps")
MATCH_COLS = COUNT_COLS[:5] + ("last_doc", "gaps", "tfs", "dls")
SCORE_COLS = MATCH_COLS + ("max_partial",)
POS_COLS = MATCH_COLS + ("poss",)


def load_stats(index_dir: str) -> dict:
    """The index's stats.json. Raises FileNotFoundError when absent."""
    return json.loads(layout.read_text(os.path.join(index_dir, "stats.json")))


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = load_stats(index_dir)
        self.mode = self.stats.get("tokenizer", "ascii")
        self.n_docs = self.stats["n_docs"]
        self.avgdl = self.stats["avgdl"]

    def require_positions(self, what: str) -> None:
        if not self.stats.get("positions", False):
            raise ValueError(
                f"index at {self.index_dir} was built without positions "
                f"(store_positions=False) — cannot {what}")

    @property
    def ub_scale(self) -> float:
        """Scale for block-max bounds written under an older avgdl
        (incremental builds, see build_index). Read only once there are
        blocks: an empty corpus has avgdl 0."""
        return max(1.0, self.avgdl / self.stats.get("avgdl_min", self.avgdl))

    @property
    def empty(self) -> bool:
        """No blocks were ever written."""
        return not layout.exists(layout.resolve(self.index_dir, "blocks"))

    @cached_property
    def tomb(self) -> tombstones.Tombstones | None:
        return tombstones.load_tombstones(self.spark, self.index_dir)

    @cached_property
    def blocks(self) -> DataFrame:
        return self.spark.read.schema(BLOCK_SCHEMA).parquet(
            layout.resolve(self.index_dir, "blocks"),
        ).withColumn("seg", F.coalesce("seg", F.lit(0).cast("long")))

    @property
    def postings(self) -> DataFrame:
        """The blocks scan for readers of whole shards: without the
        per-shard metrics rows (block_ord -1) that indexes built by
        older versions of build_index carry. Term-filtered scans never
        match those rows."""
        return self.blocks.filter(F.col("block_ord") >= 0)

    @cached_property
    def dictionary(self) -> DataFrame:
        return self.spark.read.parquet(
            layout.resolve(self.index_dir, "dictionary"))

    @cached_property
    def convmap(self) -> DataFrame:
        """(conv_id, serial) of a convmap-scheme index."""
        return self.spark.read.parquet(
            layout.resolve(self.index_dir, "convmap"))

    def block_table(self, terms: list[str], cols: tuple):
        """The `cols` of the blocks rows of `terms`, read on the driver
        with pyarrow as one pyarrow Table: the scan `scatter` runs on
        Spark, for a pruned input small enough to score in-process.
        The hive `shard`/`seg` directories are the partition columns,
        `term IN (...)` is pushed into the dataset filter (row-group
        pruning on the term sort order), only `cols` are read, and a
        pre-segment layout's absent `seg` reads as 0, as in `blocks`."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        fs, path = layout._filesystem(
            layout.resolve(self.index_dir, "blocks"))
        part = ds.partitioning(
            pa.schema([("shard", pa.int32()), ("seg", pa.int64())]),
            flavor="hive")
        t = ds.dataset(path, filesystem=fs, format="parquet",
                       partitioning=part).to_table(
            columns=list(cols), filter=ds.field("term").isin(terms))
        if "seg" in cols and t.column("seg").null_count:
            t = t.set_column(t.schema.get_field_index("seg"), "seg",
                             pc.fill_null(t.column("seg"), 0))
        return t

    def block_estimate(self, dfs: dict[str, int]) -> int:
        """The blocks rows a scan of the terms of a dictionary slice
        {term: df} reads, estimated from stats.json alone: a term's
        postings fill ceil(df / block_size) blocks, plus at most one
        part-filled block per shard."""
        bs, n_shards = int(self.stats.get("block_size", 128)), \
            int(self.stats["n_shards"])
        return sum(-(-int(df) // bs) + n_shards for df in dfs.values())

    def df_slice(self, terms: list[str]) -> dict[str, int]:
        """{term: global df} for the terms the dictionary holds."""
        if not terms:
            return {}
        t = layout.read_table(layout.resolve(self.index_dir, "dictionary"),
                              ["term", "df"], [("term", "in", list(terms))])
        return dict(zip(t.column("term").to_pylist(),
                        t.column("df").to_pylist()))
