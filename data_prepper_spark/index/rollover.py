"""Index rollover — the OpenSearch data-stream / ISM rollover pattern.

The reference's opensearch sink ships into ISM-managed indexes that
roll to a fresh backing index when the write index exceeds a doc or
size threshold (`plugins.index_state_management` rollover action; the
sink's index templates exist for exactly this layout). Same contract
here: a ROLLING INDEX is a directory of generation indexes

    <base>/idx-000001, <base>/idx-000002, ...

where the highest generation is the write index and QUERIES span all
generations through the existing multi-index (alias) machinery
(query/multi.py — rank-identical to one union index by construction,
union-corpus statistics). Rollover is a metadata-only decision: no
data moves, the old generation simply stops receiving writes — the
same cheap cutover ISM does.

Scale shape: each generation is an independent index (its own shards,
segments, manifest); the write path is the ordinary SPIMI build or
incremental append into ONE generation, so rollover bounds per-index
segment counts and compaction cost no matter how long the stream
runs. The policy check reads stats.json + directory byte sizes —
driver-cheap, no Spark job.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from data_prepper_spark.index.reader import load_stats

_GEN_RE = re.compile(r"^idx-(\d{6})$")


@dataclass
class RolloverPolicy:
    """ISM rollover conditions (min_doc_count / min_size analogs).
    A generation rolls when EITHER threshold is met or passed."""
    max_docs: int | None = None
    max_bytes: int | None = None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def generations(base: str) -> list[str]:
    """Sorted generation index dirs under `base` (oldest first)."""
    if not os.path.isdir(base):
        return []
    out = []
    for name in os.listdir(base):
        if _GEN_RE.match(name) and os.path.isdir(os.path.join(base, name)):
            out.append(name)
    return [os.path.join(base, n) for n in sorted(out)]


def write_index(base: str) -> str | None:
    """The current write generation (highest), or None if empty."""
    gens = generations(base)
    return gens[-1] if gens else None


def _next_gen_path(base: str) -> str:
    gens = generations(base)
    n = 1
    if gens:
        n = int(_GEN_RE.match(os.path.basename(gens[-1])).group(1)) + 1
    return os.path.join(base, f"idx-{n:06d}")


def should_rollover(index_dir: str, policy: RolloverPolicy) -> bool:
    try:
        stats = load_stats(index_dir)
    except FileNotFoundError:
        return False
    if policy.max_docs is not None and \
            int(stats.get("n_docs", 0)) >= policy.max_docs:
        return True
    if policy.max_bytes is not None and _dir_bytes(index_dir) >= policy.max_bytes:
        return True
    return False


def rollover_append(
    spark: SparkSession,
    df: DataFrame,
    base: str,
    policy: RolloverPolicy,
    n_shards: int = 8,
    block_size: int = 128,
    tokenizer: str = "ascii",
    **build_kw,
) -> str:
    """Append one batch to the rolling index: roll first if the write
    generation meets the policy (ISM checks BEFORE the write, so a
    generation may exceed the threshold by at most one batch — same
    semantics), then build into the write generation (fresh build for
    a new generation, incremental segment append otherwise). Returns
    the generation dir written."""
    from data_prepper_spark.index.build import build_index

    cur = write_index(base)
    if cur is None or should_rollover(cur, policy):
        cur = _next_gen_path(base)
        os.makedirs(cur, exist_ok=True)
        build_index(spark, df, cur, n_shards=n_shards,
                    block_size=block_size, tokenizer=tokenizer, **build_kw)
        return cur
    stats = load_stats(cur)
    build_index(
        spark, df, cur, n_shards=int(stats["n_shards"]),
        block_size=int(stats.get("block_size", block_size)),
        tokenizer=str(stats.get("tokenizer", tokenizer)),
        incremental=True,
        snapshot_id=int(stats.get("snapshot_id", 0)) + 1,
        **build_kw,
    )
    return cur


def search_all(
    spark: SparkSession, base: str, queries: DataFrame, algo: str = "bmx",
) -> DataFrame:
    """Query ACROSS every generation — the alias/data-stream read path
    (query/multi.py union-corpus statistics; rank-identical to a
    single index holding all the docs)."""
    from data_prepper_spark.query.multi import multi_index_topk

    from pyspark.sql import functions as F

    gens = generations(base)
    if not gens:
        return spark.createDataFrame(
            [],
            "query_id string, rank long, index string, doc_id long, "
            "score double",
        )
    if len(gens) == 1:
        from data_prepper_spark.query.engine import score_topk

        return score_topk(spark, gens[0], queries, algo).select(
            "query_id", "rank", F.lit(gens[0]).alias("index"),
            "doc_id", "score",
        )
    return multi_index_topk(spark, gens, queries, algo)
