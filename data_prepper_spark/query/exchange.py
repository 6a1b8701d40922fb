"""Explicit-width exchange for Python-kernel inputs.

Every query kernel on Spark is `groupBy("shard").applyInArrow(...)`
over the posting-blocks scan, and so (in pandas) are the index build's
SPIMI kernel and compaction's merge kernel (index/build.py). That inserts an
ENSURE_REQUIREMENTS exchange whose width AQE sizes by SHUFFLE BYTES —
and a query's pruned block set is tiny (a few MB even over a huge
index, that's the point of the term In-filter), so AQE coalesces the
kernel stage down to one or two tasks and the CPU-heavy decode/score
kernel runs serially. Shuffle bytes are
the wrong proxy for kernel cost: a 2 MB posting slice can be hundreds
of ms of numpy work per shard.

`spread_by_shard` replaces that implicit exchange with a user-specified
`repartition(N, "shard")`: HashPartitioning(shard, N) already satisfies
the kernel's ClusteredDistribution, so no second exchange appears, and
AQE never coalesces a repartition with an explicit partition count.
Groups (shards) stay atomic — exactly what a grouped kernel needs — and
the kernel keeps shard-level parallelism no matter how small the
shuffle is. Measured: sf0.01 wand 6.2 s -> 2.5 s on local[32] (the
inverse-scaling anomaly where a 10x smaller corpus answered 2.3x
slower).

The width is the session's shuffle width, not the shard count: a task
runs the shards its partition holds one after another, and each round
trip to a Python worker costs about 220 ms of worker CPU whatever rows
it carries (pyspark 4.1, Python 3.11, 4-vCPU VM). A kernel task makes
one; a task reading a `createDataFrame(list)` makes one per
`parallelize` slice, under `coalesce(1)` too. The worker's
`importlib.invalidate_caches()` is not the cost: it and the `import
pyspark.worker` after it take 0.06 ms. A 16-shard build on 4 cores ran
its kernel stage as 16 tasks; at the shuffle width it runs 4. (A small
query input skips the exchange altogether: it is scored on the driver,
query/engine.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_by_shard(df: DataFrame, cols: tuple = ("shard",)) -> DataFrame:
    """Hash-repartition kernel input by its group key at the session's
    shuffle width, immune to AQE byte-based coalescing."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)
