"""Incremental corpus dedup via partitioned Bloom filters.

The problem at 10^12 turns: deduping a NEW snapshot (a day's crawl, an
incremental Iceberg snapshot) against the EXISTING corpus with an
anti-join re-shuffles the full corpus digest set every time — at 100 TB
that is a ~10 TB shuffle to admit a 0.1 TB increment. The standard
scale answer (used by web-crawl pipelines; Bloom 1970, Kirsch &
Mitzenmacher 2006 double hashing) is a persisted, hash-partitioned
Bloom filter over the corpus digests:

- **build once** (one scan of corpus digests, map-side partitioned):
  P independent bitmaps, each covering one hash-range slice of the
  digest space, written as a tiny parquet table
  ``(part, bitmap, n_bits, n_hashes, n_items)``. At 1% FPR the filter
  is ~1.2 bytes/doc — 1.2 TB for 10^12 docs, i.e. ~300 MB per part at
  P=4096, each loaded by exactly one task;
- **probe per increment** (cost scales with the INCREMENT, not the
  corpus): new docs cogroup with their bloom slice on ``part`` —
  bloom-negative rows are DEFINITELY new (no corpus access at all);
- **exactness restored**: only the bloom-positive sliver (true-dup
  rate + FPR) anti-joins the corpus digests, so `dedup_incremental`
  is exact while touching the corpus for ~1% of a naive anti-join.

Plan shape: build = one Exchange on (part) over 8-byte hash pairs +
one applyInPandas per part; probe = one cogroup Exchange of the
increment (small) and the bloom table (tiny); verify = broadcast-or
shuffled anti-join of ONLY the positive subset. Partitioning on the
digest itself is uniform by construction — no skew handling needed.

Reference analog: Data Prepper dedupes at the event level inside an
aggregation window (`aggregate/actions/RemoveDuplicatesAggregateAction
.java`); this module is the corpus-scale, cross-snapshot version of
the same contract.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_prepper_spark.dedup.dedup import normalize_text

BLOOM_SCHEMA = (
    "part int, bitmap binary, n_bits long, n_hashes int, n_items long, "
    "n_partitions int"
)


def _hash_cols(df: DataFrame, text_col: str, n_partitions: int) -> DataFrame:
    """Two independent 64-bit hashes of the normalized text + the
    bloom partition. xxhash64 is a Spark intrinsic (JVM-side, seeded);
    h2 is forced odd so the double-hash stride never degenerates."""
    norm = normalize_text(text_col)
    return (
        df.withColumn("_h1", F.xxhash64(norm))
        .withColumn("_h2", F.xxhash64(norm, F.lit(0x9E3779B9)))
        .withColumn("part", F.pmod(F.col("_h1"), F.lit(n_partitions)).cast("int"))
    )


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    """(k, n) bit positions via double hashing: (h1 + i*h2) mod n_bits."""
    u1 = h1.astype(np.uint64)
    u2 = (h2.astype(np.uint64) | np.uint64(1))
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((u1[None, :] + i * u2[None, :]) % np.uint64(n_bits)).astype(np.int64)


def bloom_params(expected_items: int, fpr: float, n_partitions: int):
    """(n_bits per partition, n_hashes) sized for `expected_items`
    spread uniformly over `n_partitions` slices."""
    per_part = max(1, math.ceil(expected_items / n_partitions))
    bits = max(64, math.ceil(-per_part * math.log(fpr) / (math.log(2) ** 2)))
    bits = ((bits + 7) // 8) * 8  # byte-align
    k = max(1, round(bits / per_part * math.log(2)))
    return bits, k


def build_bloom(
    corpus: DataFrame,
    text_col: str = "text",
    fpr: float = 0.01,
    n_partitions: int = 64,
    expected_items: int | None = None,
) -> DataFrame:
    """One bloom row per hash-range partition over the corpus's
    normalized-text digests. `expected_items` sizes the bitmaps; when
    omitted, one cheap count() job measures it (at build time the
    corpus is being scanned anyway). Persist the result with
    ``.write.parquet(...)`` — it is the reusable dedup artifact."""
    if expected_items is None:
        expected_items = corpus.count()
    n_bits, k = bloom_params(expected_items, fpr, n_partitions)

    hashed = _hash_cols(corpus, text_col, n_partitions).select(
        "part", "_h1", "_h2"
    )

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
        pos = _positions(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), k, n_bits)
        np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {
                "part": [int(pdf["part"].iloc[0])],
                "bitmap": [bitmap.tobytes()],
                "n_bits": [n_bits],
                "n_hashes": [k],
                "n_items": [len(pdf)],
                "n_partitions": [n_partitions],
            }
        )

    return hashed.groupBy("part").applyInPandas(_fold, BLOOM_SCHEMA)


def corpus_fingerprint(corpus: DataFrame, text_col: str = "text") -> tuple[int, str]:
    """(rows, text_hash) of a corpus in one aggregate: its row count and
    the exact sum of xxhash64 over the normalized text, as a decimal
    string. Adding, removing or editing a row changes it (up to a hash
    collision); row order does not. A persisted bloom artifact records
    the fingerprint of the corpus it was built from."""
    r = corpus.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(normalize_text(text_col)).cast("decimal(38,0)"))
        .alias("text_hash"),
    ).first()
    return int(r["rows"]), str(r["text_hash"] or 0)


def probe_bloom(
    new_docs: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """-> (id_col, maybe_dup boolean). maybe_dup=False is definitive
    (the doc is NOT in the corpus); maybe_dup=True is a candidate at
    the filter's FPR. `n_partitions` defaults to the value recorded in
    the bloom artifact — pass it explicitly to skip that lookup job
    when the caller already knows it. It must be the BUILD-time
    modulus: the artifact only holds rows for partitions that had
    corpus digests, so inferring it as max(part)+1 under-counts
    whenever the top partitions happen to be empty and silently
    re-hashes every probe against the wrong slice (older artifacts
    without the column fall back to that inference, with that
    caveat)."""
    if n_partitions is None:
        if "n_partitions" in bloom.columns:
            vals = [
                r[0] for r in
                bloom.select("n_partitions").distinct().collect()
            ]
            if len(vals) != 1:
                raise ValueError(
                    "bloom slices disagree on n_partitions "
                    f"({sorted(vals)}); a union of slices is only "
                    "probe-able when all were built with the same "
                    "partition modulus"
                )
            n_partitions = int(vals[0])
        else:  # pre-fix artifact: best-effort inference
            n_partitions = bloom.agg(F.max("part")).collect()[0][0] + 1

    hashed = _hash_cols(new_docs, text_col, n_partitions).select(
        F.col(id_col).alias("_id"), "part", "_h1", "_h2"
    )

    def _test(key: tuple, probes: pd.DataFrame, blm: pd.DataFrame) -> pd.DataFrame:
        if probes.empty:
            return pd.DataFrame(
                {"_id": probes["_id"], "maybe_dup": pd.Series([], dtype=bool)}
            )
        if blm.empty:  # no corpus digests landed in this slice
            return pd.DataFrame(
                {"_id": probes["_id"], "maybe_dup": False})
        # a part may carry SEVERAL bloom rows (a union of incremental
        # slices); a doc is a candidate if ANY slice claims it, so
        # hit-test each row and OR the verdicts — valid even when
        # slices were sized differently (different n_bits/k)
        h1 = probes["_h1"].to_numpy()
        h2 = probes["_h2"].to_numpy()
        verdict = np.zeros(len(probes), dtype=bool)
        for _, row in blm.iterrows():
            bitmap = np.frombuffer(row["bitmap"], dtype=np.uint8)
            n_bits = int(row["n_bits"])
            k = int(row["n_hashes"])
            pos = _positions(h1, h2, k, n_bits)
            hit = (
                bitmap[pos >> 3]
                & (np.uint8(1) << (pos & 7).astype(np.uint8))
            ) != 0
            verdict |= hit.all(axis=0)
        return pd.DataFrame({"_id": probes["_id"], "maybe_dup": verdict})

    out_schema = f"_id {dict(new_docs.dtypes)[id_col]}, maybe_dup boolean"
    verdict = (
        hashed.groupBy("part")
        .cogroup(bloom.groupBy("part"))
        .applyInPandas(_test, out_schema)
    )
    return verdict.select(F.col("_id").alias(id_col), "maybe_dup")


def dedup_incremental(
    new_docs: DataFrame,
    bloom: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """EXACT incremental dedup: rows of `new_docs` whose normalized
    text does not occur in `corpus`, touching the corpus only for the
    bloom-positive sliver. All input columns kept.

    Cost model: bloom-negative rows (the vast majority of genuinely
    new data) short-circuit with zero corpus access; the positive
    subset (true dups + FPR of the rest) anti-joins corpus digests —
    16-byte digests shuffle, never text."""
    verdict = probe_bloom(new_docs, bloom, text_col, id_col, n_partitions)
    flagged = new_docs.join(verdict, id_col)
    clean = flagged.filter(~F.col("maybe_dup")).drop("maybe_dup")
    suspect = flagged.filter(F.col("maybe_dup")).drop("maybe_dup")
    corpus_digests = corpus.select(
        F.md5(normalize_text(text_col)).alias("_digest")
    ).distinct()
    survivors = (
        suspect.withColumn("_digest", F.md5(normalize_text(text_col)))
        .join(corpus_digests, "_digest", "left_anti")
        .drop("_digest")
    )
    return clean.unionByName(survivors)
