"""Streaming corpus admission — the foreachBatch version of
dedup/bloom.py's incremental contract: each micro-batch is deduped
within itself (keep-first on normalized text) and against everything
admitted by EARLIER batches, then its own digests + a bloom slice
join the state so later batches dedupe against it.

State layout (all plain parquet under `state_dir`, every table
partitioned by batch_id):

    state_dir/admitted/batch_id=N/   the rows this batch admitted
    state_dir/digests/batch_id=N/    md5(normalized text) per admitted row
    state_dir/bloom/batch_id=N/      one bloom slice over those digests

Exactly-once under foreachBatch replay: every write is an OVERWRITE
of the batch's own partition directory (idempotent-batchId — the
same mechanism the index sink uses via its atomic manifest), and
every state READ filters `batch_id < current` (partition-pruned), so
a replayed batch N sees exactly the state it saw the first time and
rewrites byte-identical outputs instead of self-duplicating.

Cost per batch at scale: the batch shuffles only 16-byte digests for
its own dedup; the cross-batch check probes the bloom slices (a
cogroup against KB-sized bitmaps) and anti-joins prior digests for
ONLY the bloom-positive sliver — the same ~1% corpus-touch economics
as the batch-mode dedup_incremental.

`coalesce_bloom_slices` is the compaction analog: OR-folding
same-shape slices is lossless, so history can be folded into one
slice per partition whenever the slice count grows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.dedup import bloom as bl
from data_prepper_spark.dedup.dedup import normalize_text
from data_prepper_spark.index import layout

N_PARTITIONS = 64


def _read_state(spark: SparkSession, path: str, epoch: int,
                schema: str) -> DataFrame:
    """All state partitions with batch_id < epoch (partition-pruned);
    empty frame with the right schema when none exist yet."""
    if layout.exists(path):
        df = spark.read.option("basePath", path).parquet(path)
        return df.filter(F.col("batch_id") < epoch)
    return spark.createDataFrame([], schema + ", batch_id long")


def admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpr: float = 0.01,
) -> DataFrame:
    """The foreachBatch body: dedup `batch_df` within itself and
    against all earlier batches' admitted state, persist this batch's
    admitted rows + digests + bloom slice under batch_id=N, and return
    the admitted frame. Call from a stream as

        q = (events.writeStream.foreachBatch(
                lambda df, bid: admit_batch(df, bid, STATE))
             .option("checkpointLocation", ckpt).start())
    """
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    epoch = int(batch_id)

    # within-batch keep-first on normalized text (smallest id wins)
    ranked = (
        batch_df.withColumn("_digest", F.md5(normalize_text(text_col)))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_digest").orderBy(F.asc(id_col))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # cross-batch: probe prior bloom slices, anti-join prior digests
    # for the positive sliver only
    bloom_path = os.path.join(state_dir, "bloom")
    dig_path = os.path.join(state_dir, "digests")
    prior_bloom = _read_state(spark, bloom_path, epoch, bl.BLOOM_SCHEMA)
    if prior_bloom.rdd.isEmpty():
        admitted = ranked
    else:
        verdict = bl.probe_bloom(
            ranked, prior_bloom.drop("batch_id"), text_col, id_col,
            n_partitions=N_PARTITIONS,
        )
        flagged = ranked.join(verdict, id_col)
        clean = flagged.filter(~F.col("maybe_dup")).drop("maybe_dup")
        suspect = flagged.filter(F.col("maybe_dup")).drop("maybe_dup")
        prior_digests = _read_state(
            spark, dig_path, epoch, "_digest string"
        ).select("_digest").distinct()
        survivors = suspect.join(prior_digests, "_digest", "left_anti")
        admitted = clean.unionByName(survivors)

    admitted = admitted.persist()
    out_cols = [c for c in batch_df.columns]

    # idempotent-batchId writes: each table overwrites ONLY its own
    # batch_id=N subdirectory
    admitted.select(*out_cols).write.mode("overwrite").parquet(
        os.path.join(state_dir, "admitted", f"batch_id={epoch}")
    )
    admitted.select("_digest").write.mode("overwrite").parquet(
        os.path.join(dig_path, f"batch_id={epoch}")
    )
    slice_df = bl.build_bloom(
        admitted.select(id_col, text_col), text_col,
        fpr=fpr, n_partitions=N_PARTITIONS,
    )
    slice_df.write.mode("overwrite").parquet(
        os.path.join(bloom_path, f"batch_id={epoch}")
    )
    result = admitted.select(*out_cols)
    admitted.unpersist()
    return result


def admitted_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """Everything admitted so far, across all batches."""
    return spark.read.option(
        "basePath", os.path.join(state_dir, "admitted")
    ).parquet(os.path.join(state_dir, "admitted"))


def coalesce_bloom_slices(slices: DataFrame) -> DataFrame:
    """OR-fold many same-modulus bloom slices into one slice per
    partition (lossless — a bloom union is the bitwise OR of its
    members when n_bits/n_hashes agree; differently-sized slices stay
    separate rows, which probe_bloom handles by per-row testing)."""

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for (n_bits, k, npart), grp in pdf.groupby(
            ["n_bits", "n_hashes", "n_partitions"]
        ):
            acc = np.zeros(int(n_bits) // 8, dtype=np.uint8)
            for buf in grp["bitmap"]:
                acc |= np.frombuffer(buf, dtype=np.uint8)
            out.append({
                "part": int(grp["part"].iloc[0]),
                "bitmap": acc.tobytes(),
                "n_bits": int(n_bits),
                "n_hashes": int(k),
                "n_items": int(grp["n_items"].sum()),
                "n_partitions": int(npart),
            })
        return pd.DataFrame(out)

    return slices.groupBy("part").applyInPandas(_fold, bl.BLOOM_SCHEMA)
