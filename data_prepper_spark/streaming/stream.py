"""Structured Streaming execution of the same pipeline vocabulary.

The reference is stream-native (source -> buffer -> workers -> sinks,
processing-time windows only — SURVEY.md §2.8). Here the SAME operator
functions (they are DataFrame->DataFrame) run under readStream:

    stream = spark.readStream.schema(s).json(dir)
    out = ops.grok(ops.drop_events(stream, ...), ...)
    run_routed_stream(out, routes={...}, sinks={...})

and we gain what the reference lacks: event-time windows + watermarks
for late data (`withWatermark`), exactly-once file sinks via
checkpointing (the reference needs end-to-end acks for at-least-once —
core/acknowledgements/DefaultAcknowledgementSet.java).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_prepper_spark.operators.route import route_column


def windowed_count(
    stream: DataFrame,
    identification_keys: list[str],
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """The `aggregate` processor's count action with real event-time
    semantics: watermark bounds state, late rows join their window."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *identification_keys)
        .agg(F.count(F.lit(1)).alias("count"))
    )


_DUR_UNITS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
}


def _duration_ms(s: str) -> int:
    num, unit = s.split()
    return int(float(num) * _DUR_UNITS[unit])


def stateful_aggregate(
    stream: DataFrame,
    identification_keys: list[str],
    group_duration: str = "10 seconds",
    value_col: str | None = None,
) -> DataFrame:
    """The reference `aggregate` processor's real semantics as a custom
    stateful streaming operator: events hash-group on identification
    keys, accumulate in per-group state, and the group CONCLUDES —
    emitting one summary row — when `group_duration` of processing time
    elapses (AggregateProcessor.java:100-155 conclude loop +
    AggregateGroupManager.getGroupsToConclude; the count action's output
    shape is CountAggregateAction.java:47-96).

    Spark-first mechanics: `applyInPandasWithState` with a
    ProcessingTimeTimeout plays the role of the reference's group table
    + conclude scheduler; the shuffle on identification keys replaces
    the peer-forwarder hash ring (HashRing.java:30-73). State is
    per-group O(1) (count/sum), so skewed hot groups cost no memory.
    Emits rows with the key columns, `n` (count), `value_sum`, and the
    group's first/last processing-time bounds.
    """
    import time as _time

    from pyspark.sql.streaming.state import GroupStateTimeout

    dur_ms = _duration_ms(group_duration)
    key_fields = [stream.schema[k] for k in identification_keys]
    out_cols = identification_keys + ["n", "value_sum"]
    out_schema = T.StructType(
        list(key_fields)
        + [T.StructField("n", T.LongType()), T.StructField("value_sum", T.DoubleType())]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
            T.StructField("deadline_ms", T.LongType()),
        ]
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            n, vs, _ = state.get
            state.remove()
            yield pd.DataFrame([list(key) + [n, vs]], columns=out_cols)
            return
        # the conclude DEADLINE is fixed at group start (the reference
        # concludes group_duration after groupStart regardless of ongoing
        # arrivals — AggregateGroup.shouldConcludeGroup), but Spark
        # CLEARS a group's timeout every time this function is invoked,
        # so the deadline lives in state and the timer re-arms with the
        # REMAINING duration on every batch that touches the group
        now_ms = int(_time.time() * 1000)
        if state.exists:
            n, vs, deadline = state.get
        else:
            n, vs, deadline = 0, 0.0, now_ms + dur_ms
        for pdf in pdfs:
            n += len(pdf)
            if value_col is not None:
                vs += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, vs, deadline))
        state.setTimeoutDuration(max(int(deadline - now_ms), 1))

    return stream.groupBy(*identification_keys).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def run_routed_stream(
    stream: DataFrame,
    routes: dict[str, str],
    sinks: dict[str, Callable[[DataFrame], None]],
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Routing fan-out in ONE pass per micro-batch via foreachBatch
    (the reference's Router hands each sink its route subset —
    router/Router.java:40-86). `sinks`: route name -> callable(batch_df)
    or callable(batch_df, epoch_id) — two-arg sinks receive the
    micro-batch's epoch so they can write idempotently (see
    `idempotent_file_sink`); '_default' receives unrouted rows."""
    import inspect

    tagged = route_column(stream, routes)
    wants_epoch = {
        name: len(inspect.signature(fn).parameters) >= 2
        for name, fn in sinks.items()
    }

    def fan_out(batch: DataFrame, epoch_id: int):
        batch = batch.persist()
        try:
            for name, sink in sinks.items():
                if name == "_all":
                    # route-less sink: ALL events (Router.java:56)
                    sub = batch
                elif name == "_default":
                    sub = batch.filter(F.size("_routes") == 0)
                else:
                    sub = batch.filter(F.array_contains("_routes", name))
                sub = sub.drop("_routes")
                if wants_epoch[name]:
                    sink(sub, epoch_id)
                else:
                    sink(sub)
        finally:
            batch.unpersist()

    writer = (
        tagged.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_index_sink(
    index_dir: str,
    n_shards: int = 8,
    store_positions: bool = True,
    tokenizer: str = "ascii",
):
    """Continuous indexing: a ``foreachBatch`` sink that appends each
    micro-batch of transcripts to the inverted index as ONE new segment
    (the reference's steady-state: opensearch sink bulk-indexing a
    stream, OpenSearchSink.java:347-431 — here the index IS ours).

        stream.writeStream.foreachBatch(streaming_index_sink(idx))
              .option("checkpointLocation", ckpt).start()

    Exactly-once without acks: segment ids are ``epoch_id + 1`` and the
    index's committed stats.json records the newest snapshot, so a
    REPLAYED batch (crash between index commit and checkpoint commit —
    foreachBatch's native at-least-once window) sees its own segment
    already committed and returns without writing: the same
    idempotent-batchId pattern as idempotent_file_sink, with
    stats.json as the commit marker. Every batch's build publishes
    stats.json after its segment and dictionary, so a batch that failed
    before then is built again on replay (a batch that failed between
    its dictionary flip and stats.json is refused on replay with
    IndexStateError rather than counted twice). Restarting
    with a FRESH checkpoint against an existing index raises (epochs
    would restart at 0 below the committed snapshot) instead of
    silently interleaving stale segments.

    Scale notes: each micro-batch runs the normal distributed SPIMI
    build (one shuffle, vectorized kernel) producing one segment;
    query-side block-max pruning keeps latency flat as segments
    accumulate, and ``compact_index`` (CLI ``compact``) is the
    background-merge analog that folds them back down."""
    from data_prepper_spark.index import build as ib
    from data_prepper_spark.index.reader import load_stats

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        snap = int(epoch_id) + 1
        try:
            cur = int(load_stats(index_dir).get("snapshot_id", 0))
        except FileNotFoundError:
            cur = None  # first batch: a fresh build
        if cur is not None and cur > snap:
            raise RuntimeError(
                f"streaming_index_sink: index at snapshot {cur} is "
                f"ahead of stream epoch {epoch_id} — the checkpoint "
                "was deleted or belongs to another stream; refuse "
                "to interleave stale segments"
            )
        if cur == snap:
            return  # replayed batch: segment already committed
        ib.build_index(
            batch.sparkSession, batch, index_dir, n_shards=n_shards,
            incremental=cur is not None, snapshot_id=snap,
            store_positions=store_positions, tokenizer=tokenizer,
        )

    return sink


def idempotent_file_sink(path: str, fmt: str = "parquet", **options):
    """Exactly-once file sink for foreachBatch: every micro-batch lands
    in its own ``batch_id=<epoch>`` subdirectory with mode=overwrite, so
    a replayed batch (failure between write and checkpoint commit)
    overwrites its own previous — possibly partial — output instead of
    appending duplicates. Combined with the checkpoint this upgrades the
    file sink from foreachBatch's native at-least-once to exactly-once
    (the standard Spark idempotent-batchId pattern; the reference's own
    contract is at-least-once via end-to-end acks,
    docs/end_to_end_acknowledgements.md). Read the output back with a
    plain ``spark.read.<fmt>(path)`` — ``batch_id`` surfaces as a
    partition column."""
    import os

    spark_fmt = "json" if fmt == "ndjson" else fmt

    def sink(batch: DataFrame, epoch_id: int) -> None:
        w = batch.write.mode("overwrite")
        for k, v in options.items():
            w = w.option(k, v)
        w.format(spark_fmt).save(os.path.join(path, f"batch_id={epoch_id}"))

    return sink
