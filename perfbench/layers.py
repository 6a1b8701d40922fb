"""Per-layer instrumentation, all of it from outside the program.

* ``Tracer`` records spans (name, start, end, parent, request id) around
  the benchmark's own calls into each package module and keeps them in
  memory until the run ends.
* ``SparkStages`` groups the jobs of one call with ``setJobGroup`` and
  sums the stage metrics Spark's status store holds for them (task time,
  GC, input/output/shuffle-write bytes, failed tasks). It works with
  ``spark.ui.enabled=false``.
* ``probe_*`` functions time one module's public functions directly:
  the tokenizer, codec, query prep and the top-k kernels.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import numpy as np

MB = 1e6


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._req: str | None = None

    @contextlib.contextmanager
    def request(self, rid: str):
        """Spans opened inside share the request id ``rid``."""
        prev, self._req = self._req, rid
        try:
            yield
        finally:
            self._req = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "req": self._req,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, tuple[int, float]]:
        """name -> (count, total self seconds): a span's duration minus
        the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            n, t = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (n + 1, t + s["end"] - s["start"] - child[s["id"]])
        return out


_STAGE_FIELDS = {
    "task_s": lambda s: s.executorRunTime() / 1e3,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "input_mb": lambda s: s.inputBytes() / MB,
    "output_mb": lambda s: s.outputBytes() / MB,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / MB,
    "tasks": lambda s: s.numCompleteTasks() + s.numFailedTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
}


class SparkStages:
    """Spark counters of the jobs run inside ``measure()``, read from the
    status store once the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    @contextlib.contextmanager
    def measure(self, name: str):
        """Yields a dict that holds the counters after the block."""
        gid = f"perfbench-{name}-{self._n}"
        self._n += 1
        out: dict = {}
        self.sc.setJobGroup(gid, name)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._jsc.listenerBus().waitUntilEmpty()
            out.update(self._totals(gid))

    def _totals(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(gid)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        from py4j.protocol import Py4JJavaError

        tot = dict.fromkeys(_STAGE_FIELDS, 0.0)
        store = self._jsc.statusStore()
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, None, False, None)
            except Py4JJavaError:  # stage evicted from the store
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                for k, f in _STAGE_FIELDS.items():
                    tot[k] += f(s)
        tot["jobs"] = len(job_ids)
        return tot


def mean_of(samples: list[dict], key: str) -> float:
    return statistics.fmean(s[key] for s in samples) if samples else 0.0


# ------------------------------------------------------------------ probes

def _timed_reps(fn, min_s: float = 0.3, min_reps: int = 3) -> float:
    """Median seconds of repeated ``fn()`` calls, at least ``min_reps``
    and at least ``min_s`` in total."""
    times, t_end = [], time.perf_counter() + min_s
    while len(times) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_tokenizer(seed: int) -> float:
    """Single-thread ``tokenize_frame`` throughput, tokens/s."""
    from data_prepper_spark.data.transcripts import generate_pandas
    from data_prepper_spark.index.tokenizer import tokenize_frame

    texts = generate_pandas(0, 400, seed)["text"]
    n_tokens = len(tokenize_frame(texts)[0])
    return n_tokens / _timed_reps(lambda: tokenize_frame(texts))


def read_shard_blocks(index_dir: str, shard: int = 0):
    """One shard's posting blocks (all segments) as a pandas frame,
    read with pyarrow straight from the index files."""
    import pyarrow.dataset as ds

    from data_prepper_spark.index import layout

    path = os.path.join(layout.resolve(index_dir, "blocks"), f"shard={shard}")
    cols = ["seg", "term", "block_ord", "first_doc", "last_doc",
            "gaps", "tfs", "dls", "max_partial"]
    pdf = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=cols).to_pandas()
    return pdf[pdf["term"] != "\x00shard_meta"].sort_values(
        ["term", "seg", "block_ord"], kind="stable")


def probe_codec(blocks) -> dict:
    """Encode and decode throughput of the block codec on one shard's
    blocks: decode is ``varint_decode3`` over the stored streams (MB of
    input per s); encode is ``varint_encode_segments`` of the decoded
    values back into per-block streams (MB of output per s)."""
    from data_prepper_spark.index import codec

    triples = list(zip(blocks["gaps"], blocks["tfs"], blocks["dls"]))
    in_mb = sum(len(a) + len(b) + len(c) for a, b, c in triples) / MB

    def decode_all():
        return [codec.varint_decode3(a, b, c) for a, b, c in triples]

    decoded = decode_all()
    dec_s = _timed_reps(decode_all)
    streams = [np.concatenate([d[i] for d in decoded]) for i in range(3)]
    seg_starts = np.cumsum([0] + [len(d[0]) for d in decoded[:-1]])

    def encode_all():
        return [codec.varint_encode_segments(v, seg_starts) for v in streams]

    out_mb = sum(len(b) for parts in encode_all() for b in parts) / MB
    enc_s = _timed_reps(encode_all)
    return {"encode_mb_per_s": out_mb / enc_s, "decode_mb_per_s": in_mb / dec_s}


class CountingCache(dict):
    """TermCursor decode cache that counts blocks decoded."""

    decoded = 0

    def __setitem__(self, k, v):
        self.decoded += 1
        super().__setitem__(k, v)


def probe_kernels(index_dir: str, blocks, queries, tomb) -> dict:
    """Run ``blockmax_topk``, ``wand_topk`` and ``exhaustive_topk`` in
    this process on one shard's blocks. Returns per-query kernel times,
    the share of the query terms' blocks that block-max decoded, and the
    number of queries on which the three kernels disagree."""
    import json

    import pyarrow.parquet as pq

    from data_prepper_spark.index import layout
    from data_prepper_spark.index.tokenizer import tokenize
    from data_prepper_spark.query import wand

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    dic = pq.read_table(layout.resolve(index_dir, "dictionary")).to_pandas()
    df_of = dict(zip(dic["term"], dic["df"]))
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    ub_scale = max(1.0, avgdl / stats.get("avgdl_min", avgdl))
    by_term = {
        (t, int(s)): g for (t, s), g in blocks.groupby(["term", "seg"], sort=False)
    }
    segs_of: dict[str, list[int]] = {}
    for t, s in by_term:
        segs_of.setdefault(t, []).append(s)

    def cursors(text, cache):
        out = []
        for t in sorted(set(tokenize(text, stats.get("tokenizer", "ascii")))):
            df_t = df_of.get(t)
            for s in sorted(segs_of.get(t, [])):
                g = by_term[(t, s)]
                out.append(wand.TermCursor(
                    term=t, seg=s, avgdl=avgdl, cache=cache,
                    idf=float(np.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))),
                    firsts=g["first_doc"].to_numpy(np.int64),
                    lasts=g["last_doc"].to_numpy(np.int64),
                    maxps=g["max_partial"].to_numpy(np.float64) * ub_scale,
                    gaps=list(g["gaps"]), tfs=list(g["tfs"]), dls=list(g["dls"]),
                    tomb=tomb.for_seg(s) if tomb is not None else None,
                ))
        return out

    kernels = {"bmx": wand.blockmax_topk, "wand": wand.wand_topk,
               "exhaustive": wand.exhaustive_topk}
    secs = dict.fromkeys(kernels, 0.0)
    decoded = total_blocks = disagree = 0
    for text, k in queries:
        answers = {}
        for name, fn in kernels.items():
            cache = CountingCache()
            cs = cursors(text, cache)
            t0 = time.perf_counter()
            answers[name] = fn(cs, k)
            secs[name] += time.perf_counter() - t0
            if name == "bmx":
                decoded += cache.decoded
                total_blocks += sum(len(c.firsts) for c in cs)
        disagree += not (answers["bmx"] == answers["wand"] == answers["exhaustive"])
    n = max(len(queries), 1)
    return {
        "kernel_ms_per_query": secs["bmx"] * 1e3 / n,
        "wand_ms_per_query": secs["wand"] * 1e3 / n,
        "exhaustive_ms_per_query": secs["exhaustive"] * 1e3 / n,
        "blocks_decoded_ratio": decoded / max(total_blocks, 1),
        "disagreements": disagree,
    }


def probe_prep(requests: list[list[dict]], mode: str = "ascii") -> float:
    """Driver-side ``score_entries`` cost of one request's rows, ms."""
    from data_prepper_spark.query import prep

    def all_requests():
        for rows in requests:
            prep.score_entries(rows, mode)

    return _timed_reps(all_requests) * 1e3 / max(len(requests), 1)
