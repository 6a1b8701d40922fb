"""The two workloads: set-up, timed loop and answer checks.

``build``  fresh full index builds of a memory-persisted corpus.
``search`` closed loop, one client, one query per request, against the
           index built in set-up.

Traced ``search`` runs also apply one upsert micro-batch (a new segment
plus tombstones) to the index and query it, so the write path of a live
index and its tombstones are measured and checked too.

Both derive every input from ``--seed``; the program only receives the
generated corpus and queries.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import layers

N_CONVS = 3_000           # ~19.5k turns
N_SHARDS = 16
BLOCK_SIZE = 128
UPSERT_REINGEST = 100     # conversations the upsert micro-batch rewrites
UPSERT_NEW = 200          # conversations it adds
QUERY_POOL = 400          # generated queries; requests cycle through them
REQUEST_QUERIES = 1       # queries per `search` request
# untimed warm-up: the first build or request in a JVM costs about twice a
# warm one, and the CPU per operation keeps falling, by 5-20% from the
# second to the fourth request and from the second build to the third
WARMUP_BUILDS = 2
WARMUP_REQUESTS = 4
DIST_PREP_QUERIES = 5_001  # above prep.PREP_DISTRIBUTED_THRESHOLD


class Run:
    """State of one benchmark run: the Spark session, seed, work dir,
    instrumentation and the tallies reported at the end."""

    def __init__(self, seed: int, workdir: str, trace: bool):
        self.seed = seed
        self.workdir = workdir
        self.trace = trace
        self.tracer = layers.Tracer(trace)
        self.stages = None
        self.spark = None
        self.corpus: pd.DataFrame | None = None  # the generated corpus
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.info: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", file=sys.stderr)

    def loop_seconds(self, seconds: float) -> float:
        """A traced run spends a third of its window on the timed loop and
        the rest on the per-layer probes, so it takes about as long as an
        untraced run. Every loop makes at least two operations, so a
        traced run has a traced and an untraced one to compare."""
        return seconds / 3 if self.trace else seconds

    def traced_op(self, i: int) -> bool:
        """Traced runs alternate traced and untraced operations, so the
        tracing overhead is measured inside the same run."""
        return self.trace and i % 2 == 0


# ------------------------------------------------------------ inputs

def query_pool(seed: int) -> list[tuple[str, str, int]]:
    from data_prepper_spark.data.transcripts import generate_queries

    q = generate_queries(QUERY_POOL, seed)
    return list(q.itertuples(index=False, name=None))


def batch_of(pool: list[tuple], i: int) -> list[tuple]:
    """Request i: the next REQUEST_QUERIES queries of the pool, in
    rotation, under query ids unique to the request."""
    return [
        (f"r{i}-{j}", *pool[(i * REQUEST_QUERIES + j) % len(pool)][1:])
        for j in range(REQUEST_QUERIES)
    ]


DEAD_ID_OFFSET = 1 << 52  # oracle ids of tombstoned turns; never returned


def _doc_ids(pdf: pd.DataFrame) -> np.ndarray:
    from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

    serial = pdf["conv_id"].str.slice(5).astype(np.int64).to_numpy()
    return serial * DOC_ID_STRIDE + pdf["turn_idx"].to_numpy(np.int64)


class Oracle:
    """``oracle.bm25`` over every turn the index holds. Until compaction
    the engine scores with statistics of all generations (Lucene
    semantics: a tombstoned turn still counts in df and avgdl) and hides
    tombstoned turns from results; ``dead`` rows play that part here
    under ids no answer may contain."""

    def __init__(self, live: pd.DataFrame, dead: pd.DataFrame | None = None):
        from data_prepper_spark.oracle import bm25

        docs = list(zip(_doc_ids(live).tolist(), live["text"].tolist()))
        self.n_dead = 0 if dead is None else len(dead)
        if self.n_dead:
            docs += zip((_doc_ids(dead) + DEAD_ID_OFFSET).tolist(), dead["text"].tolist())
        self.idx = bm25.build_index(docs)

    def topk(self, text: str, k: int) -> list[tuple[int, float]]:
        from data_prepper_spark.oracle import bm25

        hits = bm25.score_query(self.idx, text, k + self.n_dead)
        return [h for h in hits if h[0] < DEAD_ID_OFFSET][:k]


def same_answer(got, want, rel: float = 1e-9) -> bool:
    """Rank-identical doc ids; scores equal to ``rel`` (an incremental
    append merges avgdl with its own float rounding)."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= rel * max(1.0, abs(ws))
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def check_answers(run: Run, oracle: Oracle, queries: list[tuple], got: dict) -> None:
    """Every (query_id, query_text, k) of ``queries`` against ``got``
    {query_id: [(doc_id, score)] in rank order}; one failure per wrong
    answer."""
    want: dict[tuple[str, int], list] = {}
    for qid, text, k in queries:
        if (text, k) not in want:
            want[(text, k)] = oracle.topk(text, k)
        if not same_answer(got[qid], want[(text, k)]):
            run.fail(f"answer mismatch for {text!r} k={k}: got {got[qid][:3]} "
                     f"want {want[(text, k)][:3]}")


def check_dictionary(run: Run, oracle: Oracle, index_dir: str) -> None:
    """The built index against the oracle over the same corpus: n_docs
    and avgdl in stats.json, and the df of every term of the dictionary.
    Read with pyarrow in this process, so it costs no Spark job."""
    import json

    import pyarrow.parquet as pq

    from data_prepper_spark.index import layout

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    want = oracle.idx
    if stats["n_docs"] != want.n_docs or not same_answer(
            [(0, stats["avgdl"])], [(0, want.avgdl)]):
        run.fail(f"stats n_docs={stats['n_docs']} avgdl={stats['avgdl']}, "
                 f"oracle {want.n_docs} {want.avgdl}")
    dic = pq.read_table(layout.resolve(index_dir, "dictionary"),
                        columns=["term", "df"]).to_pandas()
    got = dict(zip(dic["term"], dic["df"].astype(int)))
    bad = [t for t in set(got) | set(want.postings)
           if got.get(t) != len(want.postings.get(t, ()))]
    if bad:
        run.fail(f"dictionary df differs from the oracle on {len(bad)} terms, "
                 f"e.g. {sorted(bad)[:3]}")


def index_bytes(path: str) -> int:
    """On-disk index size; local-filesystem checksum files excluded."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith(".")
        )
    return total


# ------------------------------------------------------------ operations

def request(run: Run, index_dir: str, rid: str, queries: list[tuple], traced: bool):
    """One request holding ``queries`` [(query_id, query_text, k)].
    Returns ({query_id: [(doc_id, score)] in rank order}, seconds, Spark
    counters or None)."""
    from data_prepper_spark.query import engine

    tr = run.tracer if traced else layers.Tracer(False)
    t0 = time.perf_counter()
    with tr.request(rid), tr.span("request"):
        with (run.stages.measure("request") if traced else contextlib.nullcontext()) as counters:
            q = run.spark.createDataFrame(
                queries, "query_id string, query_text string, k int")
            t_plan = time.perf_counter()
            with tr.span("query.engine.plan"):
                df = engine.score_topk(run.spark, index_dir, q)
            t_exec = time.perf_counter()
            with tr.span("query.engine.exec"):
                rows = df.collect()
            t_end = time.perf_counter()
    dt = t_end - t0
    got: dict[str, list[tuple[int, float]]] = {qid: [] for qid, _t, _k in queries}
    for r in sorted(rows, key=lambda r: r["rank"]):
        got[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    if counters is not None:
        counters["plan_ms"] = (t_exec - t_plan) * 1e3
        counters["exec_ms"] = (t_end - t_exec) * 1e3
    return got, dt, counters


def build(run: Run, corpus, index_dir: str, traced: bool):
    from data_prepper_spark.index import build as build_mod

    tr = run.tracer if traced else layers.Tracer(False)
    t0 = time.perf_counter()
    with tr.span("index.build"):
        with (run.stages.measure("build") if traced else contextlib.nullcontext()) as counters:
            stats = build_mod.build_index(
                run.spark, corpus, index_dir,
                n_shards=N_SHARDS, block_size=BLOCK_SIZE, store_positions=True,
            )
            dt = time.perf_counter() - t0
    return stats, dt, counters


# ------------------------------------------------------------ set-up

def spark_corpus(spark, n_convs: int, seed: int, parts: int):
    """``generate_pandas(0, n_convs, seed)`` generated inside Spark, one
    conversation range per partition (the pattern of
    ``transcripts.generate_spark``, which takes no seed). Rows depend only
    on (conversation, turn, seed), so this is the corpus the oracle gets;
    unlike ``createDataFrame(pdf)`` no task carries the corpus with it."""
    from data_prepper_spark.data.transcripts import TRANSCRIPT_SCHEMA, generate_pandas

    bounds = np.linspace(0, n_convs, parts + 1, dtype=np.int64).tolist()
    ranges = spark.createDataFrame(list(zip(bounds[:-1], bounds[1:])), "lo long, hi long")

    def gen(batches):
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                yield generate_pandas(int(lo), int(hi), seed)

    return ranges.repartition(parts, "lo").mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)


def start(run: Run, cores: int):
    """Session start and corpus generation: the corpus is generated in
    Spark and memory-persisted, and again in this process for the oracle."""
    from data_prepper_spark.data.transcripts import generate_pandas
    from data_prepper_spark.session import get_spark

    with run.tracer.span("session.start"):
        t0 = time.perf_counter()
        # one shuffle partition per core: session.py's floor of 32 is
        # sized for a cluster and only adds scheduling to a small request
        run.spark = get_spark(
            cores=cores, shuffle_partitions=cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"})
        run.layer["session.start_s"] = (time.perf_counter() - t0, "s")
    run.stages = layers.SparkStages(run.spark) if run.trace else None
    with run.tracer.span("data.transcripts.gen"):
        t0 = time.perf_counter()
        run.corpus = generate_pandas(0, N_CONVS, run.seed)
        corpus = spark_corpus(run.spark, N_CONVS, run.seed, cores).persist()
        corpus.count()
        run.layer["data.transcripts.gen_s"] = (time.perf_counter() - t0, "s")
    return corpus, len(run.corpus)


# ------------------------------------------------------------ workloads

def upsert_batch(seed: int) -> pd.DataFrame:
    """One upsert micro-batch: UPSERT_REINGEST existing conversations
    rewritten (new text from another seed) plus UPSERT_NEW new ones."""
    from data_prepper_spark.data.transcripts import generate_pandas

    lo = N_CONVS // 2
    return pd.concat([
        generate_pandas(lo, lo + UPSERT_REINGEST, seed + 1),
        generate_pandas(N_CONVS, N_CONVS + UPSERT_NEW, seed),
    ], ignore_index=True)


def run_build(run: Run, seconds: float, cores: int) -> None:
    t_setup, c_setup = time.perf_counter(), own_cpu_s()
    corpus, n_turns = start(run, cores)
    for w in range(WARMUP_BUILDS):
        build(run, corpus, os.path.join(run.workdir, f"warmup{w}"), traced=False)
        shutil.rmtree(os.path.join(run.workdir, f"warmup{w}"))
    setup = (tree_cpu_s(run) - c_setup, time.perf_counter() - t_setup)

    lat, cpu, sizes, counters, flags = [], [], [], [], []
    last = None
    t_end = time.perf_counter() + run.loop_seconds(seconds)
    i = 0
    while time.perf_counter() < t_end or i < 2:
        d = os.path.join(run.workdir, f"b{i}")
        run.attempted += 1
        traced = run.traced_op(i)
        c0 = tree_cpu_s(run)
        try:
            stats, dt, c = build(run, corpus, d, traced)
        except Exception:
            traceback.print_exc()
            run.fail(f"build {i} raised")
        else:
            lat.append(dt)
            cpu.append(tree_cpu_s(run) - c0)
            flags.append(traced)
            sizes.append(index_bytes(d) / n_turns)
            if c is not None:
                counters.append(c)
            if stats["n_docs"] != n_turns:
                run.fail(f"build {i}: n_docs {stats['n_docs']} != {n_turns} turns")
            if last is not None:
                shutil.rmtree(last)
            last = d
        i += 1
    peak = peak_rss_mb(run)
    if last is None:
        return

    run.attempted += 1
    oracle = Oracle(run.corpus)
    check_dictionary(run, oracle, last)
    report(run, "build", setup, lat, cpu, flags, sizes, peak, units_per_op=n_turns,
           work_name="build_turns_per_s")
    if not run.trace:
        return

    # a full Spark pass over every block: ~17 s on 4 cores, too long for
    # every run of the time budget, so only traced runs make it
    from data_prepper_spark.index.check import check_index

    run.attempted += 1
    rep = check_index(run.spark, last)
    if not rep["ok"]:
        run.fail(f"check_index failed: {rep}")
    build_layers(run, counters)
    run.layer["index.tombstones.ranges"] = (0, "count")
    # read-after-build: requests on the last build, traced and checked
    probe = query_pool(run.seed)[:1]
    run.attempted += 1
    got, _dt, c = request(run, last, "probe", probe, traced=True)
    check_answers(run, oracle, probe, got)
    engine_layers(run, [c])
    probe_layers(run, corpus, last)


def run_search(run: Run, seconds: float, cores: int) -> None:
    t_setup, c_setup = time.perf_counter(), own_cpu_s()
    corpus, n_turns = start(run, cores)
    idx = os.path.join(run.workdir, "index")
    _stats, _dt, build_counters = build(run, corpus, idx, traced=run.trace)
    pool = query_pool(run.seed)
    for i in range(1, WARMUP_REQUESTS + 1):
        request(run, idx, f"warmup{i}", batch_of(pool, -i), traced=False)
    setup = (tree_cpu_s(run) - c_setup, time.perf_counter() - t_setup)

    lat, cpu, flags, asked, samples = [], [], [], [], []
    got: dict = {}
    t_end = time.perf_counter() + run.loop_seconds(seconds)
    i = 0
    while time.perf_counter() < t_end or i < 2:
        queries = batch_of(pool, i)
        run.attempted += len(queries)
        traced = run.traced_op(i)
        c0 = tree_cpu_s(run)
        try:
            answers, dt, c = request(run, idx, f"r{i}", queries, traced)
        except Exception:
            traceback.print_exc()
            run.fail(f"request {i} raised")
        else:
            lat.append(dt)
            cpu.append(tree_cpu_s(run) - c0)
            flags.append(traced)
            asked += queries
            got.update(answers)
            if c is not None:
                samples.append(c)
        i += 1
    peak = peak_rss_mb(run)
    size = index_bytes(idx) / n_turns
    check_answers(run, Oracle(run.corpus), asked, got)

    report(run, "search", setup, lat, cpu, flags, [size], peak,
           units_per_op=REQUEST_QUERIES, work_name="queries_per_s")
    if run.trace:
        build_layers(run, [build_counters])
        engine_layers(run, samples)
        probe_layers(run, corpus, idx)
        upsert_and_check(run, idx)


def upsert_and_check(run: Run, idx: str) -> None:
    """The write side of a live index, once per traced ``search`` run:
    one upsert micro-batch (a new segment plus tombstones), then the
    final-state answers checked against an oracle over the final corpus."""
    from data_prepper_spark.index import build as build_mod
    from data_prepper_spark.index import tombstones

    base = run.corpus
    batch = upsert_batch(run.seed)
    t0 = time.perf_counter()
    with run.tracer.span("index.build.upsert"):
        build_mod.upsert_conversations(
            run.spark, run.spark.createDataFrame(batch), idx, snapshot_id=1)
    run.info.append(f"upsert: {len(batch)} turns in {time.perf_counter() - t0:.2f} s")
    tomb = tombstones.load_tombstones(run.spark, idx)
    run.layer["index.tombstones.ranges"] = (0 if tomb is None else len(tomb.starts), "count")
    probe = query_pool(run.seed)[:1]
    run.attempted += 1
    got, _dt, _c = request(run, idx, "after-upsert", probe, traced=False)
    rewritten = base["conv_id"].isin(set(batch["conv_id"]))
    live = pd.concat([base[~rewritten], batch], ignore_index=True)
    check_answers(run, Oracle(live, base[rewritten]), probe, got)


# ------------------------------------------------------------ reporting

def tree_cpu_s(run: Run) -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    descendant of the JVM (the Python workers; a reaped worker counts in
    its parent's children times). Time the hypervisor steals from the
    vCPUs for other tenants is not CPU time, so unlike wall time this
    does not stretch with it."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we walked /proc
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    total, todo = 0, [run.spark.sparkContext._gateway.proc.pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / tick + own_cpu_s()


def own_cpu_s() -> float:
    """CPU seconds used so far by this process alone."""
    own = os.times()
    return own.user + own.system


def peak_rss_mb(run: Run) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this Python driver, MB."""
    import resource

    jvm_kb = 0
    pid = run.spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, or None when there are fewer than 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return 100.0 * (n - 10) / n, s[n - 11], n


def report(run: Run, workload: str, setup: tuple[float, float], lat: list[float],
           cpu: list[float], flags: list[bool], sizes: list[float], peak_mb: float,
           units_per_op: int, work_name: str) -> None:
    """End-to-end metrics from the untraced operations (in a traced run
    they alternate with traced ones)."""
    untraced = [t for t, f in zip(lat, flags) if not f]
    traced = [t for t, f in zip(lat, flags) if f]
    cpu_untraced = [c for c, f in zip(cpu, flags) if not f]
    run.e2e = {
        "cpu_ms_per_op": (statistics.median(cpu_untraced or cpu) * 1e3, "ms"),
        "index_bytes_per_turn": (statistics.median(sizes), "B"),
        "setup_s": (setup[0], "s"),
    }
    run.info.append(f"setup wall clock = {setup[1]:.2f} s (not bounded, see README)")
    run.info.append(f"latency_p50_ms = {statistics.median(untraced or lat) * 1e3:.1f} ms "
                    "(wall clock; not bounded, see README)")
    run.layer["session.peak_rss_mb"] = (peak_mb, "MB")
    run.info.append(f"peak_rss_mb = {peak_mb:.1f} MB (VmHWM of the driver JVM + Python driver)")
    run.info.append(f"{workload}: {len(lat)} operations; {work_name} = "
                    f"{units_per_op / statistics.median(untraced or lat):.6g}")
    run.info.append("latencies_ms: " + " ".join(
        f"{t * 1e3:.0f}{'*' if f else ''}" for t, f in zip(lat, flags))
        + (" (* traced)" if run.trace else ""))
    run.info.append("cpu_ms: " + " ".join(f"{c * 1e3:.0f}" for c in cpu))
    t = tail([x * 1e3 for x in untraced or lat])
    run.info.append(
        f"tail: p{t[0]:.0f} = {t[1]:.1f} ms over n={t[2]}" if t else
        f"tail: n/a, {len(untraced or lat)} samples (a percentile needs 10 beyond it)")
    if run.trace:
        run.layer["trace.overhead_ms"] = (
            (statistics.median(traced) - statistics.median(untraced)) * 1e3
            if traced and untraced else 0.0, "ms")


def build_layers(run: Run, counters: list[dict]) -> None:
    """Spark counters per full build call."""
    for key, name, unit in (
        ("jobs", "spark_jobs", "count"), ("task_s", "task_s", "s"),
        ("gc_s", "gc_s", "s"), ("shuffle_write_mb", "shuffle_write_mb", "MB"),
        ("output_mb", "output_mb", "MB"), ("failed_tasks", "failed_tasks", "count"),
    ):
        run.layer[f"index.build.{name}"] = (layers.mean_of(counters, key), unit)


def engine_layers(run: Run, samples: list[dict]) -> None:
    for key, name, unit in (
        ("plan_ms", "plan_ms", "ms"), ("exec_ms", "exec_ms", "ms"),
        ("jobs", "spark_jobs_per_request", "count"),
        ("tasks", "tasks_per_request", "count"),
        ("task_s", "task_s_per_request", "s"),
        ("input_mb", "input_mb_per_request", "MB"),
        ("shuffle_write_mb", "shuffle_mb_per_request", "MB"),
    ):
        run.layer[f"query.engine.{name}"] = (layers.mean_of(samples, key), unit)


def probe_layers(run: Run, corpus, index_dir: str) -> None:
    """Direct calls into single modules, after the timed loop."""
    from data_prepper_spark.data.transcripts import generate_queries
    from data_prepper_spark.index import build as build_mod
    from data_prepper_spark.index import tombstones
    from data_prepper_spark.query import prep

    tr = run.tracer
    with tr.span("probe.index.tokenizer"):
        run.layer["index.tokenizer.tokens_per_s"] = (
            layers.probe_tokenizer(run.seed), "1/s")
    with tr.span("probe.index.build.compute_stats"):
        t0 = time.perf_counter()
        build_mod.compute_stats(corpus)
        run.layer["index.build.stats_s"] = (time.perf_counter() - t0, "s")
    blocks = layers.read_shard_blocks(index_dir)
    with tr.span("probe.index.codec"):
        for k, v in layers.probe_codec(blocks).items():
            run.layer[f"index.codec.{k}"] = (v, "MB/s")
    pool = query_pool(run.seed)
    tomb = tombstones.load_tombstones(run.spark, index_dir)
    with tr.span("probe.query.wand"):
        kern = layers.probe_kernels(
            index_dir, blocks, [(t, k) for _q, t, k in pool[:60]], tomb)
    run.attempted += 1
    if kern.pop("disagreements"):
        run.fail("top-k kernels disagree on one shard")
    for k, v in kern.items():
        run.layer[f"query.wand.{k}"] = (v, "ratio" if k.endswith("ratio") else "ms")
    requests = [
        [{"query_id": q, "query_text": t, "k": k} for q, t, k in batch_of(pool, i)]
        for i in range(len(pool) // REQUEST_QUERIES)
    ]
    run.layer["query.prep.ms_per_request"] = (layers.probe_prep(requests), "ms")
    big = run.spark.createDataFrame(generate_queries(DIST_PREP_QUERIES, run.seed))
    with tr.span("probe.query.prep.dist"):
        t0 = time.perf_counter()
        prep.qmap_df_dist(run.spark, big, "score", "ascii").count()
        run.layer["query.prep.dist_s"] = (time.perf_counter() - t0, "s")
