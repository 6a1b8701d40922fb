"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,search} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Sizes Spark to the machine (cores, driver
memory, local dirs inside the checkout, PYTHONPATH for the Python
workers), runs one workload, checks every answer, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Lines before it give context: machine probes, the tail
percentile, the error rate and span self times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")


def fit_environment() -> int:
    """Environment for the Spark JVM and its Python workers; must run
    before the session starts. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    # a quarter of RAM, at most 2 GB: the corpus is a few MB, and the box
    # is shared with the Python workers and the OS page cache
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(2, int(mem_gb / 4)))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    local = os.path.join(OUT, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # keep the JVM's and Python's scratch files inside the checkout too.
    # C1 only: in a one-minute run on a few cores the C2 compiler threads
    # compete with the workload and never reach a steady state
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}")
    # one BLAS/OpenMP thread per process: Spark's tasks are the parallelism,
    # idle BLAS threads spin and would count as CPU per operation, and the
    # machine probe is meant to be 1-thread
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cores


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def machine_probe(secs: float = 0.25) -> dict:
    """1-thread compute (400x400 matmul) and memory-bus (64 MB stream)
    rates: a slow reading explains a slow run."""
    import numpy as np

    a = np.random.RandomState(0).rand(400, 400)
    t0, n = time.perf_counter(), 0
    while time.perf_counter() - t0 < secs:
        (a @ a).sum()
        n += 1
    x = np.random.RandomState(0).rand(8_000_000)
    y = np.empty_like(x)
    t1, m = time.perf_counter(), 0
    while time.perf_counter() - t1 < secs:
        np.add(x, 1.0, out=y)
        x, y = y, x
        m += 1
    return {"matmul_per_s": round(n / secs, 1), "membw_streams_per_s": round(m / secs, 1)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cores = fit_environment()
    try:
        import data_prepper_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    probe = machine_probe()
    steal0 = steal_jiffies()
    os.makedirs(OUT, exist_ok=True)
    run = workloads.Run(args.seed, tempfile.mkdtemp(prefix="run-", dir=OUT), bool(args.trace))
    fn = {"build": workloads.run_build, "search": workloads.run_search}[args.workload]
    try:
        fn(run, args.seconds, cores)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.workdir, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores} driver_mem={os.environ['SPARK_DRIVER_MEM']}")
    print(f"machine: {json.dumps(probe)} steal_jiffies={steal_jiffies() - steal0}")
    for line in run.info:
        print(line)
    failed = len(run.failures)
    print(f"error_rate = {failed / max(run.attempted, 1):.4f} "
          f"({failed} failed of {run.attempted} attempted, oracle check on)")
    metrics = run.layer if args.trace else run.e2e
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    if args.trace:
        for name, (n, secs) in sorted(run.tracer.self_times().items()):
            print(f"span {name}: n={n} self={secs * 1e3:.1f} ms")
        path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(run.tracer.spans, f)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    if not metrics:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
