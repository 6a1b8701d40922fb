"""SparkSession factory tuned for this engine.

Local-mode testing (local[N]) but configured the way a 1000-executor
cluster job would be: AQE on, shuffle partitions sized to parallelism,
Arrow enabled for all pandas-UDF exchange, UTC session time. Python
tasks run under this package's worker daemon (`pyworker`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package: the workers' import path for it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half the machine's RAM, at most 48g. A heap larger than RAM lets
    the collector grow the driver JVM until the OS kills it: with 48g
    on a 16 GB machine a test session's driver reached 15 GB."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(48, ram // 2**31))}g"


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "data_prepper_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    ``shuffle_partitions`` defaults to max(cores, 32) — on a real cluster
    this is set to ~2-3x total executor cores instead.
    Python workers start from `pyworker` and find this package from any
    working directory: its parent directory leads
    ``spark.executorEnv.PYTHONPATH``, ahead of any value in ``extra_conf``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # cap the generated-code dump when a >64KB method fails to
        # compile (the ~190-rule user_agent cascade does; Spark retries
        # un-fused automatically — see operators/enrich.py::_cascade) —
        # without this the ERROR log carries the full multi-MB source
        .config("spark.sql.codegen.logging.maxLines", "20")
        .config("spark.python.daemon.module", "data_prepper_spark.pyworker")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH"))
        if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
