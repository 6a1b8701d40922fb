"""The Python worker daemon `get_spark` sessions run (`pyworker`).

Pinned here: on Python < 3.12 the stamped `zipimporter.invalidate_caches`
re-reads an unchanged archive 0 times and a rewritten one once, after
which the importer serves the new source; the session names the daemon
module and its workers run the stamped invalidation; a worker's heap
from before the fork is frozen, while the garbage its tasks make is
still collected; the workers import this package from any working
directory with no PYTHONPATH; and the CLI builds its session with
`get_spark` everywhere but under spark-submit."""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from data_prepper_spark import cli, pyworker, session

ROOT = Path(__file__).resolve().parents[1]
OLD_PYTHON = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12+ invalidates zipimport caches lazily")


def _write_zip(path: Path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in ("mod.py", "pkg/mod.py"):
            z.writestr(name, source)


@OLD_PYTHON
def test_stamped_invalidation_rereads_only_a_changed_archive(
        tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(pyworker, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._stamped_invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    # two importers of one archive, as a package's __path__ makes them
    importers = [zipimport.zipimporter(str(archive)),
                 zipimport.zipimporter(str(archive / "pkg"))]
    for imp in importers:  # the daemon's stamping call, before any fork
        imp.invalidate_caches()
    reads.clear()

    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []

    st = archive.stat()
    _write_zip(archive, "VALUE = 2  # rewritten\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    for imp in importers:
        imp.invalidate_caches()
    assert reads == [str(archive)]
    assert [imp.get_source("mod") for imp in importers] == \
        ["VALUE = 2  # rewritten\n"] * 2


def test_session_runs_the_engine_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == pyworker.__name__
    if sys.version_info >= (3, 12):
        return

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({"fn": [
                zipimport.zipimporter.invalidate_caches.__qualname__]})
    got = spark.range(1, numPartitions=1).mapInPandas(probe, "fn string")
    assert [r.fn for r in got.collect()] == \
        [pyworker._stamped_invalidate_caches.__qualname__]


def test_worker_heap_is_frozen_and_task_garbage_is_collected(spark):
    def probe(batches):
        import gc
        import weakref

        class Node:
            pass

        for _ in batches:
            a, b = Node(), Node()
            a.other, b.other = b, a  # a cycle only the collector frees
            alive = weakref.ref(a)
            del a, b
            gc.collect()
            yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                                "freed": [alive() is None]})
    (row,) = spark.range(1, numPartitions=1) \
        .mapInPandas(probe, "frozen long, freed boolean").collect()
    assert row.frozen > 0
    assert row.freed


def test_workers_find_the_package_from_any_directory(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        import pandas as pd
        from data_prepper_spark.session import get_spark

        def tokens(batches):
            from data_prepper_spark.index.tokenizer import tokenize
            for b in batches:
                yield pd.DataFrame({{"t": [" ".join(tokenize("Retry the deploy"))
                                           for _ in range(len(b))]}})

        spark = get_spark(cores=2, shuffle_partitions=2)
        rows = spark.range(3, numPartitions=1).mapInPandas(tokens, "t string")
        print("ROWS", sorted(r.t for r in rows.collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS ['retry the deploy', 'retry the deploy', 'retry the deploy']" \
        in out.stdout


@pytest.mark.parametrize("submitted, cores, want", [
    (False, None, ("get_spark", None)),
    (False, 3, ("get_spark", 3)),
    (True, None, ("getOrCreate",)),
    (True, 3, ("get_spark", 3)),
])
def test_cli_session_runs_the_engine_daemon_unless_submitted(
        monkeypatch, submitted, cores, want):
    built = []
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    monkeypatch.setattr(session, "get_spark",
                        lambda cores=None: built.append(("get_spark", cores)))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: built.append(("getOrCreate",)))
    if submitted:  # what spark-submit's launcher sets for the driver
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    else:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    cli._get_spark(argparse.Namespace(local_cores=cores))
    assert built == [want]
