"""The Python worker daemon every `get_spark` session runs
(`spark.python.daemon.module`).

PySpark's worker calls `importlib.invalidate_caches()` once per task
(`pyspark.worker_util.setup_spark_files`). Before Python 3.12 that makes
every cached `zipimport.zipimporter` re-read its archive's central
directory: with pyspark.zip and the py4j zip on the worker path that is
16 importers and about 27k directory entries parsed per task. Python
3.12 made the invalidation lazy (gh-103200).

On Python < 3.12 this daemon replaces `zipimporter.invalidate_caches`
with a stamped one: an archive is re-read only when its
`(st_mtime_ns, st_size)` differ from those of its last read, so an
archive whose content changes is still re-read. The daemon stamps the
importers `pyspark.worker` created once, before it forks any worker.

On every Python version the daemon then collects and freezes its heap
(`gc.freeze()`) and runs `pyspark.daemon.manager()`. A reused worker
runs `gc.collect()` after each task, which walked the ~38k objects the
daemon made importing `pyspark.worker`, 15–25 ms of CPU per task on a
4-vCPU host. Frozen, they sit in the permanent generation: the
collection walks only what the worker made since its fork, and still
frees it. On that host a reused worker running one-partition
`mapInPandas` tasks spends about 19 ms of CPU per task outside the task
function, against 43 ms unfrozen and about 190 ms with neither fix
(Python 3.11); what is left is mostly the collection walking the
modules the task imported after the fork (pandas, pyarrow).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped_invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches` that skips the re-read of an
    archive unchanged since its last read; importers of one archive
    share that read through `zipimport._zip_directory_cache`."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_archive(self)
    _stamps[self.archive] = stamp


def main() -> None:
    stamped = sys.version_info < (3, 12)
    if stamped:
        zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches
    import pyspark.daemon  # imports pyspark.worker: the importers exist now

    if stamped:
        importlib.invalidate_caches()  # stamp them once, before any fork
    # the post-task gc.collect() of a forked worker then skips this heap
    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
