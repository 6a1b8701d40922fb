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
importers `pyspark.worker` created once, before it forks any worker,
then runs `pyspark.daemon.manager()`. On Python 3.12+ it only runs
`pyspark.daemon`.
"""

from __future__ import annotations

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
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
