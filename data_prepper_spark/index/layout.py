"""Object-store-safe commit protocol for index artifacts.

The index's mutable artifacts (``dictionary``, ``blocks`` after a
compaction) were previously replaced with a two-step ``os.rename``
swap. Renames are atomic on POSIX but do not exist on path-style object
stores (S3 "rename" is copy+delete, non-atomic and O(bytes)). This
module uses the protocol that IS safe there — versioned directories
plus a tiny pointer file:

  1. write the new artifact COMPLETELY into ``<name>__v<N+1>/``;
  2. flip the pointer ``<name>.ptr`` to ``v<N+1>`` (locally an atomic
     rename of a temp file; on an object store a single small PUT,
     which is atomic per S3's consistency model);
  3. garbage-collect older versions.

A crash at any instant leaves the pointer naming a fully-written
version: before step 2 readers still resolve the old version, after it
the new one. Readers never see a partially-written directory. (A real
object-store deployment would delay step 3 by a grace period for
in-flight readers that already resolved the old version; a Spark job
re-resolves per action, so immediate GC is safe here.)

``resolve`` falls back to the legacy un-versioned ``<index>/<name>``
path when no pointer exists, so pre-existing indexes keep working and
append-only artifacts (segment appends, manifest, tombstones) never
need a version bump; ``append_table`` adds one file to such a table
from the driver. ``write_table`` is the one pyarrow file write (temp
name, then an atomic replace): the manifest's appends and the build
kernels' segment files both go through it. ``publish_dirs`` commits
several directory-artifacts that one job writes (a compaction's blocks
and dictionary), flipping their pointers in a fixed order.

Reads resolve through the pyarrow filesystem the path names (``read_text``,
``exists``, ``read_table``), so an index named by a URI (``file://``,
``s3://``, ``hdfs://``) reads like a local one; writes (``publish_file``,
``publish_dir(s)``, ``write_table``) are local. This module is the only code that maps an
artifact name to a path; everything that reads index state goes through
``index/reader.py``.

Reference parity: the role of Lucene's ``segments_N`` + ``commit
point`` files behind the reference's opensearch sink — the pointer file
is the commit point.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from typing import Callable


class IndexExistsError(FileExistsError):
    """A fresh build into a directory that already holds an index.
    Building over it would mix the new build's segments, manifest rows
    and convmap with the old index's (an older writer appended a second
    copy of every posting: doubled df, wrong scores)."""


class IndexStateError(ValueError):
    """A build or upsert whose arguments contradict the index it writes
    into: a different shard count, or a snapshot id not newer than the
    index's. A ValueError, so it survives `python -O`, unlike an
    assert."""


def check_fresh(index_dir: str) -> None:
    """Raise IndexExistsError when `index_dir` holds stats.json, a
    build manifest or a blocks table. Local paths only, like every
    existence check in the engine."""
    if "://" in index_dir:
        return
    found = [
        p for p in (os.path.join(index_dir, "stats.json"),
                    os.path.join(index_dir, "manifest"),
                    resolve(index_dir, "blocks"))
        if os.path.exists(p)
    ]
    if found:
        raise IndexExistsError(
            f"{index_dir} already holds an index ({', '.join(found)}); "
            "build into an empty directory, or pass resume=True / "
            "incremental=True to continue or extend it")


def _ptr_path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, f"{name}.ptr")


def current_version(index_dir: str, name: str) -> int:
    """0 = legacy (no pointer); N = pointer names ``<name>__vN``."""
    try:
        return int(read_text(_ptr_path(index_dir, name)).strip().lstrip("v")
                   or 0)
    except FileNotFoundError:
        return 0


def resolve(index_dir: str, name: str) -> str:
    """Current readable path for artifact `name`."""
    v = current_version(index_dir, name)
    if v:
        return os.path.join(index_dir, f"{name}__v{v}")
    return os.path.join(index_dir, name)


def publish_file(path: str, content: str) -> None:
    """Atomic small-file replace: temp + rename locally (a single PUT on
    an object store). Used for stats.json and the pointer itself."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(content)
    os.rename(tmp, path)


def write_table(path: str, table, **options) -> str:
    """Write pyarrow `table` as the parquet file `path`, replacing any
    file of that name. It is written under a unique hidden temp name in
    the same directory and then renamed over `path`, so a reader (Spark
    and pyarrow both skip names starting with '.') never lists a partial
    file, and two writers of the same file leave one whole copy.
    `options` go to `pq.write_table`. Local paths, like publish_file.
    Returns `path`."""
    import pyarrow.parquet as pq

    head, name = os.path.split(path)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp, compression="snappy", store_schema=False,
                   **options)
    os.replace(tmp, path)
    return path


def append_table(path: str, table) -> str:
    """Add one parquet file holding pyarrow `table` to the append-only
    table directory `path` (the build manifest), under a name no other
    append takes (`write_table`). The table is a few rows, so neither
    dictionary pages nor column statistics would pay for their bytes.
    Returns the file's path."""
    return write_table(
        os.path.join(path, f"part-{uuid.uuid4()}.snappy.parquet"), table,
        use_dictionary=False, write_statistics=False)


def publish_dirs(
    index_dir: str, names: list[str],
    write_fn: Callable[[dict[str, str]], None],
) -> dict[str, str]:
    """Commit a new version of each directory-artifact in `names`.

    write_fn({name: new_path}) must create every new path fully (one
    job may write them all); only then are the pointers flipped, in the
    order of `names`, and old versions removed. Returns {name: new_path}."""
    version = {n: current_version(index_dir, n) + 1 for n in names}
    new = {n: os.path.join(index_dir, f"{n}__v{v}") for n, v in version.items()}
    for path in new.values():
        # a crashed previous attempt at this same version never got its
        # pointer flip, so its partial output is dead weight — reclaim it
        shutil.rmtree(path, ignore_errors=True)
    write_fn(new)
    for name, v in version.items():
        publish_file(_ptr_path(index_dir, name), f"v{v}\n")
    for name, path in new.items():
        for stale in glob.glob(os.path.join(index_dir, f"{name}__v*")):
            if os.path.abspath(stale) != os.path.abspath(path):
                shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)
    return new


def publish_dir(
    index_dir: str, name: str, write_fn: Callable[[str], None]
) -> str:
    """Commit a new version of directory-artifact `name` (publish_dirs
    of one name): write_fn(new_path) must create `new_path` fully."""
    return publish_dirs(index_dir, [name], lambda p: write_fn(p[name]))[name]


def _filesystem(path: str):
    """(pyarrow FileSystem, path inside it) for a local path or a URI
    (file://, s3://, hdfs://)."""
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(
        path if "://" in path else os.path.abspath(path))


def exists(path: str) -> bool:
    """Whether a file or directory exists at a local path or a URI.
    os.path answers False for every URI, which would make remote state
    read as absent."""
    import pyarrow.fs as pafs

    fs, p = _filesystem(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def read_text(path: str) -> str:
    """A small file (stats.json, a pointer) at a local path or a URI.
    Raises FileNotFoundError when it is absent."""
    fs, p = _filesystem(path)
    with fs.open_input_stream(p) as f:
        return f.read().decode()


def read_table(path: str, columns: list[str], filters: list | None = None):
    """A small artifact (dictionary slice, tombstones) read on the
    driver with pyarrow through the filesystem its URI names — local
    paths, s3://, hdfs:// alike — so it costs no Spark job. Spark's
    marker files (_SUCCESS, .crc) are skipped."""
    import pyarrow.parquet as pq

    fs, p = _filesystem(path)
    return pq.read_table(p, columns=columns, filters=filters, filesystem=fs)
