"""Incremental file-based source (≈ FileBasedSource/FileBasedExtractor,
gobblin-core/.../filebased/FileBasedSource.java:58 — "list files newer than
the previous snapshot; one work unit per new file set").

The snapshot of already-ingested files is a map path → ``[size, mtime]``;
``unseen`` diffs the current listing against it. ``FileSnapshotSource``
keeps the map in the StateStore; ``streaming.tail_changelog`` keeps it as
one document in its checkpoint dir and lists with ``list_files``. Reading
is a plain ``spark.read.format(...).load(new_files)`` — Spark parallelizes
within and across files, so the work-unit granularity is the file list, not
a task pool.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from ..planner import _local_path
from ..state import StateStore


def _stat(path: str) -> list[int]:
    st = os.stat(path)
    return [st.st_size, st.st_mtime_ns]


def _hidden(name: str) -> bool:
    # Spark's file index skips these too: _SUCCESS, _temporary/, .crc files
    return name.startswith(("_", "."))


def list_files(spark: SparkSession, root: str) -> dict[str, list[int]]:
    """path → ``[size, mtime]`` of every data file under the directory
    ``root``, recursively, skipping names that start with ``_`` or ``.``. A
    local root (a bare path or a ``file:`` URI) is walked on the driver
    (mtime in ns) and yields bare paths; any other URI is listed through the
    session's Hadoop FileSystem (mtime in ms) and yields its URIs."""
    local = _local_path(root)
    if local is None:
        return _hadoop_listing(spark, root)
    out: dict[str, list[int]] = {}
    stack = [local]
    while stack:
        with os.scandir(stack.pop()) as it:
            for e in it:
                if _hidden(e.name):
                    continue
                if e.is_dir():
                    stack.append(e.path)
                else:
                    st = e.stat()
                    out[e.path] = [st.st_size, st.st_mtime_ns]
    return out


def _hadoop_listing(spark: SparkSession, root: str) -> dict[str, list[int]]:
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    base = fs.makeQualified(path).toString().rstrip("/")
    out: dict[str, list[int]] = {}
    it = fs.listFiles(path, True)
    while it.hasNext():
        st = it.next()
        uri = st.getPath().toString()
        if not any(_hidden(part) for part in uri[len(base):].split("/") if part):
            out[uri] = [st.getLen(), st.getModificationTime()]
    return out


def unseen(listed: dict[str, list[int]], seen: dict[str, list[int]]) -> list[str]:
    """The paths of ``listed`` that are new or changed since ``seen``,
    oldest mtime first (ties by path: deterministic)."""
    return sorted((p for p, st in listed.items() if seen.get(p) != st), key=lambda p: (listed[p][1], p))


class FileSnapshotSource:
    def __init__(self, state: StateStore, store_name: str = "filesource"):
        self.state = state
        self.store = store_name

    def _seen(self) -> dict[str, list[int]]:
        doc = self.state.get_current(self.store) or {}
        return dict(doc.get("files", {}))

    def plan(self, pattern: str) -> list[str]:
        """New or changed files since the last commit, oldest first."""
        return unseen({f: _stat(f) for f in glob.glob(pattern)}, self._seen())

    def read(self, spark: SparkSession, files: list[str], fmt: str = "parquet", **options) -> DataFrame:
        reader = spark.read.format(fmt)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load(files)

    def commit(self, files: list[str]) -> None:
        """Record the ingested files (path → size and mtime) — the 'actual
        high watermark' of this source; re-listing skips them next plan."""
        seen = self._seen()
        for f in files:
            seen[f] = _stat(f)
        self.state.put(self.store, {"files": seen})
