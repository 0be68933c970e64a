"""Filesystem access for engine state, through Hadoop's FileSystem API.

Every state path (checkpoint ``_state.json``, incremental manifests,
store generations, the stream's commit markers) goes through
``Path.getFileSystem(hadoopConf)``, so ``/local/dir``, ``file:///dir``,
``hdfs://…`` and ``s3a://…`` behave alike. Parquet data itself is read
and written by Spark; this module handles the small metadata around
it with five operations: ``exists``, ``read_json``, ``write_once``,
``ls`` and ``delete``.

On a local filesystem the checksum wrapper is bypassed: JSON written
here gets no ``.crc`` sibling, and a hand-edited file still reads.
"""

from __future__ import annotations

import json
from collections import namedtuple
from typing import Any


def _fs(path: str):
    """(FileSystem, Path, jvm) for ``path`` on the active Spark
    context's JVM, starting the engine's session when there is none."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        from .session import get_spark

        sc = get_spark().sparkContext
    jvm = sc._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    if jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.ChecksumFileSystem").isInstance(fs):
        fs = fs.getRawFileSystem()
    return fs, p, jvm


# one ``ls`` result: the child's name, kind, size in bytes and
# modification time in seconds
Entry = namedtuple("Entry", "name is_dir size mtime")


def exists(path: str) -> bool:
    fs, p, _jvm = _fs(path)
    return bool(fs.exists(p))


def read_json(path: str) -> Any:
    """The parsed JSON at ``path``; None when it is missing or does not
    parse (a torn write)."""
    fs, p, jvm = _fs(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)).decode("utf-8"))
    except ValueError:
        return None
    finally:
        stream.close()


def write_once(path: str, text: str, overwrite: bool = False) -> None:
    """Create ``path`` holding ``text`` (parent directories included).
    Without ``overwrite`` an existing file raises instead of being
    replaced: a manifest, once written, never changes. ``overwrite`` is
    for the checkpoint's ``_state.json``, which a crash mid-write can
    leave torn — it then reads as no state, and the phases re-run."""
    fs, p, _jvm = _fs(path)
    out = fs.create(p, overwrite)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def ls(path: str) -> "list[Entry]":
    """The children of directory ``path`` ([] when it does not exist);
    a file lists as itself."""
    fs, p, _jvm = _fs(path)
    if not fs.exists(p):
        return []
    return [
        Entry(
            s.getPath().getName(), bool(s.isDirectory()), int(s.getLen()),
            s.getModificationTime() / 1000.0,
        )
        for s in fs.listStatus(p)
    ]


def delete(path: str) -> bool:
    """Remove ``path`` and everything under it; False when absent."""
    fs, p, _jvm = _fs(path)
    return bool(fs.delete(p, True))
