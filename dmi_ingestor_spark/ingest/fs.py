"""Filesystem abstraction for retention deletes (SURVEY.md S6/S7).

The reference deletes stale forecasts directly on the object store
(``dmi_ingestor/ingestor.py:67-73``: ``s3.rm(..., recursive=True)``).
Here the same operation goes through Hadoop's ``FileSystem`` API via the
JVM gateway, so the retention path is identical code for ``file://``,
``hdfs://`` and ``s3a://`` URIs — not a local-FS-only ``shutil`` call.

The engine's own scratch space lives here too: every directory or table
a builder writes for itself comes from ``scratch_dir``, under one
``spark-graft-*`` root per process that is made on first use (in
``TMPDIR``) and removed when that process exits. It must outlive the
builder, because a returned DataFrame is lazy and reads these paths
when it runs. The root is on the driver's local disk, which executors
on a cluster do not share.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


# Writer options that leave no ``.crc`` sidecar beside a ``file://``
# file: without native libhadoop, Hadoop's local FS forks ``chmod`` for
# every file it creates (``RawLocalFileSystem.setPermission``), and the
# checksummed ``LocalFileSystem`` creates a sidecar beside each file,
# so it forks twice per file and doubles the file count. Spark merges a
# writer's options into that write job's Hadoop conf only, so the
# session, ``FileSystem.get`` and every other writer keep the
# checksummed FS, and ``hdfs://`` or ``s3a://`` paths ignore them.
# ``disable.cache`` is needed because the FileSystem cache is keyed by
# scheme and user, not by conf: it would return the cached checksummed
# instance.
RAW_LOCAL_WRITE = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def scratch_dir(tag: str) -> str:
    """A fresh, empty directory named after ``tag`` under this process's
    scratch root."""
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=_scratch_root())


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="spark-graft-")
    atexit.register(_remove_scratch_root, root, os.getpid())
    return root


def _remove_scratch_root(root: str, owner_pid: int) -> None:
    # a forked child inherits the hook but does not own the root
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def _fs_and_path(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path) for a (possibly schemeless) path."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def fs_list_subdirs(spark: SparkSession, path: str) -> list[str]:
    """Names (not full paths) of immediate child directories, [] if absent."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().getName() for st in fs.listStatus(jpath) if st.isDirectory()
    ]


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; True if something was removed."""
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.delete(jpath, True))


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic-per-filesystem rename (the publish step of write-audit-
    publish). True on success; False if src is missing or dst exists."""
    fs, jsrc = _fs_and_path(spark, src)
    _, jdst = _fs_and_path(spark, dst)
    if not fs.exists(jsrc) or fs.exists(jdst):
        return False
    return bool(fs.rename(jsrc, jdst))


def fs_publish_exclusive(spark: SparkSession, src: str, dst: str) -> bool:
    """Move ``src`` to ``dst`` failing ATOMICALLY if ``dst`` exists —
    the commit primitive an optimistic-concurrency log needs.

    ``fs_rename``'s exists()+rename is check-then-act: on ``file://``
    Hadoop's raw-local rename maps to POSIX rename(2), which silently
    REPLACES an existing destination, so two racers can both pass the
    pre-check and the loser overwrites the winner's commit. Here:

    * ``file://`` / schemeless local paths: ``java.nio.Files.createLink``
      — POSIX link(2) is atomic fail-if-exists — then unlink the source.
    * other schemes (hdfs://, ...): ``FileContext.rename`` with
      ``Options.Rename.NONE``, which contract-fails when the destination
      exists (HDFS renames are atomic server-side).

    Returns True when this caller won the slot, False when the
    destination already existed (lost the race).
    """
    jvm = spark.sparkContext._jvm
    fs, jsrc = _fs_and_path(spark, src)
    scheme = fs.getUri().getScheme()
    if scheme in (None, "file"):
        nio = jvm.java.nio.file
        src_f = jvm.java.io.File(jsrc.toUri().getPath())
        dst_f = jvm.java.io.File(_fs_and_path(spark, dst)[1].toUri().getPath())
        parent = dst_f.getParentFile()
        if parent is not None:
            parent.mkdirs()  # File.mkdirs, not Files.createDirectories:
            # the latter is a FileAttribute varargs py4j cannot call
        try:
            nio.Files.createLink(dst_f.toPath(), src_f.toPath())
        except Exception as exc:  # noqa: BLE001 — py4j wraps the Java one
            if "FileAlreadyExistsException" in str(exc.__class__) or (
                "FileAlreadyExistsException" in str(exc)
            ):
                return False
            raise
        nio.Files.deleteIfExists(src_f.toPath())
        return True
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    jdst = _fs_and_path(spark, dst)[1]
    try:
        fctx.rename(
            jsrc,
            jdst,
            # empty varargs = Options.Rename.NONE = fail if dst exists
        )
    except Exception as exc:  # noqa: BLE001
        if "AlreadyExists" in str(exc) or "FileAlreadyExists" in str(
            exc.__class__
        ):
            return False
        raise
    return True
