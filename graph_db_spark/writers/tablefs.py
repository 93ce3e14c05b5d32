"""The filesystem under every table writer: the snapshot log
(:mod:`graph_db_spark.writers.snapshots`) and the locked staged-rename
parquet MERGE (:mod:`graph_db_spark.writers.upsert`).

:func:`table_fs` is the one place a path's URI scheme picks the
filesystem:

- a ``file:`` URI (``file:/x``, ``file:///x``), or a bare path while
  Spark's ``fs.defaultFS`` is ``file:`` (local mode), gets
  :class:`_LocalTableFS`: plain ``os`` calls on the path with the
  ``file:`` prefix stripped, while Spark reads and writes keep the URI.
  Its atomic create is POSIX ``O_CREAT|O_EXCL``. Hadoop's local
  filesystem is deliberately not used here: its
  ``create(overwrite=false)`` is an exists-then-create, so two threads
  creating the same ``file:`` path can both succeed — a lost manifest
  commit or a lock held twice (``tests/test_tablefs.py`` races it).
- every other scheme (``hdfs://``, ``s3a://``, ``viewfs://``, …) gets
  :class:`_HadoopTableFS`, the same primitives through
  ``org.apache.hadoop.fs.FileSystem``, whose ``create(overwrite=false)``
  is namenode-atomic on HDFS (the primitive Delta's HDFSLogStore uses).
  Object stores without an atomic create-exclusive need a commit
  arbiter (DynamoDB-style, as delta-rs on S3): a documented limitation,
  not papered over.

Both classes raise ``FileExistsError`` when an exclusive create loses and
``FileNotFoundError`` for a missing file.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def table_fs(spark: SparkSession, path: str):
    """The filesystem for the table (or lock) at ``path``. A bare path
    resolves the way Spark resolves it, against ``fs.defaultFS``."""
    default = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    if (urlparse(path).scheme or urlparse(default).scheme) == "file":
        return _LocalTableFS()
    return _HadoopTableFS(spark, path)


def _local(p: str) -> str:
    """``p`` as an ``os`` path: the path part of a ``file:`` URI."""
    return urlparse(p).path if p.startswith("file:") else p


class _LocalTableFS:
    """POSIX primitives. The atomic commit point is ``O_CREAT|O_EXCL``
    (rename-free, safe on a single host; the table contract only needs
    create-exclusive)."""

    @staticmethod
    def join(*parts: str) -> str:
        return os.path.join(*parts)

    @staticmethod
    def isdir(p: str) -> bool:
        return os.path.isdir(_local(p))

    @staticmethod
    def exists(p: str) -> bool:
        return os.path.exists(_local(p))

    @staticmethod
    def listdir(p: str) -> list[str]:
        return sorted(os.listdir(_local(p)))

    @staticmethod
    def read_text(p: str) -> str:
        with open(_local(p)) as f:
            return f.read()

    @staticmethod
    def create_exclusive(p: str, text: str) -> None:
        """Atomic publish: fails with FileExistsError if ``p`` exists, and
        with NotADirectoryError if its parent is a regular file."""
        local = _local(p)
        parent = os.path.dirname(local) or "."
        try:
            os.makedirs(parent, exist_ok=True)
        except FileExistsError:
            # a non-directory sits where the parent should be; reporting
            # it as FileExistsError would read as "lost the race" to the
            # lock and the manifest publish, which then retry forever
            raise NotADirectoryError(parent) from None
        fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(text)

    @staticmethod
    def rename(src: str, dst: str) -> None:
        os.rename(_local(src), _local(dst))

    @staticmethod
    def remove(p: str) -> None:
        os.remove(_local(p))

    @staticmethod
    def remove_tree(p: str) -> None:
        shutil.rmtree(_local(p))

    @staticmethod
    def getmtime(p: str) -> float:
        return os.path.getmtime(_local(p))

    @staticmethod
    def touch(p: str) -> None:
        os.utime(_local(p), None)

    @staticmethod
    def now() -> float:
        """Local mtimes share the client clock, so ``time.time()`` is
        exact."""
        return time.time()

    @staticmethod
    def open_parquet(p: str):
        """Whatever ``pyarrow.parquet.ParquetFile`` accepts — locally,
        the path itself (zero-copy mmap footer read)."""
        return _local(p)


class _HadoopTableFS:
    """The same primitives through ``org.apache.hadoop.fs.FileSystem``
    for the table rooted at ``path``.

    All calls ride the live SparkSession's JVM via py4j (no extra
    dependency); footer reads go through a positioned-read stream
    shuttled as ``byte[]`` (footers are KB-sized — the shuttle is one
    round trip per pyarrow read call)."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        jconf = spark._jsc.hadoopConfiguration()
        self._jvm = jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._root = path
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI(path), jconf
        )

    def _found(self, call, p: str):
        """``call(Path(p))``, with Java's FileNotFoundException raised as
        Python's."""
        try:
            return call(self._jpath(p))
        except Py4JJavaError as e:
            if "FileNotFoundException" in str(e.java_exception):
                raise FileNotFoundError(p) from e
            raise

    @staticmethod
    def join(*parts: str) -> str:
        return "/".join(x.rstrip("/") for x in parts[:-1]) + "/" + parts[-1]

    def isdir(self, p: str) -> bool:
        jp = self._jpath(p)
        return bool(self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory())

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._jpath(p)))

    def listdir(self, p: str) -> list[str]:
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(self._jpath(p))
        )

    def read_text(self, p: str) -> str:
        stream = self._found(self._fs.open, p)
        try:
            baos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536)
            return bytes(baos.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    def create_exclusive(self, p: str, text: str) -> None:
        jp = self._jpath(p)
        parent = jp.getParent()
        if parent is not None:
            self._fs.mkdirs(parent)
        try:
            out = self._fs.create(jp, False)  # overwrite=false: atomic on HDFS
        except Py4JJavaError as e:
            java = str(e.java_exception)
            # ADVICE r12: classify on the Java EXCEPTION CLASS, not a
            # lowercase 'already exists' message substring — messages
            # like 'Parent path ... already exists as a file' are hard
            # errors that must NOT be mapped to the benign
            # CommitConflict/version-race path. The class name leads the
            # py4j-rendered string ('org.apache.hadoop.fs.
            # FileAlreadyExistsException: ...'); AlreadyBeingCreated is
            # HDFS's lease-race spelling of the same atomic loss.
            if (
                "FileAlreadyExistsException" in java
                or "AlreadyBeingCreatedException" in java
            ):
                raise FileExistsError(p) from e
            raise RuntimeError(f"hadoop create failed: {java}") from e
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def rename(self, src: str, dst: str) -> None:
        # Hadoop signals a failed rename by RETURNING false (and renaming
        # onto an existing directory moves the source INTO it); swallowing
        # that would let a MERGE report success while the merged table is
        # later deleted as stale — silent data loss
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def remove(self, p: str) -> None:
        if not self._fs.delete(self._jpath(p), False):
            raise FileNotFoundError(p)

    def remove_tree(self, p: str) -> None:
        if not self._fs.delete(self._jpath(p), True):
            raise FileNotFoundError(p)

    def getmtime(self, p: str) -> float:
        return self._found(self._fs.getFileStatus, p).getModificationTime() / 1000.0

    def touch(self, p: str) -> None:
        now = int(time.time() * 1000)
        self._found(lambda jp: self._fs.setTimes(jp, now, now), p)

    def now(self) -> float:
        """'Now' in the FILESYSTEM's own time domain (ADVICE r12):
        ``getModificationTime`` comes from the namenode / object store,
        so comparing it against the client's ``time.time()`` lets
        client↔server clock skew eat into vacuum's ``min_age_seconds``
        window that protects in-flight commits' data files. Stamp a
        throwaway marker under the root and read ITS mtime — one
        create+stat round trip puts 'now' and the candidates' mtimes on
        the same clock."""
        marker = self.join(self._root, f"_clock.{uuid.uuid4().hex}")
        self.create_exclusive(marker, "")
        try:
            return self.getmtime(marker)
        finally:
            self.remove(marker)

    def open_parquet(self, p: str):
        return _HadoopBinaryFile(self._jvm, self._fs, self._jpath(p))


class _HadoopBinaryFile:
    """Minimal seekable read-only file over ``FSDataInputStream`` for
    pyarrow footer reads: seek + commons-io ``toByteArray(stream, n)``
    (returns ``byte[]`` → auto-converted to Python bytes in ONE py4j
    transfer per read — never a per-byte round trip)."""

    def __init__(self, jvm, fs, jpath):
        self._jvm = jvm
        self._size = fs.getFileStatus(jpath).getLen()
        self._in = fs.open(jpath)
        self._pos = 0
        self.closed = False

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = min(n, self._size - self._pos)
        if n <= 0:
            return b""
        self._in.seek(self._pos)
        data = bytes(
            self._jvm.org.apache.commons.io.IOUtils.toByteArray(self._in, n)
        )
        self._pos += len(data)
        return data

    def seek(self, off: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = off
        elif whence == 1:
            self._pos += off
        else:
            self._pos = self._size + off
        return self._pos

    def tell(self) -> int:
        return self._pos

    def size(self) -> int:
        return self._size

    def close(self) -> None:
        if not self.closed:
            self._in.close()
            self.closed = True

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def flush(self) -> None:
        pass
