"""The engine's single metadata-I/O layer.

Every metadata operation the engine makes — flag and marker files,
manifests, listings, rename-swap publishes — goes through one handle
from ``fs_for(spark, path)``, and no other module knows how a path
string turns into a filesystem call. Handles take plain string paths
(or a path taken from one of their own listing results) and expose
the same ten FileSystem-shaped methods: ``exists``, ``getFileStatus``,
``listStatus``, ``listFiles``, ``delete``, ``mkdirs``, ``create``,
``open``, ``getContentSummary``, ``rename``; plus ``read_text``,
``write_text`` and ``publish_text`` for small marker files.

- Scheme-less (plain local) paths get the ``NativeFS`` singleton.
  Hadoop's LocalFileSystem is itself only a checksummed wrapper over
  the OS, while each Hadoop call from Python costs several py4j round
  trips (~10-50 ms of driver wall each) and a lifecycle commit makes
  hundreds of them: a round-12 event-log profile of one matview build
  measured 14.9 s of driver-side gaps between jobs against 13.8 s of
  job time.
- Every other scheme (``hdfs://``, ``s3a://``, ``file:``) gets a
  ``HadoopFS`` adapter over the Hadoop FileSystem for the path, so a
  lake can live on any store Hadoop reaches.

Both handles keep the semantics the engine relies on (those of HDFS,
which ``tests/test_fsio.py`` runs against both routes):

- ``rename`` returns False instead of raising: from a missing source,
  onto an existing file, into a missing parent. Renaming onto an
  existing directory moves the source INTO it. Same-filesystem
  ``os.rename`` keeps the publish protocol's atomic-swap guarantee.
- ``delete`` of a missing path returns False; a non-recursive delete
  of a non-empty directory raises; ``mkdirs`` is idempotent.
- ``create(p, overwrite=False)`` raises ``FileExistsError`` on an
  existing file; natively it is one atomic O_EXCL open (Hadoop's
  LocalFileSystem emulates it with a non-atomic exists() + create).
  ``create`` makes parents.
- ChecksumFileSystem writes ``.<name>.crc`` siblings next to files it
  creates. Native create/rename/delete keep those siblings consistent
  (drop a stale one, move it with the file), so a Hadoop-route read of
  a natively (re)written file never fails checksum verification.
  Hadoop listings hide the siblings; native listings show them, and
  callers skip dot-names anyway.
"""

from __future__ import annotations

import os
import shutil

from py4j.protocol import Py4JJavaError


def is_local(path: str) -> bool:
    """True for paths the OS can touch directly (no scheme). ``file:``
    URIs keep the Hadoop route — cheap, and spares us URI parsing."""
    return "://" not in path and not path.startswith("file:")


def _crc_sibling(path: str) -> str:
    d, name = os.path.split(path)
    return os.path.join(d, f".{name}.crc")


def _drop_crc(path: str) -> None:
    try:
        os.remove(_crc_sibling(path))
    except OSError:
        pass


class NativePath:
    """Hadoop ``Path``-shaped wrapper over a plain string."""

    __slots__ = ("_p",)

    def __init__(self, p: str):
        self._p = str(p)

    def getName(self) -> str:
        return os.path.basename(self._p.rstrip("/"))

    def __str__(self) -> str:  # f-string call sites
        return self._p

    def __repr__(self) -> str:
        return f"NativePath({self._p!r})"


class NativeStatus:
    """Hadoop ``FileStatus``-shaped wrapper over one ``os.stat``."""

    __slots__ = ("_p", "_is_dir", "_len", "_mtime_ms")

    def __init__(self, p: str, st: os.stat_result, is_dir: bool):
        self._p = p
        self._is_dir = is_dir
        self._len = st.st_size
        self._mtime_ms = int(st.st_mtime * 1000)

    def getPath(self) -> NativePath:
        return NativePath(self._p)

    def isDirectory(self) -> bool:
        return self._is_dir

    def isFile(self) -> bool:
        return not self._is_dir

    def getLen(self) -> int:
        return self._len

    def getModificationTime(self) -> int:
        return self._mtime_ms


class _NativeOut:
    """``fs.create`` return shape: ``write(bytes)`` + ``close``."""

    __slots__ = ("_f",)

    def __init__(self, path: str, overwrite: bool):
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        if overwrite:
            _drop_crc(path)  # a Hadoop-era checksum no longer describes us
            self._f = open(path, "wb")
        else:
            self._f = open(path, "xb")  # O_EXCL: FileExistsError if taken
            _drop_crc(path)

    def write(self, data: bytes) -> None:
        self._f.write(data)

    def close(self) -> None:
        self._f.close()


class _NativeIn:
    __slots__ = ("_f",)

    def __init__(self, path: str):
        self._f = open(path, "rb")

    def read(self) -> bytes:
        return self._f.read()

    def close(self) -> None:
        self._f.close()


class _RemoteIter:
    """Hadoop ``RemoteIterator`` shape over a Python iterator."""

    __slots__ = ("_it", "_next")

    _SENTINEL = object()

    def __init__(self, it):
        self._it = iter(it)
        self._next = self._SENTINEL

    def hasNext(self) -> bool:
        if self._next is self._SENTINEL:
            self._next = next(self._it, self._SENTINEL)
        return self._next is not self._SENTINEL

    def next(self):
        if not self.hasNext():
            raise StopIteration
        out, self._next = self._next, self._SENTINEL
        return out


def _status(p: str) -> NativeStatus:
    st = os.stat(p)
    return NativeStatus(p, st, os.path.isdir(p))


class _Publish:
    """The small-file publish both handles share."""

    def publish_text(self, path: str, text: str) -> None:
        """Replace ``path`` with ``text`` so a reader sees the old or
        the new content, never a torn file: write a dot-named tmp
        sibling (``create`` makes the parents), delete the target,
        rename the tmp into place. Raises when the rename fails."""
        path = path.rstrip("/")
        parent, name = path.rsplit("/", 1)
        tmp = f"{parent}/.{name}.tmp"
        out = self.create(tmp, True)
        out.write(text.encode("utf-8"))
        out.close()
        self.delete(path, True)
        if not self.rename(tmp, path):
            raise IOError(f"rename {tmp} -> {path} failed")


class NativeFS(_Publish):
    """The handle for plain local paths: the FileSystem API subset the
    engine calls, natively."""

    @staticmethod
    def _s(p) -> str:
        return str(p)

    def exists(self, p) -> bool:
        return os.path.lexists(self._s(p))

    def getFileStatus(self, p) -> NativeStatus:
        sp = self._s(p)
        if not os.path.lexists(sp):
            raise IOError(f"not found: {sp}")
        return _status(sp)

    def listStatus(self, p) -> list[NativeStatus]:
        sp = self._s(p)
        if not os.path.isdir(sp):
            if os.path.lexists(sp):
                return [_status(sp)]
            raise IOError(f"not found: {sp}")
        out = []
        with os.scandir(sp) as it:
            for e in it:
                st = e.stat()
                out.append(
                    NativeStatus(os.path.join(sp, e.name), st, e.is_dir())
                )
        return out

    def listFiles(self, p, recursive: bool = False) -> _RemoteIter:
        sp = self._s(p)

        def walk():
            if not recursive:
                for s in self.listStatus(sp):
                    if not s.isDirectory():
                        yield s
                return
            for root, _dirs, files in os.walk(sp):
                for name in files:
                    fp = os.path.join(root, name)
                    yield _status(fp)

        return _RemoteIter(walk())

    def delete(self, p, recursive: bool = False) -> bool:
        sp = self._s(p)
        if not os.path.lexists(sp):
            return False
        if os.path.isdir(sp) and not os.path.islink(sp):
            if not recursive and os.listdir(sp):
                raise IOError(f"dir not empty: {sp}")
            shutil.rmtree(sp, ignore_errors=True)
        else:
            try:
                os.remove(sp)
            except OSError:
                return False
            _drop_crc(sp)
        return True

    def mkdirs(self, p) -> bool:
        os.makedirs(self._s(p), exist_ok=True)
        return True

    def create(self, p, overwrite: bool = False) -> _NativeOut:
        return _NativeOut(self._s(p), overwrite)

    def open(self, p) -> _NativeIn:
        return _NativeIn(self._s(p))

    def getContentSummary(self, p):
        sp = self._s(p)
        total = 0
        for root, _dirs, files in os.walk(sp):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass

        class _Summary:
            __slots__ = ()

            @staticmethod
            def getLength() -> int:
                return total

        return _Summary()

    def rename(self, src, dst) -> bool:
        s, d = self._s(src), self._s(dst)
        if not os.path.lexists(s):
            return False
        if os.path.lexists(d):
            if os.path.isdir(d):
                target = os.path.join(d, os.path.basename(s.rstrip("/")))
                if os.path.lexists(target):
                    return False
                os.rename(s, target)
                self._move_crc(s, target)
                return True
            return False
        parent = os.path.dirname(d)
        if parent and not os.path.isdir(parent):
            return False  # Hadoop: rename into a missing parent fails
        os.rename(s, d)
        self._move_crc(s, d)
        return True

    @staticmethod
    def _move_crc(src_file: str, dst_file: str) -> None:
        """Keep a Hadoop checksum sibling travelling with its file
        (no-op for dirs — their inner .crc files moved with the
        tree)."""
        if os.path.isdir(dst_file):
            return
        crc_s, crc_d = _crc_sibling(src_file), _crc_sibling(dst_file)
        _drop_crc(dst_file)
        try:
            os.rename(crc_s, crc_d)
        except OSError:
            pass

    def read_text(self, p) -> str | None:
        try:
            with open(self._s(p), "r", encoding="utf-8") as f:
                return f.read()
        except OSError:
            return None

    def write_text(self, p, text: str) -> None:
        sp = self._s(p)
        parent = os.path.dirname(sp)
        if parent:
            os.makedirs(parent, exist_ok=True)
        _drop_crc(sp)
        with open(sp, "w", encoding="utf-8") as f:
            f.write(text)


_NATIVE_FS = NativeFS()


class _HadoopIn:
    """``open`` return shape over a Hadoop input stream: ``read()``
    returns the whole remaining content, as the native one does."""

    __slots__ = ("_jvm", "_s")

    def __init__(self, jvm, stream):
        self._jvm, self._s = jvm, stream

    def read(self) -> bytes:
        return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(self._s))

    def close(self) -> None:
        self._s.close()


class HadoopFS(_Publish):
    """The handle for every other scheme: ``NativeFS``'s methods over
    the Hadoop FileSystem that serves ``root``. Listing results are
    the JVM ``FileStatus``/``Path`` objects themselves."""

    def __init__(self, spark, root: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _p(self, p):
        return self._Path(p) if isinstance(p, str) else p

    def exists(self, p) -> bool:
        return self._fs.exists(self._p(p))

    def getFileStatus(self, p):
        return self._fs.getFileStatus(self._p(p))

    def listStatus(self, p):
        return self._fs.listStatus(self._p(p))

    def listFiles(self, p, recursive: bool = False):
        return self._fs.listFiles(self._p(p), recursive)

    def delete(self, p, recursive: bool = False) -> bool:
        return self._fs.delete(self._p(p), recursive)

    def mkdirs(self, p) -> bool:
        return self._fs.mkdirs(self._p(p))

    def create(self, p, overwrite: bool = False):
        try:
            return self._fs.create(self._p(p), overwrite)
        except Py4JJavaError as exc:
            if "FileAlreadyExistsException" in str(exc):
                raise FileExistsError(f"create failed, exists: {p}") from exc
            raise

    def open(self, p) -> _HadoopIn:
        return _HadoopIn(self._jvm, self._fs.open(self._p(p)))

    def getContentSummary(self, p):
        return self._fs.getContentSummary(self._p(p))

    def rename(self, src, dst) -> bool:
        # Stores differ at the edges (LocalFileSystem raises on a
        # missing source, creates a missing parent, and replaces an
        # EMPTY destination dir), so the HDFS semantics NativeFS keeps
        # are checked here first.
        fs, s, d = self._fs, self._p(src), self._p(dst)
        if not fs.exists(s):
            return False
        if fs.exists(d):
            if not fs.getFileStatus(d).isDirectory():
                return False
            d = self._Path(d, s.getName())
            if fs.exists(d):
                return False
        elif not fs.exists(d.getParent()):
            return False
        return fs.rename(s, d)

    def read_text(self, p) -> str | None:
        if not self.exists(p):
            return None
        stream = self.open(p)
        try:
            return stream.read().decode("utf-8")
        finally:
            stream.close()

    def write_text(self, p, text: str) -> None:
        out = self.create(p, True)
        out.write(text.encode("utf-8"))
        out.close()


def fs_for(spark, path: str):
    """The metadata-I/O handle for ``path``'s filesystem: the native
    singleton on local paths, a Hadoop adapter otherwise."""
    if is_local(path):
        return _NATIVE_FS
    return HadoopFS(spark, path)


def read_text(spark, path: str) -> str | None:
    """Contents of a small marker file, or None when absent."""
    return fs_for(spark, path).read_text(path)


def write_text(spark, path: str, text: str) -> None:
    """Overwrite a small marker file (parents created)."""
    fs_for(spark, path).write_text(path, text)


def live_data_size(fs, root: str) -> tuple[int, int] | None:
    """``(files, bytes)`` of the parquet files in a table's live tree,
    or None when ``root`` is absent. Dot/underscore names (retired
    versions, ``.meta``, sidecar indexes, staging, markers) are not
    live data and are never descended into."""
    if not fs.exists(root):
        return None
    files = size = 0
    stack = [root]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if name.startswith((".", "_")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            elif name.endswith(".parquet"):
                files += 1
                size += st.getLen()
    return files, size
