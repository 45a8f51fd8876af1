"""Filesystem adapter for the commit protocols in sources/commit.py.

The commit/manifest/marker protocols need only a tiny FS surface:
existence/listing, recursive delete, rename, and — the commit point
itself — an ATOMIC single-object publish. The local implementation is
plain os/open; everything with a non-file scheme (s3a://, gs://, the
hdfs:// family, ...) routes through the JVM Hadoop FileSystem that
Spark itself uses for the same path, so the data files Spark writes and
the manifest/marker objects this module writes land on the SAME store
through the SAME connector configuration (ADVICE r5: previously a
non-file scheme was silently stripped and everything went to a local
relative path — the one case manifest mode exists for).

Atomicity contract of `put_text_atomic`:
  * LocalFS — write to a same-directory temp file, fsync, rename()
    (atomic on POSIX);
  * HadoopFS on flat object stores (s3/s3a/gs/oss/...) — one
    create(overwrite=True) stream: the PUT becomes visible atomically
    at close, which is exactly the single-object commit unit the
    manifest protocol is designed around, and rename there would be a
    non-atomic copy+delete;
  * HadoopFS on mutable-file schemes (hdfs, file, abfs, ...) —
    create() truncates in place and bytes can be observed before
    close, so the write goes to a temp sibling and lands via
    FileContext.rename(OVERWRITE), which IS atomic on these
    filesystems.

Scheme-less paths and file:// are local; anything else requires an
active SparkSession (the JVM gateway) and raises a clear error instead
of silently writing to the wrong place.
"""

from __future__ import annotations

import os
import shutil
import uuid


def is_posix_path(path: str) -> bool:
    """Local filesystem paths get the atomic-rename fast path; anything
    with a non-file scheme (s3a://, gs://, ...) must use manifest mode."""
    if "://" not in path:
        return True
    return path.split("://", 1)[0] == "file"


def strip_scheme(path: str) -> str:
    return path.split("://", 1)[1] if "://" in path else path


class LocalFS:
    """os/open-backed implementation for scheme-less and file:// paths."""

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        return sorted(os.listdir(p))

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def put_text_atomic(self, p: str, text: str) -> None:
        d, name = os.path.split(p)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, p)

    def create_exclusive(self, p: str, text: str) -> bool:
        """Atomically create `p` with `text` iff it does not already
        exist (POSIX O_EXCL) — the lock-file primitive. Returns False
        when another writer holds the name."""
        os.makedirs(os.path.dirname(p), exist_ok=True)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        return True

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def delete(self, p: str) -> None:
        """Recursive delete; files and missing paths are fine (matches
        Hadoop FileSystem.delete(path, recursive=true) semantics)."""
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass

    def mtime(self, p: str) -> float:
        return os.path.getmtime(p)

    def size(self, p: str) -> int:
        return os.path.getsize(p)


# schemes with no atomic in-place mutation but atomic single-object
# PUTs (flat blob namespaces — rename there is client-side copy+delete,
# strictly worse than one PUT); everything else is treated as a mutable
# filesystem with atomic rename (hdfs, file, abfs/abfss hierarchical
# namespaces, ...). wasb/wasbs are flat Azure blob; Tencent COS's
# Hadoop scheme is cosn.
_FLAT_OBJECT_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "oss", "swift", "cosn", "obs",
    "wasb", "wasbs",
}


class HadoopFS:
    """JVM org.apache.hadoop.fs.FileSystem-backed implementation —
    resolved per-path from the SparkSession's Hadoop configuration, so
    it honors whatever connector/credentials Spark's own parquet I/O on
    that path uses (s3a committers, gs connector, hdfs, ...)."""

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        jpath = self._jvm.org.apache.hadoop.fs.Path(path)
        self._fs = jpath.getFileSystem(self._conf)
        self._scheme = path.split("://", 1)[0] if "://" in path else "file"

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._p(p)))

    def isdir(self, p: str) -> bool:
        jp = self._p(p)
        return bool(self._fs.exists(jp)) and bool(
            self._fs.getFileStatus(jp).isDirectory()
        )

    def listdir(self, p: str) -> list[str]:
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(self._p(p))
        )

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._p(p))

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._p(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def _create(self, p: str, text: str) -> None:
        out = self._fs.create(self._p(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _file_context(self):
        """FileContext for atomic-overwrite renames, or None when the
        scheme has no AbstractFileSystem registration (some connectors
        ship FileSystem only) — those fall back to the single-PUT path
        rather than failing every commit."""
        if not hasattr(self, "_fc"):
            try:
                self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                    self._fs.getUri(), self._conf
                )
            except Exception:
                self._fc = None
        return self._fc

    def put_text_atomic(self, p: str, text: str) -> None:
        fc = (
            None
            if self._scheme in _FLAT_OBJECT_SCHEMES
            else self._file_context()
        )
        if fc is None:
            # one PUT, atomically visible at close — the object-store
            # commit unit (rename there is a non-atomic copy+delete);
            # also the fallback for schemes without an
            # AbstractFileSystem registration
            self._create(p, text)
            return
        # mutable filesystems: create() truncates the live object and a
        # concurrent reader can observe the partial file — stage a temp
        # sibling and land it with the ATOMIC overwrite rename
        # (FileContext, the same primitive Spark's HDFSMetadataLog uses)
        tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
        self._create(tmp, text)
        try:
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(Rename, 1)
            opts[0] = Rename.OVERWRITE
            fc.rename(self._p(tmp), self._p(p), opts)
        except Exception:
            self._fs.delete(self._p(tmp), False)  # no residue on failure
            raise

    def create_exclusive(self, p: str, text: str) -> bool:
        """create(path, overwrite=false): atomic-exclusive on HDFS and
        hierarchical-namespace stores (the HDFS lease manager / ABFS
        conditional create reject the second writer); on flat object
        stores the PUT cannot be conditional through this API, so the
        "lock" is advisory there — which is why commit_manifest_entries
        keeps its read-back merge/retry underneath the lock."""
        try:
            out = self._fs.create(self._p(p), False)
        except Exception as e:
            # only the exists-collision means "lock held" — auth/
            # network/quota failures must surface, not read as
            # contention (a swallowed AccessDenied would spin the
            # acquire loop for its whole timeout and then report a
            # misleading TimeoutError)
            msg = str(e)
            if "AlreadyExists" in msg or "already exists" in msg.lower():
                return False
            # ADVICE r7: some connectors wrap or localize the collision
            # error (RemoteException rendering, translated messages) —
            # before surfacing, probe the path: if it EXISTS this was
            # routine lock contention, not a store failure, and raising
            # would turn every contended commit into a hard error
            try:
                if self.exists(p):
                    return False
            except Exception:
                pass  # probe failed too: surface the original error
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"hadoop fs rename failed: {src} -> {dst}")

    def delete(self, p: str) -> None:
        self._fs.delete(self._p(p), True)

    def mtime(self, p: str) -> float:
        return self._fs.getFileStatus(self._p(p)).getModificationTime() / 1000.0

    def size(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._p(p)).getLen())


def get_fs(path: str, spark=None) -> tuple[object, str]:
    """-> (fs implementation, normalized path). Local paths come back
    scheme-stripped for os-level use; Hadoop paths keep their full URI
    (the Hadoop Path API needs it, and Spark reads the same URI)."""
    if is_posix_path(path):
        return LocalFS(), strip_scheme(path)
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        raise NotImplementedError(
            f"path {path!r} has a non-file scheme; commit-protocol I/O on "
            "it needs an active SparkSession (Hadoop FileSystem gateway) — "
            "refusing to fall back to local relative paths"
        )
    return HadoopFS(spark, path), path


def canonical(fs, root: str) -> str:
    """`root` (from get_fs) however it is spelled: absolute for a local
    path, without a trailing slash for a URI."""
    return os.path.abspath(root) if isinstance(fs, LocalFS) else root.rstrip("/")
