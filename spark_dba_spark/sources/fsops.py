"""FileSystem metadata operations — the engine's "catalog" layer.

Python re-expression of the reference's HDFS utility suite
(`hdfsutil/HadoopFileSystemOperation.scala:19-197`,
`hdfsutil/HDFSAvroOperations.scala:19-136`,
`hdfsutil/HDFSStringUtil.scala:13-28` — see SURVEY.md §2.2 M1-M25). These
ops are integral to the compaction job's transactional semantics
(snapshot consistency check, trash-then-swap commit).

The module also holds the engine's pyarrow filesystem dispatch
(:func:`resolve_fs`): the Avro read/write does its file I/O through it, on
the driver and in the tasks, :func:`files_size` states scan files with
it, and :class:`FsOps` reads its metadata through it (existence, listings,
snapshots, path resolution): one ``get_file_info`` call per listing, with
no py4j round trip per entry. Mutations (rename, mkdirs, delete, create)
go through the JVM Hadoop FileSystem over py4j, and so does the read side
for any scheme ``resolve_fs`` cannot reach, so the same code works on
file://, hdfs:// and (with rename caveats) object stores.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession


def is_ignore_file(name: str) -> bool:
    """Hidden-file convention: '.'/'_' prefixes (Hadoop `_SUCCESS`, `.crc`).
    Mirrors HadoopFileSystemOperation.scala:157-164 (M20)."""
    base = name.rstrip("/").rsplit("/", 1)[-1]
    return base.startswith(".") or base.startswith("_")


def is_valid_data_file(name: str, ext: str) -> bool:
    """Suffix + not-hidden predicate (HDFSAvroOperations.scala:128-136, M8)."""
    base = name.rstrip("/").rsplit("/", 1)[-1]
    return base.lower().endswith(f".{ext.lower()}") and not is_ignore_file(base)


def unique_session_id() -> str:
    """Time-sortable unique token for tmp/trash naming
    (HDFSStringUtil.scala:22-28, M25)."""
    return f"{int(time.time() * 1000)}_{os.getpid()}_{random.randint(0, 10**6)}"


@dataclass(frozen=True)
class FileStat:
    """The consistency-checkpoint unit (HadoopFileSystemOperation.scala:59-65,
    M12): path identity + length + modification time (+ the dir flag the
    listing already carries — saves a getFileStatus RPC per child)."""

    path: str
    length: int
    mtime: int
    is_dir: bool = False


def _hadoop_stat(st) -> FileStat:
    """A Hadoop ``FileStatus`` proxy as a FileStat (a py4j round trip per
    attribute)."""
    return FileStat(
        st.getPath().toUri().getPath(),
        int(st.getLen()),
        int(st.getModificationTime()),
        bool(st.isDirectory()),
    )


def _arrow_stat(info, root: str, comp: str) -> FileStat:
    """A pyarrow ``FileInfo`` under the in-fs path ``root`` as a FileStat
    whose path sits under the Hadoop path component ``comp``, with
    Hadoop's units: milliseconds, and length 0 for a directory."""
    import pyarrow.fs as pafs

    is_dir = info.type == pafs.FileType.Directory
    return FileStat(
        comp.rstrip("/") + info.path[len(root.rstrip("/")):] or "/",
        0 if is_dir else int(info.size or 0),
        (info.mtime_ns or 0) // 1_000_000,
        is_dir,
    )


class FsOps:
    """Driver-side filesystem operations.

    Read-side metadata (predicates, listings, snapshots, M22 path
    resolution) goes through the pyarrow filesystem :func:`resolve_fs`
    gives the path: one ``get_file_info`` call per predicate or listing
    and no py4j round trip. Where ``resolve_fs`` has no filesystem for the
    scheme, the JVM Hadoop FileSystem serves them (:meth:`_arrow` chooses,
    in one place). Mutations (rename, mkdirs, delete, create) always go
    through Hadoop. Paths come back as Hadoop path components (scheme and
    authority dropped), whichever side listed them."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        # Each attribute step through a py4j JVM view is a round trip:
        # resolve the Path class once, not on every call.
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        # A bare path names fs.defaultFS, which pyarrow serves only when it
        # is the local filesystem.
        self._local_default = self._conf.get(
            "fs.defaultFS", "file:///"
        ).startswith("file:")

    def _path(self, p: str):
        return self._Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def _arrow(self, p: str):
        """``(pyarrow FileSystem, in-fs path, Hadoop path component)`` for
        ``p``, or None when Hadoop must serve it: ``resolve_fs`` has no
        filesystem for its scheme, or ``p`` is a bare path and
        ``fs.defaultFS`` is not local."""
        if "://" not in p:
            if not self._local_default:
                return None
            import pyarrow.fs as pafs

            comp = os.path.abspath(_uri_path_component(p))
            return pafs.LocalFileSystem(), comp, comp
        try:
            fs, root = resolve_fs(p)
        except ValueError:
            return None
        return fs, root.rstrip("/") or root, _uri_path_component(p).rstrip("/") or "/"

    def _stat(self, p: str) -> FileStat | None:
        """``p``'s own FileStat, None when nothing is there."""
        arrow = self._arrow(p)
        if arrow is None:
            fs, jp = self._fs(p), self._path(p)
            return _hadoop_stat(fs.getFileStatus(jp)) if fs.exists(jp) else None
        import pyarrow.fs as pafs

        fs, root, comp = arrow
        info = fs.get_file_info(root)
        if info.type == pafs.FileType.NotFound:
            return None
        return _arrow_stat(info, root, comp)

    def _listing(self, p: str, recursive: bool) -> list[FileStat]:
        """Children of ``p`` (every file below it when ``recursive``,
        directories omitted, as Hadoop's ``listFiles``), sorted by path. A
        file lists as itself; a missing path raises."""
        arrow = self._arrow(p)
        if arrow is None:
            fs, jp = self._fs(p), self._path(p)
            if recursive:
                out, it = [], fs.listFiles(jp, True)
                while it.hasNext():
                    out.append(_hadoop_stat(it.next()))
            else:
                out = [_hadoop_stat(st) for st in fs.listStatus(jp)]
        else:
            import pyarrow.fs as pafs

            fs, root, comp = arrow
            try:
                infos = fs.get_file_info(pafs.FileSelector(root, recursive=recursive))
            except NotADirectoryError:
                infos = [fs.get_file_info(root)]
            out = [_arrow_stat(i, root, comp) for i in infos]
            if recursive:
                out = [s for s in out if not s.is_dir]
        return sorted(out, key=lambda s: s.path)

    # -- predicates (M19) --------------------------------------------------
    def exists(self, p: str) -> bool:
        return self._stat(p) is not None

    def is_dir(self, p: str) -> bool:
        st = self._stat(p)
        return st is not None and st.is_dir

    def is_file(self, p: str) -> bool:
        st = self._stat(p)
        return st is not None and not st.is_dir

    # -- listings ----------------------------------------------------------
    def list_status(self, p: str) -> list[FileStat]:
        """Raw child listing as FileStats (M12)."""
        return self._listing(p, recursive=False)

    def list_visible_status(self, p: str) -> list[FileStat]:
        """Non-hidden children (M11)."""
        return [s for s in self.list_status(p) if not is_ignore_file(s.path)]

    def list_files_recursive(self, p: str) -> list[FileStat]:
        """Recursive file listing (M14): one ``get_file_info`` call on the
        pyarrow side; on the Hadoop side, several py4j round trips per
        file. NameNode-bound on huge trees either way — the reference
        flags this as its own perf hazard."""
        return self._listing(p, recursive=True)

    def list_leaf_data_folders(self, root: str, ext: str) -> list[str]:
        """Distinct parent dirs of every valid data file under root —
        leaf partition discovery (HDFSAvroOperations.scala:19-33, M1)."""
        parents = {
            s.path.rsplit("/", 1)[0]
            for s in self.list_files_recursive(root)
            if is_valid_data_file(s.path, ext)
        }
        return sorted(parents)

    def count_data_files(self, folder: str, ext: str) -> int:
        """Valid data files directly in folder (M2)."""
        return sum(
            1
            for s in self.list_status(folder)
            if not s.is_dir and is_valid_data_file(s.path, ext)
        )

    def is_valid_data_directory(self, folder: str, ext: str) -> bool:
        """Exact M4 semantics (HDFSAvroOperations.scala:56-75): after
        ignoring hidden entries the folder must be non-empty, contain no
        foreign files, and hold EITHER only valid data files OR only
        subdirectories (the latter is a partitioned root — the reference
        applies this same predicate at root level,
        DefragmentAvroFolder.scala:152)."""
        if not self.is_dir(folder):
            return False
        visible = self.list_visible_status(folder)
        if not visible:
            return False
        n_data = n_foreign = n_dirs = 0
        for st in visible:
            if st.is_dir:
                n_dirs += 1
            elif is_valid_data_file(st.path, ext):
                n_data += 1
            else:
                n_foreign += 1
        if n_foreign > 0 or (n_data > 0 and n_dirs > 0):
            return False
        return True

    def is_valid_data_root_directory(self, folder: str, ext: str) -> bool:
        """Strict root variant of :meth:`is_valid_data_directory` (M5,
        HDFSAvroOperations.scala:78-98): the folder must exist, be
        non-empty after ignoring hidden entries, and contain only valid
        data FILES — subdirectories disqualify it (the root check rejects
        partitioned layouts; dead code in the reference, kept for parity)."""
        if not self.is_dir(folder):
            return False
        visible = self.list_visible_status(folder)
        if not visible:
            return False
        for st in visible:
            if st.is_dir or not is_valid_data_file(st.path, ext):
                return False
        return True

    def copy_from_local(self, local_path: str, target_folder: str,
                        overwrite: bool = False) -> str:
        """Upload a driver-local file into a (possibly remote) folder (M15,
        HadoopFileSystemOperation.scala:95-101). Returns the destination
        path. Unused by the reference's main job but part of its utility
        surface."""
        name = local_path.rstrip("/").rsplit("/", 1)[-1]
        dest = target_folder.rstrip("/") + "/" + name
        if self.exists(dest) and not overwrite:
            raise FileExistsError(dest)
        self.mkdirs(target_folder)
        self._fs(target_folder).copyFromLocalFile(
            False,  # keep the local source
            overwrite,
            self._path(local_path),
            self._path(dest),
        )
        return dest

    def data_size(self, folder: str, ext: str) -> int:
        """Total bytes of valid data files (M6) — input to dynamic file
        sizing (the reference's 'In Progress' feature, README.md:21)."""
        return sum(
            s.length
            for s in self.list_status(folder)
            if not s.is_dir and is_valid_data_file(s.path, ext)
        )

    def latest_modified_file(self, folder: str, ext: str) -> str | None:
        """Path of the newest data file (M7): 'latest file has latest
        schema' (DefragmentAvroFolder.scala:91-103)."""
        cands = [
            s
            for s in self.list_status(folder)
            if not s.is_dir and is_valid_data_file(s.path, ext)
        ]
        if not cands:
            return None
        return max(cands, key=lambda s: (s.mtime, s.path)).path

    def default_block_size(self, p: str) -> int:
        """(M18)"""
        return int(self._fs(p).getDefaultBlockSize(self._path(p)))

    # -- snapshot consistency (M12/M13) ------------------------------------
    def snapshot(self, folder: str) -> list[FileStat]:
        return self.list_status(folder)

    @staticmethod
    def equals_snapshot(a: list[FileStat], b: list[FileStat]) -> bool:
        """Element-wise equality → the optimistic-concurrency check
        (HadoopFileSystemOperation.scala:73-79, M13)."""
        return a == b

    # -- mutations ---------------------------------------------------------
    def rename(self, src: str, dst: str) -> bool:
        """The commit primitive (M10). Atomic on HDFS/posix; on object
        stores this is copy+delete — callers must treat non-atomicity as a
        deployment constraint (same caveat as the reference)."""
        return self._fs(src).rename(self._path(src), self._path(dst))

    def mkdirs(self, p: str) -> bool:
        return self._fs(p).mkdirs(self._path(p))

    def delete(self, p: str, recursive: bool = False) -> bool:
        return self._fs(p).delete(self._path(p), recursive)

    def write_text_file(self, p: str, lines: list[str], overwrite: bool = True) -> None:
        """Small driver-side file write (M9; used for the audit log)."""
        out = self._fs(p).create(self._path(p), overwrite)
        try:
            out.write(bytearray("\n".join(lines).encode("utf-8")))
        finally:
            out.close()

    def read_bytes(self, p: str, max_bytes: int) -> bytes:
        """Read up to max_bytes from the head of a file (M17 variant) —
        e.g. container-format headers without pulling the whole file."""
        stream = self._fs(p).open(self._path(p))
        try:
            # InputStream.readNBytes (Java 9+): one bulk py4j byte[] transfer
            return bytes(stream.readNBytes(max_bytes))
        finally:
            stream.close()

    def read_text_file(self, p: str) -> str:
        """Open and read a small text file (M17; .avsc / DDL schemas)."""
        stream = self._fs(p).open(self._path(p))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def resolved_path(self, p: str) -> str:
        """Scheme-independent resolved path component (M22,
        HadoopFileSystemOperation.scala:173-180): the path qualified
        against its filesystem, so hdfs://nn/path, file:///path and /path
        compare equal. On the pyarrow side that is the absolute path
        component, which is what Hadoop's ``resolvePath`` returns on the
        local filesystem (it does not follow a local symlink either). The
        Hadoop fallback still calls ``fs.resolvePath``, which follows
        symlinks where the filesystem has them, and only qualifies a path
        that does not exist yet."""
        arrow = self._arrow(p)
        if arrow is not None:
            return arrow[2]
        jp = self._path(p)
        fs = self._fs(p)
        try:
            return fs.resolvePath(jp).toUri().getPath()
        except Exception:
            return fs.makeQualified(jp).toUri().getPath()

    def relative_partition(self, root: str, child: str) -> str:
        """Partition-relative path over *resolved* URIs (M21 + M22) — safe
        for qualified roots (hdfs://nn/path vs /path) and symlinks."""
        return self.partition_path(self.resolved_path(root), self.resolved_path(child))

    @staticmethod
    def partition_path(root: str, child: str) -> str:
        """Partition-relative path = child minus root prefix
        (HadoopFileSystemOperation.scala:167-169, M21). String-only: callers
        with possibly-qualified URIs should use :meth:`relative_partition`."""
        root = root.rstrip("/")
        child = child.rstrip("/")
        if child == root:
            return ""
        if not child.startswith(root + "/"):
            raise ValueError(f"{child} is not under {root}")
        return child[len(root):]


# ---------------------------------------------------------------------------
# pyarrow.fs scheme dispatch (the Avro read/write, catalog.load_par's sizing)
# ---------------------------------------------------------------------------

# Test-extensible scheme registry: scheme -> factory(uri) -> (FileSystem,
# in-fs path). Registered factories run on the DRIVER only; the resolved
# pyarrow FileSystem object (picklable by contract) travels to executors
# inside the task closure.
_FS_SCHEMES: dict[str, Any] = {}


def register_fs_scheme(scheme: str, factory) -> None:
    """Register ``factory(uri) -> (pyarrow.fs.FileSystem, path)`` for a URI
    scheme — lets tests (or deployments with exotic stores) route the avro
    sink/scan through any pyarrow-compatible filesystem."""
    _FS_SCHEMES[scheme] = factory


def resolve_fs(path: str):
    """Path/URI → ``(pyarrow FileSystem, path-within-fs)``.

    Local paths and ``file://`` → LocalFileSystem; registered schemes →
    their factory; anything else (``hdfs://``, ``s3://``, ``gs://``) →
    ``pyarrow.fs.FileSystem.from_uri`` — the reference's any-Hadoop-FS sink
    posture (``DefragmentAvroFolder.scala:298``) without a spark-avro jar.
    """
    import pyarrow.fs as pafs

    if "://" in path:
        scheme = path.split("://", 1)[0]
        if scheme in _FS_SCHEMES:
            return _FS_SCHEMES[scheme](path)
        if scheme == "file":
            return pafs.LocalFileSystem(), path[len("file://"):]
        # Hadoop spells S3 as s3a:// / s3n://; pyarrow only knows s3://.
        if scheme in ("s3a", "s3n"):
            path = "s3://" + path.split("://", 1)[1]
        try:
            return pafs.FileSystem.from_uri(path)
        except Exception as exc:
            raise ValueError(
                f"pyarrow has no filesystem for {path!r} ({exc}); register "
                "one with register_fs_scheme(), or use the Hadoop-FS read "
                "fallback (read_avro_folder falls back automatically)"
            ) from exc
    return pafs.LocalFileSystem(), path


def _uri_path_component(p: str) -> str:
    """Hadoop-style path component of a URI: scheme AND authority dropped
    (``hdfs://nn:8020/data/x`` → ``/data/x``, ``file:/x`` → ``/x``). Plain
    paths pass through. Note this is NOT always the path-within-fs that
    :func:`resolve_fs` produces (pyarrow keeps the bucket in S3 paths, and
    registered-scheme factories define their own mapping) — callers must
    rebase onto the resolved root, see :func:`_rebase_onto_root`."""
    if "://" in p:
        rest = p.split("://", 1)[1]
        i = rest.find("/")
        return rest[i:] if i >= 0 else "/"
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


def _rebase_onto_root(file_uri: str, base_uri: str, root: str) -> str:
    """Map a per-file Hadoop URI (as a ``binaryFile`` listing of
    ``base_uri`` or ``DataFrame.inputFiles()`` reports it) onto the path-within-fs space of ``resolve_fs(
    base_uri) -> (fs, root)``: take the file's path component relative to
    the base's path component and append it to ``root``. Naive scheme
    stripping is wrong for authority-bearing URIs (``hdfs://nn:8020/d/x``
    must NOT become ``nn:8020/d/x``) and for filesystems whose in-fs paths
    are not URI paths (S3 keeps the bucket; SubTree-style factories use
    relative roots). Falls back to the bare path component when the file
    does not sit under the base (defensive; binaryFile listings always
    do)."""
    comp = _uri_path_component(file_uri)
    base = _uri_path_component(base_uri).rstrip("/")
    if base and comp.startswith(base) and (
        len(comp) == len(base) or comp[len(base)] == "/"
    ):
        suffix = comp[len(base):]
        return (root.rstrip("/") + suffix) if suffix else (root or comp)
    return comp


def files_size(base_uri: str, file_uris: list[str]) -> int:
    """Summed byte size of ``file_uris`` (Hadoop URIs under ``base_uri``,
    as ``DataFrame.inputFiles()`` lists them), stated through the pyarrow
    filesystem :func:`resolve_fs` gives ``base_uri``: one batched
    ``get_file_info`` call. Raises when the scheme has no pyarrow
    filesystem or a file is missing."""
    import pyarrow.fs as pafs
    from urllib.parse import unquote

    fs, root = resolve_fs(base_uri)
    infos = fs.get_file_info(
        [_rebase_onto_root(unquote(u), base_uri, root) for u in file_uris]
    )
    missing = [i.path for i in infos if i.type != pafs.FileType.File]
    if missing:
        raise FileNotFoundError(missing[0])
    return sum(i.size for i in infos)
