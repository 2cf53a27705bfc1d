"""Filesystem shim for the format layer — URI-transparent file IO.

The reference reads and writes ``gs://`` paths transparently via
``tf.io.gfile`` (/root/reference/tfrecorder/beam_image.py:66,
utils.py:109-119). The Spark-first analog routes scheme-qualified URIs
through Hadoop's FileSystem API (already on Spark's classpath, already
configured with the cluster's credentials) and plain paths / ``file://``
URIs through the local filesystem.

Two execution contexts, two capabilities:

* DRIVER: full routing. ``gs://`` / ``s3a://`` / ``hdfs://`` etc. go
  through ``spark._jvm`` Hadoop FS — create/open/mkdirs/rename/delete.
  All artifact writes (vocab assets, schema JSON, logs, manifests,
  empty-shard touches) happen on the driver and get remote-FS support
  for free.
* EXECUTORS (inside mapPartitions/mapInPandas tasks): no py4j gateway
  exists in Python workers, so Hadoop FS is unreachable from Python.
  ``file://`` URIs and plain paths work (shared filesystem — the
  local-mode and NFS/fuse-mount cluster shapes); a non-file scheme
  raises with an actionable message instead of writing to a bogus
  local path. A cluster deployment writing shards straight to object
  storage should either fuse-mount the bucket or swap the shard writer
  for a committer-based sink — the single choke point to change is
  :func:`open_output` here.

Every format-layer module (sinks/tfrecord.py, sinks/artifacts.py,
functions/tfrecord_io.py, api.py) routes its file IO through this
module; nothing else in the repo calls ``open()``/``os`` on output
paths directly.
"""

from __future__ import annotations

import io
import os
import re
import shutil

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")
# Hadoop Path.toString() normalizes file:///x to file:/x (single slash).
# Spark APIs hand these back (e.g. df.inputFiles, job dirs), so the file
# scheme must also be recognized in its one-slash form — otherwise the
# URI is mistaken for a relative path and writes land under CWD in a
# literal "file:" directory.
_FILE_ONE_SLASH_RE = re.compile(r"^file:/(?!/)", re.IGNORECASE)


def parse_uri(path: str) -> tuple[str | None, str]:
    """Split ``scheme://rest`` -> (scheme, rest); plain paths -> (None, path).

    ``file:/abs/path`` (Hadoop's normalized single-slash form) is also
    recognized as the file scheme, with rest keeping its leading slash.
    Windows drive letters are not schemes (single char); any
    single-letter "scheme" is treated as a plain path.
    """
    m = _SCHEME_RE.match(path)
    if m and len(m.group(1)) >= 2:
        return m.group(1).lower(), path[m.end() :]
    if _FILE_ONE_SLASH_RE.match(path):
        return "file", path[len("file:") :]
    return None, path


def is_local(path: str) -> bool:
    scheme, _ = parse_uri(path)
    return scheme in (None, "file")


def to_local(path: str) -> str:
    """Strip a ``file://`` scheme; raise for any other scheme.

    ``file://host/path`` host components are not supported (matches
    Hadoop's LocalFileSystem, which only accepts empty authority).
    """
    scheme, rest = parse_uri(path)
    if scheme is None:
        return path
    if scheme == "file":
        # file:///abs/path and file:/abs/path both -> /abs/path
        return rest if rest.startswith("/") else "/" + rest
    raise ValueError(
        f"path {path!r} has remote scheme {scheme!r}: remote filesystems are "
        "reachable from the driver only (Hadoop FS via the JVM gateway); "
        "executor-side Python tasks need a shared/fuse-mounted filesystem "
        "or a committer-based sink"
    )


def _hadoop(path: str):
    """(FileSystem, Path) for a scheme-qualified URI via the active
    SparkSession's JVM. Driver-only by construction."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to route {path!r} through Hadoop FS"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    fs = jpath.getFileSystem(conf)
    return fs, jpath, jvm


class _HadoopWriter(io.RawIOBase):
    """Minimal binary file-like over an FSDataOutputStream."""

    def __init__(self, stream):
        self._stream = stream

    def write(self, data) -> int:
        self._stream.write(bytes(data))
        return len(data)

    def writable(self) -> bool:
        return True

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
        super().close()


def open_output(path: str, mode: str = "wb"):
    """Open ``path`` for (over)writing. Local paths/file:// URIs use
    ``open``; remote schemes use Hadoop FS ``create`` (driver only)."""
    if is_local(path):
        return open(to_local(path), mode)
    fs, jpath, _ = _hadoop(path)
    stream = fs.create(jpath, True)
    raw = _HadoopWriter(stream)
    return raw if "b" in mode else io.TextIOWrapper(raw, encoding="utf-8")


def open_input(path: str, mode: str = "rb"):
    """Open ``path`` for reading. Remote reads materialize the file into
    memory (format-layer files — vocab assets, schema JSON, TFRecord
    shards read on the driver — are small or already whole-file reads)."""
    if is_local(path):
        return open(to_local(path), mode)
    fs, jpath, jvm = _hadoop(path)
    stream = fs.open(jpath)
    try:
        data = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    if "b" in mode:
        return io.BytesIO(data)
    return io.StringIO(data.decode("utf-8"))


def makedirs(path: str, exist_ok: bool = True) -> None:
    if is_local(path):
        os.makedirs(to_local(path), exist_ok=exist_ok)
        return
    fs, jpath, _ = _hadoop(path)
    # Hadoop mkdirs is idempotent, so exist_ok=False is a check first
    # (not atomic against a concurrent creator, unlike the local path)
    if not exist_ok and fs.exists(jpath):
        raise FileExistsError(path)
    fs.mkdirs(jpath)


def exists(path: str) -> bool:
    if is_local(path):
        return os.path.exists(to_local(path))
    fs, jpath, _ = _hadoop(path)
    return bool(fs.exists(jpath))


def replace(src: str, dst: str) -> None:
    """Atomic-on-local rename; Hadoop rename for remote (delete-then-
    rename, the non-atomic object-store reality the commit-protocol note
    in sinks/tfrecord.py already documents)."""
    if is_local(src) and is_local(dst):
        os.replace(to_local(src), to_local(dst))
        return
    fs, jsrc, _ = _hadoop(src)
    _, jdst, _ = _hadoop(dst)
    if fs.exists(jdst):
        fs.delete(jdst, False)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename {src!r} -> {dst!r} failed")


def remove(path: str) -> None:
    if is_local(path):
        os.remove(to_local(path))
        return
    fs, jpath, _ = _hadoop(path)
    fs.delete(jpath, False)


def listdir(path: str) -> list[str]:
    """Entry names directly under directory ``path`` (missing -> [])."""
    if is_local(path):
        local = to_local(path)
        return os.listdir(local) if os.path.isdir(local) else []
    fs, jpath, _ = _hadoop(path)
    if not fs.exists(jpath):
        return []
    return [status.getPath().getName() for status in fs.listStatus(jpath)]


def list_dirs(path: str) -> list[str]:
    """Sorted names of the directories directly under ``path``
    (missing -> [])."""
    if is_local(path):
        local = to_local(path)
        if not os.path.isdir(local):
            return []
        with os.scandir(local) as entries:
            return sorted(e.name for e in entries if e.is_dir())
    fs, jpath, _ = _hadoop(path)
    if not fs.exists(jpath):
        return []
    return sorted(
        status.getPath().getName()
        for status in fs.listStatus(jpath)
        if status.isDirectory()
    )


def qualify(path: str) -> str:
    """Absolute, scheme-qualified ``path``, spelled as Spark's file
    listing spells the paths under it: ``file:/abs/path`` for a local
    path (a relative one resolves against this process's working
    directory, not the JVM's), Hadoop's ``makeQualified`` otherwise."""
    if is_local(path):
        return "file:" + os.path.abspath(to_local(path))
    fs, jpath, _ = _hadoop(path)
    return str(fs.makeQualified(jpath).toString())


# Spark globs every path handed to a file reader that contains one of
# these (DataSource.checkAndGlobPathIfNecessary); Hadoop's glob takes a
# backslash to mean "the next character is literal".
_GLOB_META_RE = re.compile(r"([\\{}\[\]*?])")


def glob_escape(path: str) -> str:
    """``path`` with Hadoop glob metacharacters backslash-escaped, for a
    Spark reader to take literally: unescaped, ``out[1]`` is a pattern
    that matches ``out1`` and not itself."""
    return _GLOB_META_RE.sub(r"\\\1", path)


def remove_tree(path: str) -> None:
    """Recursive delete (directory trees; missing path is a no-op)."""
    if is_local(path):
        local = to_local(path)
        if os.path.exists(local):
            shutil.rmtree(local)
        return
    fs, jpath, _ = _hadoop(path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def swap_dir(src: str, dst: str) -> None:
    """Replace directory ``dst`` with directory ``src`` (compaction
    commit): the old tree is parked aside, the new one renamed in, then
    the old tree deleted — the window where ``dst`` is missing is one
    rename, not a full rewrite."""
    old = dst.rstrip("/") + "__old"
    remove_tree(old)
    if is_local(src) and is_local(dst):
        parked = os.path.exists(to_local(dst))
        if parked:
            os.replace(to_local(dst), to_local(old))
        try:
            os.replace(to_local(src), to_local(dst))
        except OSError:
            if parked:  # roll the live tree back before surfacing
                os.replace(to_local(old), to_local(dst))
            raise
        remove_tree(old)
        return
    fs, jsrc, _ = _hadoop(src)
    _, jdst, _ = _hadoop(dst)
    _, jold, _ = _hadoop(old)
    parked = bool(fs.exists(jdst))
    if parked and not fs.rename(jdst, jold):
        raise OSError(f"rename {dst!r} -> {old!r} failed")
    if not fs.rename(jsrc, jdst):
        if parked:  # roll the live tree back before surfacing
            fs.rename(jold, jdst)
        raise OSError(f"rename {src!r} -> {dst!r} failed")
    remove_tree(old)


def copyfile(src: str, dst: str) -> None:
    if is_local(src) and is_local(dst):
        shutil.copyfile(to_local(src), to_local(dst))
        return
    with open_input(src, "rb") as r, open_output(dst, "wb") as w:
        w.write(r.read())


def join(path: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join would)."""
    if is_local(path) and parse_uri(path)[0] is None:
        return os.path.join(path, *parts)
    return "/".join([path.rstrip("/")] + [p.strip("/") for p in parts])
