"""Filesystem abstraction: every metadata/manifest access in the engine goes
through this layer so a generation directory can live wherever the corpus
lives — local disk, ``file://``, ``hdfs://``, ``s3://`` — not just the local
POSIX tree (the reference's equivalent concern is delegated to the ES REST
API; an index engine that owns its storage must own the FS boundary).

Backbone is ``pyarrow.fs`` (always present, C++-side, the same FileSystem
classes pyarrow datasets use), resolved per-URI:

* scheme-less paths → ``LocalFileSystem``;
* ``file://``, ``hdfs://``, ``s3://``, ``gs://`` → ``FileSystem.from_uri``;
* any scheme pyarrow doesn't know (e.g. ``memory://``) falls back to fsspec
  via ``PyFileSystem(FSSpecHandler)`` when fsspec is importable.

Bulk data (postings/doclen/lineage parquet) is written by SPARK, which
resolves the same URIs through the Hadoop FileSystem — this module covers
the engine's own small-file metadata (`_meta.json`, `stats.json`, alias
manifests), directory listings, and commit renames.

Paths keep their URI form end-to-end ("file:///x/y" joins to
"file:///x/y/z"); ``resolve`` returns the (filesystem, fs-internal path)
pair for pyarrow calls.
"""

from __future__ import annotations

import json
import posixpath
import re
from typing import Any

from pyarrow import fs as pafs

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

#: "scheme://authority" -> (FileSystem, style) cache — keyed by authority so
#: distinct hdfs namenodes / s3 buckets-in-other-regions never share a
#: client; `style` records how the inner path must be derived on cache hits
#: ("from_uri" mirrors pyarrow's normalization, "fsspec" keeps the raw rest).
_FS_CACHE: dict[str, tuple[pafs.FileSystem, str]] = {}

#: schemes where pyarrow keeps the bucket as the first path segment
#: (from_uri("s3://bucket/a") -> (S3FileSystem, "bucket/a"))
_BUCKET_IN_PATH = {"s3", "s3a", "gs", "gcs"}


def _fsspec_fs(scheme: str) -> pafs.FileSystem:
    import fsspec

    return pafs.PyFileSystem(pafs.FSSpecHandler(fsspec.filesystem(scheme)))


def _inner_path(scheme: str, netloc: str, urlpath: str, rest: str,
                style: str) -> str:
    """Re-derive the fs-internal path the way the cached client's creation
    call did: from_uri strips the authority for authority-bearing schemes
    (hdfs://host:8020/a/b -> "/a/b") but keeps the bucket for s3-style
    stores; the fsspec fallback historically keeps the raw rest.

    from_uri also percent-DECODES the path (``%20`` -> space), so the
    from_uri-style branches must unquote too — otherwise the same URI
    resolves to two different inner paths depending on cache state."""
    if style == "fsspec":
        return rest
    from urllib.parse import unquote

    if scheme in _BUCKET_IN_PATH:
        return unquote(netloc) + unquote(urlpath)
    return unquote(urlpath) or "/"


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """path/URI → (FileSystem, path-inside-that-filesystem)."""
    m = _SCHEME_RE.match(path)
    if not m:
        hit = _FS_CACHE.get("")
        if hit is None:
            hit = _FS_CACHE[""] = (pafs.LocalFileSystem(), "local")
        return hit[0], path
    from urllib.parse import urlsplit

    parts = urlsplit(path)
    scheme = parts.scheme.lower()
    key = f"{scheme}://{parts.netloc}"
    hit = _FS_CACHE.get(key)
    if hit is not None:
        fs, style = hit
        return fs, _inner_path(scheme, parts.netloc, parts.path,
                               path[m.end():], style)
    try:
        fs, inner = pafs.FileSystem.from_uri(path)
        style = "from_uri"
    except (pafs.lib.ArrowInvalid, OSError, ValueError):
        fs = _fsspec_fs(scheme)
        inner = path[m.end():]
        style = "fsspec"
    _FS_CACHE[key] = (fs, style)
    return fs, inner


def join(base: str, *parts: str) -> str:
    """URI-safe path join (posix semantics on the path component)."""
    return posixpath.join(base, *parts)


def exists(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def mkdirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def delete_dir(path: str) -> None:
    """Recursive delete; missing path is a no-op (shutil.rmtree
    ignore_errors discipline)."""
    fs, p = resolve(path)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass
    except OSError:
        if fs.get_file_info(p).type != pafs.FileType.NotFound:
            raise


def delete_file(path: str) -> None:
    fs, p = resolve(path)
    fs.delete_file(p)


#: scheme -> callable(path: str, data: bytes) -> bool.  A registered backend
#: plugs a store's NATIVE conditional-put ("create iff absent": S3
#: If-None-Match:*, GCS ifGenerationMatch=0, ABS If-None-Match) into
#: create_exclusive, turning the alias-manifest lock into a true CAS on
#: that store instead of the check-then-write fallback.
_EXCLUSIVE_BACKENDS: dict[str, "object"] = {}


def register_exclusive_backend(scheme: str, fn) -> None:
    """Register a conditional-put primitive for ``scheme`` (e.g. "s3").
    ``fn(path, data) -> bool`` must atomically create ``path`` with
    ``data`` iff it does not exist, returning whether THIS call created
    it; the store's own precondition machinery provides the atomicity.
    Pass ``None`` to unregister."""
    key = scheme.lower()
    if fn is None:
        _EXCLUSIVE_BACKENDS.pop(key, None)
    else:
        _EXCLUSIVE_BACKENDS[key] = fn


def create_exclusive(path: str, data: bytes = b"") -> bool:
    """Create-if-absent: True when THIS call created the file, False when it
    already existed — the primitive mutual-exclusion building block for the
    alias-manifest lock.

    Resolution order: (1) a registered conditional-put backend for the
    path's scheme (object stores with native preconditions — a true CAS);
    (2) local filesystems get a real O_EXCL create (atomic even across
    processes); (3) everything else — including HDFS: pyarrow's
    open_output_stream exposes no exclusive-create flag and overwrites —
    falls back to check-then-write, which narrows but cannot close the
    race (the caller's owner-token re-check in plans/catalog narrows the
    remaining window further but is not a guarantee).
    """
    m = _SCHEME_RE.match(path)
    if m:
        backend = _EXCLUSIVE_BACKENDS.get(path[:m.end() - 3].lower())
        if backend is not None:
            return bool(backend(path, data))
    fs, p = resolve(path)
    if isinstance(fs, pafs.LocalFileSystem):
        import os

        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return True
    if fs.get_file_info(p).type != pafs.FileType.NotFound:
        return False
    with fs.open_output_stream(p) as f:
        f.write(data)
    return True


def move(src: str, dst: str) -> None:
    """Rename (atomic on POSIX/HDFS; copy+delete on object stores)."""
    fs, s = resolve(src)
    _, d = resolve(dst)
    fs.move(s, d)


def ls(path: str) -> list[pafs.FileInfo]:
    """Non-recursive listing; [] when the directory is missing."""
    fs, p = resolve(path)
    try:
        return fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []


def mtime_token(path: str) -> object:
    """Change token for cache keys (mtime where the FS provides one)."""
    fs, p = resolve(path)
    info = fs.get_file_info(p)
    return (info.mtime_ns if info.mtime_ns is not None else info.size)


def read_bytes(path: str) -> bytes:
    fs, p = resolve(path)
    with fs.open_input_stream(p) as f:
        return f.read()


def write_bytes(path: str, data: bytes) -> None:
    fs, p = resolve(path)
    with fs.open_output_stream(p) as f:
        f.write(data)


def read_text(path: str) -> str:
    return read_bytes(path).decode("utf-8")


def write_text(path: str, text: str) -> None:
    write_bytes(path, text.encode("utf-8"))


def read_json(path: str) -> Any:
    return json.loads(read_text(path))


def write_json(path: str, obj: Any, *, atomic: bool = False) -> None:
    data = json.dumps(obj, indent=2, sort_keys=True)
    if not atomic:
        write_text(path, data)
        return
    tmp = path + ".tmp"
    write_text(tmp, data)
    fs, _ = resolve(path)
    try:
        move(tmp, path)
    except OSError:
        # object stores without rename-over: plain overwrite is still
        # single-object-atomic there
        write_text(path, data)


def parquet_file_metadata(path: str):
    """Parquet footer read through the resolved filesystem."""
    import pyarrow.parquet as pq

    fs, p = resolve(path)
    return pq.read_metadata(p, filesystem=fs)


def parquet_dataset(path: str, **kw):
    """pyarrow.dataset over any supported FS (serving tier)."""
    import pyarrow.dataset as ds

    fs, p = resolve(path)
    return ds.dataset(p, filesystem=fs, **kw)
