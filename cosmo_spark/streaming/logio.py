"""Scheme-portable filesystem shim for the streaming log family.

The sketch logs (streaming/sketches.py), the foreachBatch keeper logs
(streaming/neardup.py), and the media fingerprint store
(sources/media_fps.py) publish through small filesystem protocols
(stage → fsync → manifest swap → rename → verified delete).  Round 12
shipped those protocols local-FS-only (``os.rename``/``os.listdir``/
``shutil``), which silently voids their atomicity story on the storage a
100 TB deployment actually uses (r12 verdict #2).  This module is the one
place the protocols touch a filesystem:

- **bare local paths** (no scheme) keep the pure-``os`` fast path WITH the
  fsync discipline — zero JVM round-trips on the hot local/test path;
- **any path with a scheme** (``file:``, ``hdfs:``, ``s3a:``, …) routes
  through the Hadoop FileSystem API of the active SparkSession — the same
  handle discipline as ``sources/files.py`` (fs_exists & co.), so a
  ``file:`` URI exercises the exact code an ``hdfs:``/object-store path
  would run;
- **commit points are chosen per scheme capability**: on rename-atomic
  schemes (file, hdfs, viewfs, o3fs, …) the manifest swap is a staged tmp
  + ``FileContext.rename(OVERWRITE)`` (atomic replace); on object stores
  (s3a, gs, abfs, …) rename is a non-atomic per-object copy, so the swap
  is a single ``create(overwrite=True)`` PUT — atomic object visibility —
  and DIRECTORY publishes must be gated by a manifest/marker rather than
  the rename itself.  :func:`publish_dir` implements the marker protocol
  (the versioned store's manifest-pointer idea; sources/versioned.py
  publishes its manifest through :func:`write_json_atomic`).

fsync is meaningful only where an OS page cache sits under our control
(bare local and ``file:`` paths); on other schemes ``close()`` is the
durability point and the fsync helpers are no-ops.
"""

from __future__ import annotations

import json
import os
import shutil

# Hadoop filesystems whose rename is a client-side copy+delete (no atomic
# rename, no atomic overwrite-rename): the connectors for AWS S3, Google
# Cloud Storage, Azure Blob/ADLS, Aliyun OSS, Tencent COS, OpenStack
# Swift.  Everything else (file, hdfs, viewfs, o3fs, hopsfs, …) promises
# single-operation rename.
OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
     "oss", "cosn", "swift"}
)

PUBLISH_MARKER_SUFFIX = ".publishing"


def scheme_of(path: str) -> str:
    """URI scheme of ``path`` ('' for a bare local path)."""
    head, sep, _ = path.partition(":")
    # a colon after a slash is part of a file name, not a scheme
    if not sep or "/" in head or not head:
        return ""
    return head.lower()


def local_path(path: str) -> str | None:
    """The ``os``-level path when ``path`` is local (bare or ``file:``
    scheme), else None.  ``file:///x`` / ``file://x`` / ``file:/x`` all
    map to ``/x``."""
    s = scheme_of(path)
    if s == "":
        return path
    if s != "file":
        return None
    rest = path[len("file:"):]
    while rest.startswith("//"):
        rest = rest[1:]
    return rest


def rename_is_atomic(path: str) -> bool:
    return scheme_of(path) not in OBJECT_STORE_SCHEMES


def _use_os(path: str) -> bool:
    """Pure-``os`` fast path: bare local paths only.  ``file:`` URIs go
    through Hadoop so units can drive the portable branch without HDFS."""
    return scheme_of(path) == ""


def _jfs(path: str):
    """(jvm, gateway, conf, Path, FileSystem) for a scheme path."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"logio: {path!r} has a filesystem scheme and needs an active "
            f"SparkSession for the Hadoop FileSystem API"
        )
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, gw, conf, p, p.getFileSystem(conf)


# --------------------------------------------------------------------- #
# probes                                                                 #
# --------------------------------------------------------------------- #


def exists(path: str) -> bool:
    if _use_os(path):
        return os.path.exists(path)
    _, _, _, p, fs = _jfs(path)
    return bool(fs.exists(p))


def is_dir(path: str) -> bool:
    if _use_os(path):
        return os.path.isdir(path)
    _, _, _, p, fs = _jfs(path)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def list_names(path: str) -> list[str]:
    """Child entry names (empty when absent) — the portable
    ``os.listdir``."""
    if _use_os(path):
        return os.listdir(path) if os.path.isdir(path) else []
    _, _, _, p, fs = _jfs(path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def dir_bytes(path: str) -> int:
    """Total size in bytes of the direct child FILES of ``path`` (0 when
    absent) — the portable one-level ``du``.  One FS listing, no data
    read: callers use it to size-gate broadcasts of at-rest stores
    (media_fps) without a Spark job."""
    if _use_os(path):
        if not os.path.isdir(path):
            return 0
        total = 0
        for n in os.listdir(path):
            fp = os.path.join(path, n)
            if os.path.isfile(fp):
                total += os.path.getsize(fp)
        return total
    _, _, _, p, fs = _jfs(path)
    if not fs.exists(p):
        return 0
    return sum(
        int(st.getLen()) for st in fs.listStatus(p) if st.isFile()
    )


# --------------------------------------------------------------------- #
# small-file read / atomic write (manifests, horizon markers)            #
# --------------------------------------------------------------------- #


def read_text(path: str) -> str | None:
    """File contents, or None when missing.  A torn/unreadable object on
    a remote scheme surfaces as an IOError — callers treating 'missing'
    as a protocol state must catch only the None."""
    lp = local_path(path)
    if lp is not None and _use_os(path):
        try:
            with open(lp) as f:
                return f.read()
        except (FileNotFoundError, NotADirectoryError):
            return None
    jvm, _, _, p, fs = _jfs(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_atomic(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` such that readers see the OLD content
    or the NEW content, never a partial file — the manifest-swap
    primitive.

    Local: tmp + fsync + ``os.replace`` + parent-dir fsync (power-loss
    durable).  Object stores: one ``create(overwrite=True)`` PUT (atomic
    object replace; S3/GCS/ABFS commit on close).  Other Hadoop schemes:
    staged tmp + ``FileContext.rename(OVERWRITE)`` — the atomic
    overwrite-rename HDFS promises (plain ``FileSystem.rename`` refuses
    an existing destination, and delete-then-rename would open a
    manifest-absent window readers misread as 'no rotation in flight')."""
    if _use_os(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        fsync_dir(os.path.dirname(path) or ".")
        return
    jvm, gw, conf, p, fs = _jfs(path)
    data = bytearray(text.encode("utf-8"))
    if not rename_is_atomic(path):
        out = fs.create(p, True)
        try:
            out.write(data)
        finally:
            out.close()
        return
    tmp_path = path + ".tmp"
    tp = jvm.org.apache.hadoop.fs.Path(tmp_path)
    out = fs.create(tp, True)
    try:
        out.write(data)
        out.hflush()
    finally:
        out.close()
    lp = local_path(tmp_path)
    if lp is not None:
        _os_fsync_file(lp)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(p.toUri(), conf)
    rename_opt = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(rename_opt, 1)
    opts[0] = rename_opt.OVERWRITE
    fc.rename(tp, p, opts)
    lp = local_path(path)
    if lp is not None:
        _os_fsync_dir(os.path.dirname(lp) or ".")


def write_text(path: str, text: str) -> None:
    """Plain (non-atomic) small-file write for STAGING — callers publish
    it with :func:`replace_file` afterwards.  Locally the data blocks are
    fsynced before return, so a later manifest can reference them
    durably."""
    if _use_os(path):
        with open(path, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        return
    jvm, _, _, p, fs = _jfs(path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
        out.hflush()
    finally:
        out.close()
    lp = local_path(path)
    if lp is not None:
        _os_fsync_file(lp)


def replace_file(src: str, dst: str) -> None:
    """Move ``src`` onto ``dst`` where ``dst`` MAY exist — the
    file-granular swap behind manifest flips and rotated-part move-ins.

    Local: ``os.replace`` (atomic).  Rename-atomic schemes: FileContext
    rename with OVERWRITE (atomic; plain ``FileSystem.rename`` refuses an
    existing destination and delete-then-rename would open an absent
    window).  Object stores: a fresh ``dst`` renames (server-side copy —
    the destination object appears whole); an existing ``dst`` is
    replaced by re-PUTting ``src``'s content in one
    ``create(overwrite=True)`` — only ever manifest-sized files take this
    branch, parquet parts always move to fresh names."""
    if _use_os(src) and _use_os(dst):
        os.replace(src, dst)
        return
    jvm, gw, conf, sp, fs = _jfs(src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    if rename_is_atomic(dst):
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dp.toUri(), conf
        )
        rename_opt = jvm.org.apache.hadoop.fs.Options.Rename
        opts = gw.new_array(rename_opt, 1)
        opts[0] = rename_opt.OVERWRITE
        fc.rename(sp, dp, opts)
        lp = local_path(dst)
        if lp is not None:
            _os_fsync_dir(os.path.dirname(lp) or ".")
        return
    if not fs.exists(dp):
        if not fs.rename(sp, dp):
            raise OSError(f"logio: rename {src!r} -> {dst!r} failed")
        return
    stream = fs.open(sp)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    out = fs.create(dp, True)
    try:
        out.write(data)
    finally:
        out.close()
    fs.delete(sp, False)


def read_json(path: str) -> dict | None:
    """:func:`read_text` + JSON parse; a torn local write or half-copied
    backup reads as None (the 'no manifest' protocol state)."""
    text = read_text(path)
    if text is None:
        return None
    try:
        return json.loads(text)
    except ValueError:
        return None


def write_json_atomic(path: str, doc: dict) -> None:
    write_text_atomic(path, json.dumps(doc))


# --------------------------------------------------------------------- #
# rename / delete                                                        #
# --------------------------------------------------------------------- #


def rename(src: str, dst: str) -> None:
    """Move ``src`` to a FRESH ``dst`` (the caller guarantees absence).
    Single atomic operation on rename-atomic schemes; per-object
    copy+delete on object stores — callers gate directory publishes with
    a manifest/marker there (see :func:`publish_dir`)."""
    if _use_os(src) and _use_os(dst):
        os.rename(src, dst)
        return
    jvm, _, _, sp, fs = _jfs(src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(sp, dp):
        raise OSError(f"logio: rename {src!r} -> {dst!r} failed")


def remove(path: str) -> None:
    """Delete one file; missing is fine."""
    if _use_os(path):
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        return
    _, _, _, p, fs = _jfs(path)
    fs.delete(p, False)


def rmtree(path: str) -> bool:
    """Recursive delete, best-effort; returns True when ``path`` is gone
    afterwards (the verified-gone probe the keeper compaction needs
    before dropping its manifest)."""
    if _use_os(path):
        shutil.rmtree(path, ignore_errors=True)
        if os.path.isfile(path):          # a file where a dir was expected
            try:
                os.remove(path)
            except OSError:
                pass
        return not os.path.exists(path)
    _, _, _, p, fs = _jfs(path)
    try:
        fs.delete(p, True)
    except Exception:
        pass
    return not fs.exists(p)


# --------------------------------------------------------------------- #
# fsync (local-only durability points)                                   #
# --------------------------------------------------------------------- #


def _os_fsync_file(lp: str) -> None:
    fd = os.open(lp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _os_fsync_dir(lp: str) -> None:
    fd = os.open(lp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_file(path: str) -> None:
    """Flush a file's data blocks to stable storage where an OS page
    cache is ours to flush (bare local / ``file:``); no-op elsewhere —
    remote filesystems make ``close()`` the durability point."""
    lp = local_path(path)
    if lp is not None:
        _os_fsync_file(lp)


def fsync_dir(path: str) -> None:
    """Flush a directory entry (renames/creates) to stable storage;
    local-only, same contract as :func:`fsync_file`."""
    lp = local_path(path)
    if lp is not None and os.path.isdir(lp):
        _os_fsync_dir(lp)


# --------------------------------------------------------------------- #
# directory publish (rebuild_log & friends)                              #
# --------------------------------------------------------------------- #


def publish_dir(tmp: str, dest: str) -> None:
    """Publish a fully-staged directory at its final name.

    Rename-atomic schemes: one rename — ``dest`` appears whole or not at
    all.  Object stores: the copy materializes ``dest`` file by file, so
    an intent marker ``<dest>.publishing`` (atomic PUT) brackets the
    copy; a crash leaves marker+partial-dest, which
    :func:`clear_crashed_publish` recognizes as OURS to delete — an
    existing directory without a marker is never touched (it may be a
    real log)."""
    if rename_is_atomic(dest):
        rename(tmp, dest)
        fsync_dir(os.path.dirname(dest.rstrip("/")) or ".")
        return
    marker = dest.rstrip("/") + PUBLISH_MARKER_SUFFIX
    write_text_atomic(marker, json.dumps({"tmp": tmp}))
    rename(tmp, dest)
    remove(marker)


def publish_in_flight(dest: str) -> bool:
    return exists(dest.rstrip("/") + PUBLISH_MARKER_SUFFIX)


def clear_crashed_publish(dest: str) -> bool:
    """Remove the remnants of a crashed :func:`publish_dir` (marker
    present) so the caller can re-derive; returns True when something was
    cleared.  Without the marker this is a no-op — the destination may be
    a real, committed log."""
    marker = dest.rstrip("/") + PUBLISH_MARKER_SUFFIX
    if not exists(marker):
        return False
    rmtree(dest)
    remove(marker)
    return True
