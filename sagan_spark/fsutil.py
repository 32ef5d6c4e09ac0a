"""Shared filesystem helpers for driver-side small-file IO.

Every non-DataFrame file touch in the engine (resume manifest, index
sidecars, streaming layout checks) must work wherever the parquet lives —
``file://``, ``hdfs://``, ``s3a://`` — or the 10^12-turn resume story only
runs on a POSIX shared filesystem. A local ``open()``/``os.listdir`` cannot
do that, so these helpers go through the JVM Hadoop FileSystem API that
Spark itself uses (same credentials, same scheme registry).

Driver-side only: Python executors have no JVM gateway, so executor-side
writes (every batch sink, and the unified2 binary records) use
``pyarrow.fs`` instead — see ``engine/route._arrow_fs``. The driver first
qualifies their ``out_dir`` here (``fs_qualify``), so a bare path lands
where Spark's writers would put it. The batch sink writer also clears its
sink dirs and writes ``_SUCCESS`` through that same pyarrow filesystem, so
one filesystem layer sees the whole sink tree.

Scope: run STATE (manifests, sidecars, sink trees) goes through here.
Static job CONFIG (.rules files, sagan_spark.yaml) deliberately stays
plain ``open()``: those are driver-local inputs shipped with the job
(``spark-submit --files``), read before a session necessarily exists.

Writes are atomic (temp name + rename) so a crash between a data write and
its metadata write leaves no half-written file. On object stores rename is
copy+delete rather than atomic, but Hadoop's S3A committers give the same
visible-all-or-nothing contract for these small single files.
"""

from __future__ import annotations


def _fs(spark, path: str):
    """(jvm, FileSystem, Path) for a path's scheme, using the session's
    Hadoop configuration (credentials/endpoints identical to DataFrame
    reads on the same path)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_qualify(spark, path: str) -> str:
    """``path`` as the URI Spark's own readers and writers resolve it to.
    A path without a scheme is qualified against Hadoop's default
    filesystem and working directory (``file:/…`` in local mode,
    ``hdfs://…`` where fs.defaultFS is HDFS); a path with a scheme is
    returned unchanged. Executors writing through ``pyarrow.fs`` need
    this: they cannot see fs.defaultFS, and their working directory is
    not the driver's."""
    if spark._jvm.org.apache.hadoop.fs.Path(path).toUri().getScheme() is not None:
        return path  # s3:// may have no Hadoop filesystem at all
    _, fs, hpath = _fs(spark, path)
    return str(fs.makeQualified(hpath).toUri().toString())


def fs_write_text(spark, path: str, content: str) -> None:
    """Atomically write a small text file — see ``fs_write_bytes``."""
    fs_write_bytes(spark, path, content.encode("utf-8"))


def fs_write_bytes(spark, path: str, content: bytes) -> None:
    """Atomically write a small file: create a uuid-suffixed temp
    name (concurrent writers to the same directory cannot clobber each
    other's temp), then rename over the target with
    ``FileContext.rename(..., Options.Rename.OVERWRITE)`` — an atomic
    replace with NO window in which the target is missing. A crash at any
    point leaves either the old file or the new one, never neither (a
    missing resume manifest would silently reprocess every unit).

    Fallback (FileContext unavailable for the scheme): plain rename first
    — it succeeds when the target doesn't exist, covering first writes
    with no window at all — then delete+rename only if the target was in
    the way."""
    import uuid

    jvm, fs, hpath = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp." + uuid.uuid4().hex)
    out = fs.create(tmp, True)
    out.write(bytearray(content))
    out.close()
    # Obtaining a FileContext is the only fallback-eligible failure
    # (UnsupportedFileSystemException for schemes without an AbstractFileSystem
    # binding). An error from the rename CALL itself is ambiguous — the
    # rename may have committed before the error surfaced, in which case the
    # temp file is gone and a blind delete-target-and-retry fallback would
    # delete the freshly-written file and then fail, leaving NO file on disk
    # (the exact window this helper exists to close).
    fc = opts = None
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            hpath.toUri(), spark._jsc.hadoopConfiguration()
        )
        opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    except Exception:
        fc = None
    if fc is not None:
        try:
            fc.rename(tmp, hpath, opts)
            return
        except Exception:
            if not fs.exists(tmp):
                if fs.exists(hpath):
                    return  # rename committed, then the error surfaced
                raise
            # temp verifiably still present → safe to take the FS path
    if not fs.rename(tmp, hpath):
        # Never delete the target unless the temp is confirmed present —
        # with tmp gone there is nothing to replace it with.
        if not fs.exists(tmp):
            raise IOError(f"fs_write_bytes: temp file lost renaming to {path}")
        fs.delete(hpath, False)
        if not fs.rename(tmp, hpath):
            raise IOError(f"fs_write_bytes: rename to {path} failed")


def fs_read_bytes(spark, path: str) -> bytes:
    jvm, fs, hpath = _fs(spark, path)
    stream = fs.open(hpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return bytes(baos.toByteArray())


def fs_read_text(spark, path: str) -> str:
    return fs_read_bytes(spark, path).decode("utf-8")


def fs_exists(spark, path: str) -> bool:
    _, fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def fs_mkdirs(spark, path: str) -> None:
    _, fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)


def fs_delete(spark, path: str) -> None:
    """Recursive delete; absent paths are a no-op (idempotent cleanup)."""
    _, fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def fs_rename(spark, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` (``dst`` itself must not exist; its parent
    must). Per-path atomic on HDFS/POSIX; copy+delete on object stores,
    same all-or-nothing visibility for a single path. Raises on failure —
    callers sequencing multi-path moves (sink compaction) rely on a loud
    stop at the first failed step, never a silent partial."""
    _, fs, hsrc = _fs(spark, src)
    _, _, hdst = _fs(spark, dst)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"fs_rename: {src} -> {dst} failed")


def fs_size(spark, path: str) -> int:
    """Total bytes under ``path`` (recursive — Hadoop ContentSummary)."""
    _, fs, hpath = _fs(spark, path)
    return int(fs.getContentSummary(hpath).getLength())


def fs_listdir(spark, path: str) -> list[str]:
    """Basenames of a directory's entries, sorted. Raises FileNotFoundError
    if the directory does not exist — callers that treat "absent" as empty
    must do so EXPLICITLY (a swallowed generic OSError is how the streaming
    legacy-layout guard silently skipped object-store paths)."""
    _, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    return sorted(st.getPath().getName() for st in fs.listStatus(hpath))


def fs_list_files(spark, path: str, suffix: str = "") -> list[str]:
    """Full URIs of a directory's files ending in ``suffix``, sorted by
    name. URIs round-trip into ``spark.read.parquet`` unchanged."""
    _, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    return sorted(
        str(st.getPath().toString())
        for st in fs.listStatus(hpath)
        if st.isFile() and st.getPath().getName().endswith(suffix)
    )
