"""Filesystem operations for the index layout, routed through Spark's
Hadoop FileSystem API (ADVICE r4 #1: directory moves/removals must go
through the SAME filesystem as the data writes, or on HDFS/S3 a local
``shutil.rmtree`` silently no-ops and stale partition directories keep
serving deleted rows).

Every index module uses it for every file and directory it touches: the
band manifests, resume check and changed-input wipe of ``build.py``, the
upsert/compaction manifests, partition moves and ``_lookup/`` stamp of
``layout.py``. So an index root given as a ``file:``, ``hdfs:`` or
``s3a:`` URI behaves like a plain local path.

Everything here is driver-side metadata work at partition-directory
granularity — a handful of py4j calls per band or upsert, never per row.
The reference has no moral equivalent (its index is a local write-once
directory tree, /root/reference/src/index/grid_writer.go:485-486).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _jfs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _jfs(spark, path)
    return bool(fs.exists(p))


def fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _jfs(spark, path)
    fs.mkdirs(p)


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; True if something was removed."""
    fs, p = _jfs(spark, path)
    return bool(fs.delete(p, True))


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` (parent dirs created). Hadoop rename refuses
    to clobber an existing destination — callers rely on that atomicity."""
    fs, s = _jfs(spark, src)
    jvm = spark._jvm
    d = jvm.org.apache.hadoop.fs.Path(dst)
    parent = d.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    if not fs.rename(s, d):
        raise OSError(f"rename {src} -> {dst} failed (destination exists?)")


def fs_listdir(spark: SparkSession, path: str) -> list[str]:
    """Child NAMES (not full paths) of a directory; [] if absent."""
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def fs_list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(name, bytes) for the plain FILES directly under ``path`` (no
    directories); [] if absent. One Hadoop listStatus — the compaction
    planner's cost is one such call per partition directory."""
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    return [
        (st.getPath().getName(), st.getLen())
        for st in fs.listStatus(p)
        if st.isFile()
    ]


def fs_read_text(spark: SparkSession, path: str) -> str:
    # py4j cannot read back a Java-side-mutated byte[] buffer; commons-io
    # (on every Spark classpath) drains the stream JVM-side in one call
    fs, p = _jfs(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


# per-session cache: (gateway id, scheme) -> (FileContext, Rename[] array).
# FileContext.getFileContext builds a fresh AbstractFileSystem (a new
# DFSClient on HDFS) per call and the nested-enum reflection costs ~5 py4j
# round-trips — both are invariant per scheme (code-review r5 #4).
_FC_CACHE: dict = {}


def _file_context(spark: SparkSession, fs):
    key = (id(spark._jvm), str(fs.getUri()))
    if key not in _FC_CACHE:
        jvm = spark._jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), spark._jsc.hadoopConfiguration()
        )
        # Options.Rename is a nested enum: py4j reaches it via Class.forName
        # with the $ binary name; the varargs Rename... crosses as an array
        ren_cls = jvm.java.lang.Class.forName("org.apache.hadoop.fs.Options$Rename")
        overwrite = next(
            c for c in ren_cls.getEnumConstants() if c.toString() == "OVERWRITE"
        )
        ren_arr = jvm.java.lang.reflect.Array.newInstance(ren_cls, 1)
        ren_arr[0] = overwrite
        _FC_CACHE[key] = (fc, ren_arr)
    return _FC_CACHE[key]


def fs_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write-to-temp + ATOMIC overwrite-replace (every index manifest and
    the lookup stamp are written this way). The temp name carries the pid so
    concurrent writers on a shared store never interleave into one temp
    file.

    A delete-then-rename pair would open a crash window in which the
    destination is GONE; for a gc_snapshots manifest rewrite that lost
    manifest would silently corrupt versioned reads (code-review r5).
    Replace strategy per scheme:

    * ``file`` (incl. scheme-less local paths) — python ``os.replace``,
      the POSIX rename(2) overwrite, genuinely atomic. (Hadoop's LocalFs
      FileContext rename is NOT: its default renameInternal deletes dst
      first — review r5 #2.) The sidecar .crc is removed so a later
      Hadoop read never sees a stale checksum.
    * ``hdfs`` and other FileContext schemes — FileContext.rename with
      Rename.OVERWRITE (atomic on HDFS).
    * schemes with no FileContext (UnsupportedFileSystemException, e.g.
      some object stores) — documented non-atomic delete+rename fallback.
      Any OTHER rename failure propagates instead of silently degrading.
    """
    import os

    tmp = f"{path}.{os.getpid()}.tmp"
    fs, p = _jfs(spark, tmp)
    scheme = fs.getUri().getScheme()
    if scheme in (None, "file"):
        local_dst = path[len("file:"):] if path.startswith("file:") else path
        local_tmp = f"{local_dst}.{os.getpid()}.tmp"
        os.makedirs(os.path.dirname(local_dst) or ".", exist_ok=True)
        with open(local_tmp, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        # drop any stale Hadoop checksum sidecar of the OLD content; the
        # raw replace below is the atomic commit point
        crc = os.path.join(
            os.path.dirname(local_dst), f".{os.path.basename(local_dst)}.crc"
        )
        try:
            os.remove(crc)
        except FileNotFoundError:
            pass
        os.replace(local_tmp, local_dst)
        return
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
        stream.hflush()
    finally:
        stream.close()
    jvm = spark._jvm
    dst = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fc, ren_arr = _file_context(spark, fs)
        fc.rename(p, dst, ren_arr)
        return
    except Exception as e:  # narrow: only "scheme has no FileContext" degrades
        name = ""
        je = getattr(e, "java_exception", None)
        if je is not None:
            try:
                name = je.getClass().getName()
            except Exception:
                name = ""
        if "UnsupportedFileSystem" not in name:
            raise
    fs.delete(dst, False)  # documented non-atomic fallback
    if not fs.rename(p, dst):
        raise OSError(f"atomic write rename {tmp} -> {path} failed")
