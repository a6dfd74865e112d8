"""Filesystem-scheme-agnostic metadata I/O (Hadoop FileSystem API).

Index *data* (parquet segments, manifest, term_stats, …) is read and
written through Spark, which already speaks every Hadoop-supported
scheme.  Index *metadata* — ``stats.json`` plus the atomic directory
swaps incremental maintenance performs — previously went through
``open()`` / ``shutil`` / ``os.rename`` and therefore silently
required the output directory to live on the driver's local disk.
A real deployment writes the index to ``hdfs://`` or ``s3a://``
(BASELINE.json north_star: partitioned Iceberg/parquet index table),
so these helpers route the same tiny operations through
``org.apache.hadoop.fs.FileSystem`` via the JVM gateway: the exact
API Spark's own committers use, resolving the correct FileSystem
implementation per path scheme (``file://`` included, so local runs
and the test-suite exercise the identical code path).

Caveat (documented, inherent to object stores): ``rename`` is atomic
on HDFS and local file systems but copy+delete on S3A.  The swap
helpers in plans/incremental.py order every read *before* the first
mutation, so non-atomic rename degrades to a short window where a
concurrent *reader* of the same index dir could see a partial swap —
the same window Spark's own non-transactional parquet overwrite has.
Iceberg-catalog commits are the upgrade path for that, not driver
``os.rename``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path) for ``path``'s scheme."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    jfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jfs, jpath


def _scheme(spark: SparkSession, path: str) -> str:
    """Scheme of the FileSystem ``path`` resolves to (``file`` for
    driver-local; scheme-less paths follow ``fs.defaultFS``)."""
    return str(_fs(spark, path)[0].getUri().getScheme())


def _session(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is None:
        raise RuntimeError(
            "fsutil needs an active SparkSession to resolve the "
            "Hadoop FileSystem for the output path"
        )
    return active


def exists(path: str, spark: SparkSession | None = None) -> bool:
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    return bool(jfs.exists(jpath))


def dir_size(path: str, spark: SparkSession | None = None) -> int:
    """Total bytes under ``path`` (Hadoop getContentSummary — one
    namenode call, no data read)."""
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    return int(jfs.getContentSummary(jpath).getLength())


def read_text(path: str, spark: SparkSession | None = None) -> str:
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    stream = jfs.open(jpath)
    try:
        # commons-io ships with Hadoop; toByteArray crosses py4j as a
        # Python bytearray in one round trip
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
            stream
        )
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def write_text(
    path: str, text: str, spark: SparkSession | None = None
) -> None:
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    out = jfs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def delete(path: str, spark: SparkSession | None = None) -> bool:
    """Recursive delete; missing path is not an error (rmtree
    ignore_errors semantics)."""
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    return bool(jfs.delete(jpath, True))


def listdir(path: str, spark: SparkSession | None = None) -> list[str]:
    """Child names of a directory (non-recursive); raises if the
    path does not exist."""
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    return [
        s.getPath().getName() for s in jfs.listStatus(jpath)
    ]


def rename(src: str, dst: str, spark: SparkSession | None = None) -> None:
    spark = _session(spark)
    jfs, jsrc = _fs(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if not jfs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")


def rename_overwrite(
    src: str, dst: str, spark: SparkSession | None = None
) -> None:
    """Atomically replace ``dst`` with ``src`` (both files).

    Local paths use POSIX ``os.replace`` — genuinely atomic (Hadoop's
    local FileContext rename is delete-then-rename under the hood, so
    a concurrent reader could observe a missing file: observed live
    by the HTTP-serving concurrency test).  Remote stores use
    ``FileContext.rename(..., Options.Rename.OVERWRITE)`` — the
    HDFS-atomic overwrite primitive (what Iceberg's HadoopCatalog
    uses for its version-hint commit) — falling back to delete+rename
    on FileSystems without a FileContext implementation; on such
    stores the window is a missing-file read (a clean retryable
    failure — readers like jobs/serve.py retry and keep their warm
    generation), never a partial file, because ``src`` is always
    fully written before the call."""
    # Scheme-less paths are driver-local ONLY when they resolve to the
    # local FileSystem — on a cluster whose fs.defaultFS is hdfs://,
    # they resolve to HDFS (even if a same-named file happens to sit
    # on the driver's disk), so those fall through to the Hadoop
    # rename.
    spark = _session(spark)
    if (
        "://" not in src
        and "://" not in dst
        and _scheme(spark, src) == "file"
    ):
        # Hadoop's LocalFileSystem keeps .name.crc checksum sidecars
        # next to files it wrote; swapping the data behind its back
        # with a stale sidecar left in place makes every later Hadoop
        # read fail with ChecksumException.  Order matters: drop the
        # stale dst sidecar FIRST (readers tolerate a missing
        # sidecar, never a mismatched one), swap the data atomically,
        # then install the matching sidecar.
        sdir, sname = os.path.split(src)
        ddir, dname = os.path.split(dst)
        src_crc = os.path.join(sdir, f".{sname}.crc")
        dst_crc = os.path.join(ddir, f".{dname}.crc")
        try:
            os.remove(dst_crc)
        except FileNotFoundError:
            pass
        os.replace(src, dst)
        if os.path.exists(src_crc):
            os.replace(src_crc, dst_crc)
        return
    jvm = spark._jvm
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jsrc.toUri(), spark._jsc.hadoopConfiguration()
        )
        gateway = spark.sparkContext._gateway
        opt_cls = getattr(
            jvm, "org.apache.hadoop.fs.Options$Rename"
        )
        opts = gateway.new_array(opt_cls, 1)
        opts[0] = opt_cls.valueOf("OVERWRITE")
        fc.rename(jsrc, jdst, opts)
    except Exception:
        jfs, _ = _fs(spark, src)
        jfs.delete(jdst, True)
        if not jfs.rename(jsrc, jdst):
            raise IOError(f"rename {src} -> {dst} failed")


def list_dir(path: str, spark: SparkSession | None = None) -> list[str]:
    """Child FULL paths of a directory; [] when it doesn't exist."""
    spark = _session(spark)
    jfs, jpath = _fs(spark, path)
    if not jfs.exists(jpath):
        return []
    return [
        st.getPath().toString() for st in jfs.listStatus(jpath)
    ]
