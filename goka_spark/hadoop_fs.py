"""Hadoop FileSystem helpers shared by every artifact-IO path.

The 100 TB deployment keeps its data, indexes, and sink ledgers on
HDFS/S3 — plain ``open``/``os.rename``/``os.path.exists`` only work on
a POSIX local disk.  ``Path.getFileSystem`` resolves the scheme per
path (``file:``, ``hdfs:``, ``s3a:``…), so local paths keep working
unchanged while the same code runs where the data lives.

Used by ``functions/ann_index.py`` (index artifacts),
``operators/changelog.py`` (compaction claims),
``operators/emitter.py`` (one published file per flush) and
``streaming/runtime.py`` (ExactlyOnceBatchSink ledger).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hfs(spark: SparkSession, path: str):
    """(FileSystem, jvm, Path) for ``path``'s scheme."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm, p


def uri_join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join mangles ``s3a://`` bases)."""
    return "/".join([base.rstrip("/")] + [p.strip("/") for p in parts])


def read_bytes(spark: SparkSession, path: str) -> bytes:
    fs, jvm, p = hfs(spark, path)
    stream = fs.open(p)
    out = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, True)
    return bytes(out.toByteArray())


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    fs, jvm, p = hfs(spark, path)
    stream = fs.create(p, True)  # creates parent dirs on every Hadoop FS
    stream.write(data)
    stream.close()


def exists(spark: SparkSession, path: str) -> bool:
    fs, _, p = hfs(spark, path)
    return bool(fs.exists(p))


def publish_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` so that it appears whole or not at
    all.  The bytes go to the hidden sibling ``.<name>`` first — Hadoop
    and Spark file listings skip names starting with ``.`` — and are
    then renamed into place: atomic on HDFS and local disks; on S3A a
    one-file rename is a server-side copy whose target appears whole.
    On any failure the hidden file is removed and ``path`` is never
    created."""
    fs, jvm, p = hfs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(p.getParent(), "." + p.getName())
    try:
        stream = fs.create(tmp, False)  # creates parent dirs
        try:
            stream.write(data)
        finally:
            stream.close()
        if not bool(fs.rename(tmp, p)):
            raise IOError(f"rename {tmp.toString()} -> {path} failed")
    except BaseException:
        fs.delete(tmp, False)
        raise


def replace_file(spark: SparkSession, src: str, dst: str) -> None:
    """Publish ``src`` over ``dst``.  Hadoop ``rename`` fails when the
    destination exists (HDFS semantics), so replace is delete+rename —
    NOT atomic across the pair.  Callers must tolerate a missing
    ``dst`` after a crash in the gap (every ledger/marker user here
    treats the file as a fast-path cache over idempotent data writes,
    so a lost marker only costs a replay, never duplicates)."""
    fs, jvm, dst_p = hfs(spark, dst)
    if fs.exists(dst_p):
        fs.delete(dst_p, False)
    if not bool(fs.rename(jvm.org.apache.hadoop.fs.Path(src), dst_p)):
        raise IOError(f"rename {src} -> {dst} failed")
