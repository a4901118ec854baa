"""Filesystem-scheme-agnostic path helpers via the JVM Hadoop FileSystem.

StageCommitter and StreamingDedup previously probed paths with
``os.path``/``os.scandir``, which silently report "nothing committed" on
``s3://``/``hdfs://`` workdirs — resume and the streaming indexes would
quietly restart from scratch on exactly the deployments ``run_dedup.py``
advertises. Every existence/listing check now goes through
``Path.getFileSystem`` with the live Hadoop configuration, so ``file:``,
``s3a://``, ``hdfs://`` (any scheme with a registered FS) behave
identically. All calls but ``write_atomic`` are metadata-only.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def list_files(
    spark: SparkSession, path: str, suffix: str = ""
) -> list[tuple[str, int]]:
    """Sorted (name, bytes) of plain files directly under ``path`` whose
    name ends with ``suffix``; [] if the directory does not exist."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(suffix):
            out.append((name, int(st.getLen())))
    return sorted(out)


def write_atomic(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` as the file ``path``: the bytes go to a hidden sibling
    (``.<name>.tmp``) that is renamed into place once closed, so a crash
    leaves at most a dot-file, which Spark's file listing skips, never a
    torn file under the final name."""
    fs, p = _fs_path(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        p.getParent(), f".{p.getName()}.tmp"
    )
    try:
        out = fs.create(tmp, True)
        try:
            out.write(data)
        finally:
            out.close()
        if not fs.rename(tmp, p):
            raise OSError(f"rename to {path} failed")
    except BaseException:
        fs.delete(tmp, False)
        raise
