"""Filesystem helpers that go through the Hadoop FileSystem API, so
they work on any Spark-reachable scheme (file:/, hdfs:/, s3a:/ ...) —
not just the driver's local POSIX view. This matters on a real cluster:
``os.walk`` over an S3 bucket path simply throws.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


def _hadoop_path_and_fs(spark: SparkSession, path: str):
    # the class by its full name: ``spark._jvm.org.apache...`` would
    # resolve each package segment with its own py4j round trip
    hpath = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return hpath, fs


def path_exists(spark: SparkSession, path: str) -> bool:
    hpath, fs = _hadoop_path_and_fs(spark, path)
    return bool(fs.exists(hpath))


def parquet_stats(spark: SparkSession, *paths: str) -> tuple[int, int]:
    """(files, bytes) of the ``.parquet`` files under ``paths``
    (recursive)."""
    files = size = 0
    for path in paths:
        hpath, fs = _hadoop_path_and_fs(spark, path)
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            status = it.next()
            if status.getPath().getName().endswith(".parquet"):
                files += 1
                size += status.getLen()
    return files, size


def rename_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic-as-the-FS-allows directory swap: drop ``dst`` and rename
    ``src`` onto it. HDFS rename is atomic; on object stores a table
    format (Delta/Iceberg commit) replaces this step.

    NOTE: a crash between the delete and the rename leaves NEITHER
    copy at ``dst``."""
    spath, fs = _hadoop_path_and_fs(spark, src)
    dpath, _ = _hadoop_path_and_fs(spark, dst)
    if fs.exists(dpath):
        fs.delete(dpath, True)
    if not fs.rename(spath, dpath):
        raise IOError(f"rename {src} -> {dst} failed")
