"""Filesystem helpers that go through the Hadoop FileSystem API, so
they work on any Spark-reachable scheme (file:/, hdfs:/, s3a:/ ...) —
not just the driver's local POSIX view. This matters on a real cluster:
``os.walk`` over an S3 bucket path simply throws.
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."
_SUMMARIES = ("_common_metadata", "_metadata")


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    # the class by its full name: ``spark._jvm.org.apache...`` would
    # resolve each package segment with its own py4j round trip
    return JavaClass(name, spark._jvm._gateway_client)


def _hadoop_path_and_fs(spark: SparkSession, path: str):
    hpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
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


def _listed(name: str) -> bool:
    """Whether Spark's file index lists a file or directory of this name
    (``InMemoryFileIndex.shouldFilterOutPathName``)."""
    if name.startswith(_SUMMARIES):
        return True
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return not (hidden or name.endswith("._COPYING_"))


def _schema_file(spark: SparkSession, paths: tuple[str, ...]):
    """The status of the file whose footer Spark's parquet schema
    inference reads when it does not merge schemas: of the listed files,
    a ``_common_metadata``, else a ``_metadata``, else a data file, each
    the first by path string (``ParquetUtils.splitFiles``). None when
    the paths hold no such file, or one of them does not exist (as a
    glob does not)."""
    best, todo = None, []
    for path in paths:
        hpath, fs = _hadoop_path_and_fs(spark, path)
        try:
            todo += [(fs, st) for st in fs.listStatus(hpath)]
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
                return None
            raise
    while todo:
        fs, st = todo.pop()
        path = st.getPath().toString()
        name = path.rsplit("/", 1)[-1]
        if not _listed(name):
            continue
        if st.isDirectory():
            todo += [(fs, child) for child in fs.listStatus(st.getPath())]
            continue
        key = (_SUMMARIES.index(name) if name in _SUMMARIES else 2, path)
        if best is None or key < best[0]:
            best = key, st
    return best and best[1]


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without its schema-inference Spark
    job. Spark infers the schema from one footer (with
    ``spark.sql.parquet.mergeSchema`` off); this reads that footer on
    the driver through the Hadoop FileSystem and converts it with
    Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and a
    converter built from the session's SQL conf, so
    ``inferTimestampNTZ`` and ``nanosAsLong`` apply as they do to the
    inference. The read then gets that schema; partition columns are
    still discovered from the directory names and appended. When a path
    is missing or a glob, the paths hold no parquet file, or the session
    merges schemas, this is the plain read, with Spark's own job or
    error."""
    conf = spark._jsparkSession.sessionState().conf()
    status = None if conf.isParquetSchemaMergingEnabled() else _schema_file(spark, paths)
    if status is None:
        return spark.read.parquet(*paths)
    footer = _jclass(spark, _PARQUET + "ParquetFooterReader").readFooter(
        _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(
            status, spark._jsc.hadoopConfiguration()
        ),
        _jclass(
            spark, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
    )
    converter = _jclass(spark, _PARQUET + "ParquetToSparkSchemaConverter")(conf)
    schema = _jclass(spark, _PARQUET + "ParquetFileFormat").readSchemaFromFooter(
        _jclass(spark, "org.apache.parquet.hadoop.Footer")(status.getPath(), footer),
        converter,
    )
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(*paths)
