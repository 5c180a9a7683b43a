"""``fsutil.read_parquet``: the by-path parquet read without a
schema-inference Spark job. Its schema must equal ``spark.read.parquet``'s
on every layout the package reads, and the package's table, store and
manifest reads must run no Spark job."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from generative_ai_vector_db_spark import TABLE_NAMES, manifest
from generative_ai_vector_db_spark.fsutil import read_parquet
from generative_ai_vector_db_spark.operators import indexes, store
from generative_ai_vector_db_spark.tables import load

from .conftest import _jobs

SF_DIRS = sorted(d for d in glob.glob("/root/testdata/sf*") if os.path.isdir(d))
TIME_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def _same_schema(spark, *paths):
    got = read_parquet(spark, *paths).schema
    want = spark.read.parquet(*paths).schema
    assert got == want, paths
    return got


@pytest.fixture
def time_confs(spark):
    saved = {k: spark.conf.get(k) for k in TIME_CONFS}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("sf", SF_DIRS)
def test_fixture_tables_schema_equals_spark_inference(spark, sf, time_confs):
    # both values of the timestamp confs, as a vanilla session
    # (inferTimestampNTZ true) and tables.load (false, nanosAsLong) see them
    for ntz, nanos in (("true", "false"), ("false", "true")):
        spark.conf.set(TIME_CONFS[0], ntz)
        spark.conf.set(TIME_CONFS[1], nanos)
        for name in TABLE_NAMES:
            _same_schema(spark, os.path.join(sf, f"{name}.parquet"))


def test_spark_written_directory_with_nested_types(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (
                1,
                datetime.datetime(2024, 1, 2, 3, 4, 5),
                {"a": 1.5},
                (7, "x"),
                decimal.Decimal("12.345"),
            )
        ],
        "id bigint, ts timestamp, m map<string,double>, "
        "s struct<k:int,v:string>, d decimal(9,3)",
    )
    path = str(tmp_path / "nested")
    df.repartition(3).write.parquet(path)
    _same_schema(spark, path)


def test_pyarrow_and_spark_mixed_store_directory(spark, tmp_path):
    # perfbench's search store: one pyarrow file, then Spark appends
    path = str(tmp_path / "store")
    os.makedirs(path)
    vecs = np.arange(12, dtype=np.float32).reshape(3, 4)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1, 2], pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "chunk_text": pa.array(["a", "b", "c"]),
            }
        ),
        os.path.join(path, "part-initial.parquet"),
    )
    more = spark.createDataFrame(
        [(3, [1.0, 2.0, 3.0, 4.0], "d")],
        "vec_id bigint, embedding array<float>, chunk_text string",
    )
    store.append_vectors(more, path)
    _same_schema(spark, path)
    assert store.open_store(spark, path).count() == 4


def test_partitioned_index_layout(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    path = str(tmp_path / "layout")
    emb = load(spark, sf_dir, "embeddings").withColumn("cell", F.col("vec_id") % 4)
    store.write_index_layout(emb, path)
    schema = _same_schema(spark, path)
    assert schema.fieldNames()[-1] == "cell"  # discovered and appended


def test_footer_file_is_the_one_spark_reads(spark, tmp_path):
    """Files of different schemas: hidden and temporary names are
    skipped, the first data file by path wins, and a summary file wins
    over every data file."""
    path = str(tmp_path / "mixed")
    os.makedirs(os.path.join(path, "_temporary"))
    for name, col in (
        ("b.parquet", "b"),
        ("c.parquet", "c"),
        ("_a.parquet", "hidden"),
        (".a.parquet", "dot"),
        ("a.parquet._COPYING_", "copying"),
        ("_temporary/a.parquet", "temporary"),
    ):
        pq.write_table(pa.table({col: [1]}), os.path.join(path, name))
    assert _same_schema(spark, path).fieldNames() == ["b"]
    pq.write_metadata(pa.schema([("meta", pa.int32())]), os.path.join(path, "_metadata"))
    assert _same_schema(spark, path).fieldNames() == ["meta"]
    pq.write_metadata(
        pa.schema([("common", pa.string())]), os.path.join(path, "_common_metadata")
    )
    assert _same_schema(spark, path).fieldNames() == ["common"]
    # several paths: the first file by path string over all of them
    other = str(tmp_path / "a_first")
    os.makedirs(other)
    pq.write_table(pa.table({"z": [1]}), os.path.join(other, "x.parquet"))
    assert _same_schema(spark, os.path.join(path, "c.parquet"), other).fieldNames() == ["z"]
    # a glob, and a session that merges schemas: Spark's own inference
    assert _same_schema(spark, os.path.join(path, "[bc].parquet")).fieldNames() == ["b"]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _same_schema(spark, other, os.path.join(path, "b.parquet")).fieldNames() == [
            "z", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_manifest_subdirectories(spark, tmp_path, sf_dir):
    """Index components committed by a Spark seed, a driver (pyarrow)
    absorb and Spark absorbs."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    indexes.create_index(spark, root, "nd", "neardup", docs.where(F.col("doc_id") % 3 != 0))
    indexes.append_index(spark, root, "nd", docs.where(F.col("doc_id") % 3 == 0))
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    indexes.create_index(spark, root, "iv", "ivfpq", emb.where(F.col("vec_id") % 2 == 0))
    indexes.append_index(spark, root, "iv", emb.where(F.col("vec_id") % 2 == 1))
    for name in ("nd", "iv"):
        path = os.path.join(root, name)
        m = manifest.latest(spark, path)
        for comp in m.components:
            listed = manifest.paths(path, m, comp)
            got = manifest.read(spark, path, m, comp)
            assert got.schema == spark.read.parquet(*listed).schema, (name, comp)
    # the component root, as a plain reader sees it (with the ``v`` column)
    assert len(manifest.paths(os.path.join(root, "nd"), manifest.latest(
        spark, os.path.join(root, "nd")), "bands")) == 2
    _same_schema(spark, os.path.join(root, "nd", "bands"))


def test_no_data_file_raises_what_spark_raises(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    hidden_only = str(tmp_path / "hidden_only")
    os.makedirs(hidden_only)
    open(os.path.join(hidden_only, "_SUCCESS"), "w").close()
    for path in (empty, hidden_only, str(tmp_path / "missing"), str(tmp_path / "*")):
        with pytest.raises(AnalysisException) as want:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as got:
            read_parquet(spark, path)
        assert got.value.getCondition() == want.value.getCondition()
        assert str(got.value) == str(want.value)


def test_table_store_and_manifest_reads_run_no_spark_job(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    assert _jobs(spark, "read-parquet-tables", lambda: [
        load(spark, sf_dir, name) for name in TABLE_NAMES]) == 0

    path = str(tmp_path / "store")
    emb = load(spark, sf_dir, "embeddings")
    store.append_vectors(emb, path)
    store.append_vectors(emb.limit(3), path)
    assert _jobs(spark, "read-parquet-store",
                 lambda: store.open_store(spark, path)) == 0

    root = str(tmp_path)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    indexes.create_index(spark, root, "nd", "neardup", docs.where(F.col("doc_id") % 2 == 0))
    indexes.append_index(spark, root, "nd", docs.where(F.col("doc_id") % 2 == 1))
    ipath = os.path.join(root, "nd")
    m = manifest.latest(spark, ipath)
    assert _jobs(spark, "read-parquet-manifest", lambda: [
        manifest.read(spark, ipath, m, comp) for comp in m.components]) == 0
