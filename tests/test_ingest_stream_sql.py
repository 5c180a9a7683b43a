from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import multimodal
from generative_ai_vector_db_spark.operators.store import open_store
from generative_ai_vector_db_spark.streaming import ingest_stream
from generative_ai_vector_db_spark.tables import register_views

from .oracle_utils import compare_query, duck_connection


def test_q66_framesample_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        multimodal.QUERIES["q66_multimodal_framesample"],
        multimodal.ORACLE["q66_multimodal_framesample"],
        "q66",
    )


def test_continuous_ingest_with_store_dedup(spark):
    """Reference §3.1 as a streaming service: batch 1 ingests two files;
    batch 2 brings one NEW file and one DUPLICATE-content file — the
    duplicate must be skipped via the store-level hash anti-join."""
    work = tempfile.mkdtemp(prefix="cingest_")
    uploads = os.path.join(work, "uploads")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(uploads)
    try:
        with open(os.path.join(uploads, "a.txt"), "w") as f:
            f.write("alpha content " * 30)
        with open(os.path.join(uploads, "b.md"), "w") as f:
            f.write("bravo content " * 30)
        ingest_stream.run_ingest_stream(spark, uploads, store, ckpt)
        s1 = open_store(spark, store)
        n1 = s1.count()
        assert n1 > 0
        assert set(r["source"] for r in s1.select("source").distinct().collect()) == {
            "a.txt",
            "b.md",
        }

        # batch 2: one new file + one exact-duplicate of a.txt's content
        with open(os.path.join(uploads, "c.txt"), "w") as f:
            f.write("charlie content " * 30)
        with open(os.path.join(uploads, "a_copy.txt"), "w") as f:
            f.write("alpha content " * 30)
        ingest_stream.run_ingest_stream(spark, uploads, store, ckpt)
        s2 = open_store(spark, store)
        sources = set(r["source"] for r in s2.select("source").distinct().collect())
        assert "c.txt" in sources
        assert "a_copy.txt" not in sources  # R11: "File already exists"
        assert s2.select("file_hash").distinct().count() == 3
        # embeddings present and normalized
        assert s2.select(F.size("embedding")).distinct().collect()[0][0] == 64
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sql_api_parity(spark, sf_dir):
    """The engine is equally drivable through spark.sql over registered
    views — TPC-H Q1 via SQL matches the DuckDB oracle."""
    register_views(spark, sf_dir)
    sql_df = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).toPandas()
    con = duck_connection(sf_dir)
    duck = con.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).df()
    con.close()
    assert sql_df.values.tolist() == duck.values.tolist()


def test_upsert_stream_materializes_latest_per_key(spark, sf_dir, tmp_path):
    """run_upsert_stream maintains the keep-latest-per-user store; the
    final store must equal the batch 'latest per key' computed over all
    events, and re-applying a batch must not change it (idempotence)."""
    from pyspark.sql import Window

    from generative_ai_vector_db_spark.tables import load

    ev = load(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    # two files -> (typically) two chronological micro-batches
    cut = "2024-01-15"
    ev.where(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(src)
    ev.where(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)

    ingest_stream.run_upsert_stream(spark, src, store, ckpt)

    got = (
        spark.read.parquet(store)
        .select("user_id", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), (len(got), len(want))

    # idempotence: re-applying the full event set leaves the store as-is
    ingest_stream._upsert_batch(ev, store, "user_id", "ts")
    again = (
        spark.read.parquet(store)
        .select("user_id", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert again.equals(want)
