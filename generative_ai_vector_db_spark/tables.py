"""Fixture-table catalog (TESTDATA.md / FIXTURES.md).

``load(spark, sf_dir, name)`` returns the parquet-backed DataFrame for one
of the ten driver tables. Scans are parquet reads with a given schema
(``fsutil.read_parquet``: the footer Spark's inference would read, read
on the driver, so opening a table runs no Spark job), so Catalyst gets
predicate pushdown, column pruning and (on partitioned production
layouts) partition pruning for free — callers express filters
declaratively and never pre-materialize.

At 100 TB the same catalog would point at partitioned/bucketed layouts
(e.g. ``embeddings`` bucketed by hash(vec_id), ``events`` partitioned by
day); the query code in ``operators/`` is layout-agnostic by design.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import TABLE_NAMES
from .fsutil import read_parquet

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    from ._bootstrap import ensure_worker_imports

    ensure_worker_imports(spark)
    # Timestamp physical types have drifted across testdata generations:
    # TIMESTAMP(NANOS), then TIMESTAMP(MICROS, isAdjustedToUTC=false) which
    # Spark by default reads as TIMESTAMP_NTZ — and epoch expressions
    # (unix_micros, cast-to-long, interval joins) reject NTZ at analysis.
    # Setting the runtime conf BEFORE the read makes the scan produce
    # session-TZ TIMESTAMP natively, so range predicates still push down to
    # parquet (a cast on top of the scan would block PushedFilters). The
    # session TZ is UTC, so this is a re-tag, not a wall-clock shift, and
    # values hash-match DuckDB's naive timestamps. Set here, not only in
    # session.py: the driver calls queries() with its own default session.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    from pyspark.sql import functions as F

    if name == "events":
        # Older generations stored ts as TIMESTAMP(NANOS), which Spark
        # rejects by default (SPARK-40819); read nanos as long and truncate.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col_name, dtype in df.dtypes:
        if dtype == "bigint" and name == "events" and col_name == "ts":
            # nanos as long: integer `div`, NOT double division — epoch-nanos
            # (~1.7e18) exceeds double's 53-bit mantissa.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            # defensive: only reachable if a future Spark ignores the conf
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() use."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
