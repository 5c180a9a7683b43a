"""SparkSession factory.

Defaults are chosen for correctness-first local runs but mirror what we
would set on a real cluster:

* AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast conversion) — at 100 TB this is what turns
  a mis-estimated sort-merge join back into a broadcast join.
* Arrow on — every Pandas-UDF stage (embedding, multimodal decode) moves
  columnar batches, not pickled rows.
* UTC session timezone — timestamps hash-match the DuckDB oracle.
* shuffle.partitions sized for the local core count; on a cluster this
  would be ~2-3x total cores (AQE coalesces the excess).

On a ``local`` master two more confs are set, before ``extra_conf`` (which
can override them):

* ``spark.python.daemon.module`` = ``generative_ai_vector_db_spark._bootstrap``,
  a worker daemon that runs ``pyspark.daemon.manager()`` after installing
  a zip-cache rule. Before each task a reused worker calls
  ``importlib.invalidate_caches()``, which before CPython 3.12 re-reads
  a zip's whole central directory once per zipimporter the worker holds:
  16 reads per task, 12 of them of ``pyspark.zip`` (1,328 entries,
  about 11 ms a read). The rule re-reads an archive only when its stat
  changed (see ``_bootstrap``); CPython 3.12 fixed the same cost its own
  way (gh-103200), and there nothing is installed. On a 4-core host a
  bare one-task Python job (``parallelize([1], 1).map(...)``, median of
  30) fell from 237–252 ms to 86–106 ms.
* ``spark.executorEnv.PYTHONPATH`` = the package's parent directory, so
  the daemon can import that module.

Both only for local masters: only there do the workers see the driver's
files. A cluster keeps the stock daemon and gets the package through
``_bootstrap.ensure_worker_imports``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import _bootstrap


def get_session(
    app_name: str = "generative_ai_vector_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as plain TIMESTAMP,
        # not TIMESTAMP_NTZ — epoch math (unix_micros etc.) requires TIMESTAMP
        # and the session TZ is UTC so semantics are identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if master.startswith("local"):
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.python.daemon.module", _bootstrap.__name__
        ).config("spark.executorEnv.PYTHONPATH", pkg_parent)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
