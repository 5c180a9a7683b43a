"""Vector-store management — reference R14/R15/R22 (SURVEY §2.A):
create-or-append (``helper/multiple_document_upload.py:161-168``), open
existing (``app.py:70-79``), and delete-by-metadata-predicate
(``helper/multiple_document_upload.py:178-200``).

The reference's delete materializes the ENTIRE collection into Python
twice and filters in a list comprehension (:182-189) — an O(2N) scan.
Here the delete is the declarative anti-join / filter rewrite: the
predicate pushes to the parquet scan, and on a partitioned-by-source
production layout it becomes a metadata-only partition drop.

Q52 is the oracle-checked delete shape: victims counted per the
predicate (the reference returns the deleted count, :200) and the
surviving store aggregated — both sides of the rewrite in one result.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fsutil import read_parquet
from ..tables import load

DELETE_SOURCE = "src3"  # fixture predicate (documents.source in src0..src19)


def append_vectors(df: DataFrame, store_path: str) -> None:
    """R14: create-or-append — one code path; parquet append creates the
    table on first write. Production: partitionBy("source") so R22
    deletes drop partitions."""
    df.write.mode("append").parquet(store_path)


def open_store(spark: SparkSession, store_path: str) -> DataFrame:
    """R15: open existing store: a parquet read whose schema comes from
    the footer Spark's inference would read, read on the driver
    (``fsutil.read_parquet``), so opening runs no Spark job."""
    return read_parquet(spark, store_path)


def delete_by_source(store: DataFrame, docs: DataFrame, source: str) -> DataFrame:
    """R22 rewrite: survivors = store ANTI JOIN victims(doc ids of the
    source). Returns the surviving store."""
    victims = docs.where(F.lower(F.col("source")) == source.lower()).select("doc_id")
    return store.join(victims, store.vec_id == victims.doc_id, "left_anti")


def upsert_vectors(store: DataFrame, updates: DataFrame, key: str = "vec_id") -> DataFrame:
    """Keep-latest upsert (MERGE shape without Delta): updates win over
    store rows on key collision. union + per-key row_number, preferring
    the updates side — one shuffle on the key. On Delta/Iceberg this is
    `MERGE INTO`; the parquet-era rewrite is this exact plan."""
    from pyspark.sql import Window

    tagged = store.withColumn("_pri", F.lit(0)).unionByName(
        updates.withColumn("_pri", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(F.col("_pri").desc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )


def write_index_layout(
    emb_with_cell: DataFrame, path: str, cell_col: str = "cell"
) -> None:
    """Persist embeddings partitioned by ANN cell (IVF cluster or LSH
    bucket): a probe then reads ONLY its cells' partitions — ANN search
    cost becomes partition-pruned I/O (asserted in tests)."""
    emb_with_cell.write.mode("overwrite").partitionBy(cell_col).parquet(path)


def q52_delete_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    store = load(spark, sf_dir, "embeddings")
    victims = docs.where(F.col("source") == DELETE_SOURCE).select("doc_id")
    survivors = store.join(victims, store.vec_id == victims.doc_id, "left_anti")
    deleted = store.join(victims, store.vec_id == victims.doc_id, "left_semi")
    return (
        deleted.select(F.lit("deleted").alias("side"), "vec_id")
        .union(survivors.select(F.lit("kept").alias("side"), "vec_id"))
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
        .orderBy("side")
    )


Q52_SQL = f"""
WITH victims AS (
  SELECT doc_id FROM documents WHERE source = '{DELETE_SOURCE}'
),
tagged AS (
  SELECT CASE WHEN EXISTS (SELECT 1 FROM victims v WHERE v.doc_id = e.vec_id)
              THEN 'deleted' ELSE 'kept' END AS side,
         vec_id
  FROM embeddings e
)
SELECT side, count(*) AS n_vectors, min(vec_id) AS min_id, max(vec_id) AS max_id
FROM tagged
GROUP BY side
ORDER BY side
"""


def roundtrip_store(spark: SparkSession, sf_dir: str, work_dir: str) -> dict:
    """R14+R15+R22 end-to-end against a real on-disk store (used by
    tests): append -> open -> delete -> count."""
    store_path = os.path.join(work_dir, "vector_store")
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    append_vectors(emb, store_path)
    opened = open_store(spark, store_path)
    n0 = opened.count()
    survivors = delete_by_source(opened, docs, DELETE_SOURCE)
    n1 = survivors.count()
    return {"before": n0, "after": n1, "deleted": n0 - n1}


# ---------------------------------------------------------------------------
# q123 — store upsert (MERGE semantics): a deterministic update batch
# (every 10th vector relabeled) plus an insert batch (every 100th
# vector re-keyed above the id space) merged into the store via
# ``upsert_vectors`` — union + per-key keep-highest-priority window,
# ONE shuffle on the key; on Delta/Iceberg this plan IS MERGE INTO.
# Output is flat (id, label, dim) — embedding arrays stay internal
# (driver canonicalizers don't sort arrays; the q50 lesson).
# ---------------------------------------------------------------------------
UPSERT_UPDATE_MOD = 10
UPSERT_INSERT_MOD = 100
UPSERT_ID_OFFSET = 1_000_000


def q123_store_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    updates = emb.where(F.col("vec_id") % UPSERT_UPDATE_MOD == 0).select(
        "vec_id", "embedding", F.lit("updated").alias("label")
    )
    inserts = emb.where(F.col("vec_id") % UPSERT_INSERT_MOD == 0).select(
        (F.col("vec_id") + UPSERT_ID_OFFSET).alias("vec_id"),
        "embedding",
        F.lit("new").alias("label"),
    )
    merged = upsert_vectors(
        emb.select(
            "vec_id", "embedding", F.col("label").cast("string").alias("label")
        ),
        updates.unionByName(inserts),
        key="vec_id",
    )
    return merged.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("emb_dim"),
    ).orderBy("vec_id")


Q123_SQL = f"""
SELECT vec_id,
       CASE WHEN vec_id % {UPSERT_UPDATE_MOD} = 0 THEN 'updated'
            ELSE CAST(label AS VARCHAR) END AS label,
       CAST(len(embedding) AS BIGINT) AS emb_dim
FROM embeddings
UNION ALL
SELECT vec_id + {UPSERT_ID_OFFSET} AS vec_id,
       'new' AS label,
       CAST(len(embedding) AS BIGINT) AS emb_dim
FROM embeddings
WHERE vec_id % {UPSERT_INSERT_MOD} = 0
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# q176 — store snapshot diff (CDC shape): classify every key across two
# store versions as added / removed / changed / unchanged via ONE
# full-outer join on the key with a content-hash compare — the
# table-diff primitive behind incremental re-embedding ("which docs
# changed since the last index build?") and audit trails. The "new"
# snapshot is a deterministic mutation of the documents table (drops,
# edits, inserts by key residue) so both engines construct bit-equal
# inputs. Scale: the join ships (key, 32-byte hash) — never document
# bodies — and the per-class aggregate partial-combines map-side.
# ---------------------------------------------------------------------------
DIFF_DROP_MOD = 17
DIFF_EDIT_MOD = 13
DIFF_ADD_MOD = 19
DIFF_ID_OFFSET = 1_000_000


def q176_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    old = docs.select("doc_id", F.sha2("text", 256).alias("h_old"))
    kept = docs.where(F.col("doc_id") % DIFF_DROP_MOD != 0)
    edited_hash = F.when(
        F.col("doc_id") % DIFF_EDIT_MOD == 0,
        F.sha2(F.concat(F.col("text"), F.lit(" [edited]")), 256),
    ).otherwise(F.sha2("text", 256))
    new = kept.select("doc_id", edited_hash.alias("h_new")).unionByName(
        docs.where(F.col("doc_id") % DIFF_ADD_MOD == 0).select(
            (F.col("doc_id") + DIFF_ID_OFFSET).alias("doc_id"),
            F.sha2("text", 256).alias("h_new"),
        )
    )
    joined = old.join(new, "doc_id", "full_outer")
    change = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(change.alias("change_type"), "doc_id")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
        )
        .orderBy("change_type")
    )


Q176_SQL = f"""
WITH old AS (SELECT doc_id, sha256(text) AS h_old FROM documents),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
              THEN sha256(text || ' [edited]')
              ELSE sha256(text) END AS h_new
  FROM documents WHERE doc_id % {DIFF_DROP_MOD} != 0
  UNION ALL
  SELECT doc_id + {DIFF_ID_OFFSET} AS doc_id, sha256(text) AS h_new
  FROM documents WHERE doc_id % {DIFF_ADD_MOD} = 0
),
joined AS (
  SELECT coalesce(old.doc_id, new.doc_id) AS doc_id, h_old, h_new
  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
)
SELECT CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_old != h_new THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM joined
GROUP BY 1
ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# q202 — small-file compaction planner: the OPTIMIZE dry-run for a
# store partitioned by source whose continuous ingest (q50/ingest
# stream) left one file per micro-batch. Ingest batches (doc_id
# blocks) stand in for the file listing the real planner reads from
# the store manifest; the plan packs consecutive batches into
# FILE_TARGET-byte output files with a running-sum bin assignment —
# deterministic integer arithmetic, one window per source partition
# (parallel across sources, exactly how the rewrite would execute:
# compaction never shuffles across partition boundaries). Report =
# before/after file counts and sizes per source — the numbers that
# justify (or skip) the rewrite I/O.
# ---------------------------------------------------------------------------
COMPACT_BATCH = 50  # docs per ingest micro-batch (file stand-in)
FILE_TARGET = 4096  # target output file bytes at fixture scale


def q202_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    batches = (
        docs.select(
            "source",
            F.expr(f"doc_id div {COMPACT_BATCH}").alias("batch"),
            "n_chars",
        )
        .groupBy("source", "batch")
        .agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    )
    packed = batches.select(
        "source",
        "batch",
        "bytes",
        F.expr(
            f"coalesce(sum(bytes) over (partition by source order by batch "
            f"rows between unbounded preceding and 1 preceding), 0) "
            f"div {FILE_TARGET}"
        ).alias("shard"),
    )
    return (
        packed.groupBy("source")
        .agg(
            F.countDistinct("batch").cast("bigint").alias("n_files_before"),
            F.countDistinct("shard").cast("bigint").alias("n_files_after"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .select(
            "source",
            "n_files_before",
            "n_files_after",
            "total_bytes",
            F.round(
                F.col("total_bytes") / F.col("n_files_before").cast("double"),
                4,
            ).alias("avg_bytes_before"),
            F.round(
                F.col("total_bytes") / F.col("n_files_after").cast("double"),
                4,
            ).alias("avg_bytes_after"),
        )
        .orderBy("source")
    )


Q202_SQL = f"""
WITH batches AS (
  SELECT source, doc_id // {COMPACT_BATCH} AS batch,
         CAST(sum(n_chars) AS BIGINT) AS bytes
  FROM documents
  GROUP BY source, doc_id // {COMPACT_BATCH}
),
packed AS (
  SELECT source, batch, bytes,
         coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY batch
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {FILE_TARGET} AS shard
  FROM batches
)
SELECT source,
       CAST(count(DISTINCT batch) AS BIGINT) AS n_files_before,
       CAST(count(DISTINCT shard) AS BIGINT) AS n_files_after,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       round(sum(bytes) / CAST(count(DISTINCT batch) AS DOUBLE), 4)
           AS avg_bytes_before,
       round(sum(bytes) / CAST(count(DISTINCT shard) AS DOUBLE), 4)
           AS avg_bytes_after
FROM packed
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q248 — CDC change-log application with delete tombstones. The
# reference's store only ever appends or bulk-deletes by metadata
# (helper/multiple_document_upload.py:161-200); a production store also
# consumes ordered change streams (Debezium/Delta CDF shape):
# upsert/delete events applied per key in (ts, event_id) order, where a
# trailing tombstone removes the key entirely — stricter than q34/q123
# latest-per-key, which have no delete semantics. Fixture mapping:
# events with event_type='error' are tombstones, every other event
# upserts ``value``. Plan: ONE hash shuffle on user_id serves both the
# per-key last-record window (row_number desc) and the per-key op
# counts (the window and groupBy share the clustering); no self-join,
# no global sort. At 100 TB the log is typically time-partitioned —
# the same plan applies per partition with a final latest-merge.
# ---------------------------------------------------------------------------
def q248_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    op = F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    d = ev.withColumn("op", op).withColumn("rn", F.row_number().over(w))
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ops"),
        F.sum((F.col("op") == "D").cast("bigint")).cast("bigint").alias("n_deletes"),
    )
    last = d.where(F.col("rn") == 1).select(
        "user_id", F.col("op").alias("last_op"), "value", F.col("ts").alias("last_ts")
    )
    return (
        agg.join(last, "user_id")
        .where(F.col("last_op") == "U")  # tombstoned keys are gone
        .select(
            "user_id",
            "n_ops",
            "n_deletes",
            F.round("value", 4).alias("final_value"),
            "last_ts",
        )
        .orderBy("user_id")
    )


Q248_SQL = """
WITH log AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_ops,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM log GROUP BY user_id
)
SELECT a.user_id, a.n_ops, a.n_deletes,
       round(r.value, 4) AS final_value,
       r.ts AS last_ts
FROM agg a JOIN ranked r ON a.user_id = r.user_id AND r.rn = 1
WHERE r.op = 'U'
ORDER BY a.user_id
"""


# ---------------------------------------------------------------------------
# q301 — time-travel reads: reconstruct the q248 CDC store state AS OF
# three snapshot cutoffs (day 7/14/21 after the log's first day,
# data-derived — no fixture-scale literals) in ONE pass: the change
# log joins a broadcast 3-row snapshot frame, rows after the cutoff
# are dropped per snapshot, and the per-(snapshot, key) latest-op
# window resolves each key's state at that instant (Delta/Iceberg
# "VERSION AS OF" semantics over an event-shaped log). Audit output
# per snapshot: live keys, tombstoned keys, live-value total.
# Scale: one shuffle on (snapshot, user) serves the window and the
# final per-snapshot rollup; the 3x log fan-out is the price of
# single-pass multi-snapshot audits (vs 3 scans) and shrinks to the
# snapshot count, not data size.
# ---------------------------------------------------------------------------
SNAPSHOT_DAYS = (7, 14, 21)


def q301_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    start = ev.agg(F.date_trunc("day", F.min("ts")).alias("day0"))
    snaps = (
        spark.range(1, len(SNAPSHOT_DAYS) + 1)
        .select((F.col("id") * 7).cast("bigint").alias("snap_day"))
        .crossJoin(F.broadcast(start))
        .select(
            "snap_day",
            F.timestamp_add("DAY", F.col("snap_day").cast("int"), F.col("day0")).alias(
                "cutoff"
            ),
        )
    )
    tagged = (
        ev.crossJoin(F.broadcast(snaps))
        .where(F.col("ts") < F.col("cutoff"))
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
    )
    w = Window.partitionBy("snap_day", "user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = tagged.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        last.groupBy("snap_day")
        .agg(
            F.sum((F.col("op") == "U").cast("bigint"))
            .cast("bigint")
            .alias("n_live"),
            F.sum((F.col("op") == "D").cast("bigint"))
            .cast("bigint")
            .alias("n_tombstoned"),
            F.round(
                F.sum(F.when(F.col("op") == "U", F.col("value"))), 4
            ).alias("live_value_sum"),
        )
        .orderBy("snap_day")
    )


Q301_SQL = """
WITH start AS (SELECT date_trunc('day', min(ts)) AS day0 FROM events),
snaps AS (
  SELECT CAST(i * 7 AS BIGINT) AS snap_day,
         day0 + (i * 7) * INTERVAL 1 DAY AS cutoff
  FROM range(1, 4) t(i), start
),
tagged AS (
  SELECT s.snap_day, e.user_id, e.ts, e.event_id, e.value,
         CASE WHEN e.event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events e, snaps s
  WHERE e.ts < s.cutoff
),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY snap_day, user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM tagged
  ) WHERE rn = 1
)
SELECT snap_day,
       CAST(coalesce(sum(CASE WHEN op = 'U' THEN 1 END), 0) AS BIGINT)
         AS n_live,
       CAST(coalesce(sum(CASE WHEN op = 'D' THEN 1 END), 0) AS BIGINT)
         AS n_tombstoned,
       round(sum(CASE WHEN op = 'U' THEN value END), 4) AS live_value_sum
FROM last
GROUP BY snap_day
ORDER BY snap_day
"""


# ---------------------------------------------------------------------------
# q335 — exactly-once replay audit: apply the q248 CDC log once, then
# apply it DUPLICATED (at-least-once delivery: every change arrives
# twice), and grade that the keyed last-writer-wins merge converges to
# the identical snapshot — diff_rows == 0 and equal portable
# checksums. This is the property a 100 TB ingest relies on when a
# task retry or a Kafka redelivery replays a batch: the sink merge
# must be idempotent BY CONSTRUCTION (deterministic (ts, event_id)
# tie-break), and this op measures it instead of asserting it.
# Scale: two per-key window reductions + one full outer join on the
# key — all partition-local after one shuffle each; the checksum is a
# two-level MODULAR sum of portable mixes (order-free, map-side
# combinable, and overflow-identical across engines — see
# _mod_checksum for the documented key-count bound).
# ---------------------------------------------------------------------------
def _cdc_snapshot(log: DataFrame) -> DataFrame:
    """Last-writer-wins snapshot of a (user_id, ts, event_id, op,
    value) change log — q248's reduction, reusable for replays."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .where(F.col("op") == "U")
    )
    return last.select(
        "user_id", F.round("value", 4).alias("final_value")
    )


CKSUM_BUCKETS = 4096  # two-level modular fold: per-bucket sums stay in int64


def _mod_checksum(df: DataFrame, n_alias: str, ck_alias: str) -> DataFrame:
    """Order-free modular checksum of a (user_id, final_value) snapshot.

    The r11 form was an UNBOUNDED int64 SUM of 31-bit mixes — beyond
    ~2^33 keys Spark (non-ANSI) wraps silently while DuckDB sums to
    HUGEINT, so cross-engine parity broke exactly at the scale the
    operator claims to serve. This folds modulo HASH_MOD at two
    levels: per hash-bucket sums (int64-safe to ~2^33 rows PER BUCKET,
    i.e. ~3.5e13 keys total with 4096 buckets — documented bound),
    then a 4096-row outer sum (< 2^43) reduced mod HASH_MOD again.
    Both engines compute the identical residue.
    """
    from ..functions.hashing import HASH_MOD, mix_spark

    mixed = df.select(
        F.pmod(F.col("user_id"), F.lit(CKSUM_BUCKETS)).alias("_b"),
        F.expr(
            mix_spark(
                "user_id * 31 + cast(round(final_value * 10000) as bigint)"
            )
        ).alias("_m"),
    )
    inner = mixed.groupBy("_b").agg(
        (F.sum("_m") % HASH_MOD).alias("_s"),
        F.count(F.lit(1)).alias("_c"),
    )
    return inner.agg(
        F.sum("_c").cast("bigint").alias(n_alias),
        (F.sum("_s") % HASH_MOD).cast("bigint").alias(ck_alias),
    )


def q335_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    once = _cdc_snapshot(ev)
    twice = _cdc_snapshot(ev.unionAll(ev))
    c1 = _mod_checksum(once, "n_keys_once", "checksum_once")
    c2 = _mod_checksum(twice, "n_keys_twice", "checksum_twice")
    o = once.select("user_id", F.col("final_value").alias("v1"))
    t = twice.select("user_id", F.col("final_value").alias("v2"))
    diff = (
        o.join(t, "user_id", "full_outer")
        .where(
            F.col("v1").isNull()
            | F.col("v2").isNull()
            | (F.col("v1") != F.col("v2"))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("diff_rows"))
    )
    return (
        c1.crossJoin(c2)
        .crossJoin(diff)
        .select(
            "n_keys_once",
            "n_keys_twice",
            "diff_rows",
            (F.col("checksum_once") == F.col("checksum_twice")).alias(
                "checksum_match"
            ),
        )
    )


def _q335_sql() -> str:
    from ..functions.hashing import HASH_MOD, mix_duck

    cks = mix_duck(
        "user_id * 31 + CAST(round(final_value * 10000) AS BIGINT)"
    )
    # Mirror of _mod_checksum's two-level modular fold (per-bucket
    # sum % HASH_MOD, then outer sum % HASH_MOD) so both engines
    # compute the identical int64 residue regardless of their native
    # SUM widening behavior.
    fold = (
        "SELECT CAST(sum(c) AS BIGINT) AS n, "
        f"CAST(sum(s) % {HASH_MOD} AS BIGINT) AS ck FROM ("
        f"SELECT user_id % {CKSUM_BUCKETS} AS b, "
        f"sum({cks}) % {HASH_MOD} AS s, count(*) AS c "
        "FROM {src} GROUP BY 1)"
    )
    return f"""
WITH log AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
log2 AS (SELECT * FROM log UNION ALL SELECT * FROM log),
once AS (
  SELECT user_id, round(value, 4) AS final_value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM log
  ) WHERE rn = 1 AND op = 'U'
),
twice AS (
  SELECT user_id, round(value, 4) AS final_value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM log2
  ) WHERE rn = 1 AND op = 'U'
),
c1 AS (SELECT n AS n_keys_once, ck AS checksum_once
       FROM ({fold.format(src='once')})),
c2 AS (SELECT n AS n_keys_twice, ck AS checksum_twice
       FROM ({fold.format(src='twice')})),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS diff_rows
  FROM (SELECT user_id, final_value AS v1 FROM once) o
  FULL OUTER JOIN (SELECT user_id, final_value AS v2 FROM twice) t
    USING (user_id)
  WHERE v1 IS NULL OR v2 IS NULL OR v1 != v2
)
SELECT n_keys_once, n_keys_twice, diff_rows,
       checksum_once = checksum_twice AS checksum_match
FROM c1, c2, d
"""


Q335_SQL = _q335_sql()


QUERIES = {
    "q335_idempotent_replay": q335_idempotent_replay,
    "q301_snapshot_as_of": q301_snapshot_as_of,
    "q52_delete_by_source": q52_delete_by_source,
    "q123_store_upsert": q123_store_upsert,
    "q176_snapshot_diff": q176_snapshot_diff,
    "q202_compaction_plan": q202_compaction_plan,
    "q248_cdc_apply": q248_cdc_apply,
}

ORACLE = {
    "q335_idempotent_replay": Q335_SQL,
    "q301_snapshot_as_of": Q301_SQL,
    "q52_delete_by_source": Q52_SQL,
    "q123_store_upsert": Q123_SQL,
    "q176_snapshot_diff": Q176_SQL,
    "q202_compaction_plan": Q202_SQL,
    "q248_cdc_apply": Q248_SQL,
}
