"""Skew & co-location techniques as first-class, tested operators.

These exist to make the 100 TB story concrete and ASSERTED rather than
narrated:

* ``q56_salted_agg`` — two-phase salted aggregation: phase 1 aggregates
  (key, salt) so one hot key spreads over SALT_BUCKETS reducers; phase 2
  combines partials per key. Hash-matched against the plain GROUP BY
  oracle — proof the rewrite is semantics-preserving. (Sums are doubles:
  the two-phase combine changes addition order, so salted aggregation is
  only exposed for value domains where round(4) absorbs reorder error —
  here sums of ~1e2-magnitude doubles at 1e-10 relative error.)
* ``salted_join`` — replicate the small side per salt so a skewed join
  key fans out over salt partitions; equivalence asserted in tests.
  (AQE's skew-join split handles the common case at runtime; explicit
  salting is for the planner-resistant cases, e.g. a single megakey.)
* ``write_bucketed`` / bucketed-join plan test — co-located joins:
  both sides bucketed by the join key avoid the exchange entirely
  (asserted: no shuffle above the SortMergeJoin in the plan).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prefix import prefix_sums
from ..tables import load

SALT_BUCKETS = 8


def q56_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("psum"),
        F.max("value").alias("pmax"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("psum"), 4).alias("sum_value"),
            F.round(F.max("pmax"), 4).alias("max_value"),
        )
        .orderBy("event_type")
    )


Q56_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       round(max(value), 4) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = SALT_BUCKETS,
) -> DataFrame:
    """Skew-resistant equi-join: fact rows get a random-but-deterministic
    salt; the dim side is replicated across all salts. Result is
    row-equivalent to the plain join (asserted in tests)."""
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(fact_key)), F.lit(n_salts))
    )
    exploded_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cond = (F.col(fact_key) == F.col(dim_key)) & (
        salted_fact["_salt"] == exploded_dim["_salt"]
    )
    return salted_fact.join(exploded_dim, cond).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist as a bucketed table — co-located join input. At 100 TB
    this is the difference between shuffling the fact table per join
    and never shuffling it. ``path`` makes the table external (needed
    when the session's warehouse dir may not be writable)."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 256,
) -> int:
    """Small-file compaction: rewrite a directory into ~target-sized
    parquet files. The classic fix for ingest sprawl (the reference's
    per-upload appends would produce one file per request): size-based
    repartition -> one write. Returns the output file count.

    At 100 TB this runs per partition-dir (day/source) so each rewrite
    is bounded; with Delta/Iceberg it's OPTIMIZE/rewrite_data_files.

    Sizing and the output count go through the Hadoop FileSystem API
    (fsutil), so the same code runs against file:/, hdfs:/ or s3a:/
    paths — no driver-local ``os.walk``."""
    import math

    from ..fsutil import parquet_stats, read_parquet

    df = read_parquet(spark, src_path)
    total_bytes = parquet_stats(spark, src_path)[1]
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return parquet_stats(spark, dst_path)[0]


# ---------------------------------------------------------------------------
# q128 — Z-order (Morton) multi-column layout: interleave the bits of
# two filter dimensions so range predicates on EITHER column map to
# contiguous z-value ranges — the lakehouse data-skipping layout
# (Delta OPTIMIZE ZORDER BY / Iceberg rewrite with a z-order strategy).
# The z-value is a pure integer expression (div/mod arithmetic — the
# same text computes in any engine); ``zorder_layout`` range-partitions
# and sorts by it so every output file covers a tight (user, day)
# bounding box — asserted against a row-count-identical unordered
# layout via parquet footer stats in tests. The registry query reports
# per-z-bucket locality stats (count + per-dimension min/max), which is
# exactly the file-skipping metadata a reader would prune on.
# ---------------------------------------------------------------------------
ZBITS = 8  # bits per dimension -> 16-bit z-value


def _zvalue(x, y, bits: int = ZBITS):
    """Morton-interleave two non-negative int columns (div/mod form —
    no engine-specific bit operators)."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        xbit = (x.cast("bigint") / F.lit(2**i)).cast("bigint") % 2
        ybit = (y.cast("bigint") / F.lit(2**i)).cast("bigint") % 2
        z = z + xbit * F.lit(2 ** (2 * i)) + ybit * F.lit(2 ** (2 * i + 1))
    return z


def _zvalue_sql(x: str, y: str, bits: int = ZBITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((CAST({x} AS BIGINT) // {2**i}) % 2) * {2 ** (2 * i)}")
        terms.append(f"((CAST({y} AS BIGINT) // {2**i}) % 2) * {2 ** (2 * i + 1)}")
    return " + ".join(terms)


Z_BUCKET_SHIFT = 64  # z-values per locality bucket


def q128_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(2**ZBITS)).alias("u"),
        (F.dayofmonth("ts") - 1).alias("d"),
    )
    z = _zvalue(F.col("u"), F.col("d"))
    return (
        ev.select("u", "d", z.alias("zval"))
        .groupBy((F.col("zval") / F.lit(Z_BUCKET_SHIFT)).cast("bigint").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
        .orderBy("z_bucket")
    )


Q128_SQL = f"""
WITH base AS (
  SELECT CAST(user_id % {2**ZBITS} AS BIGINT) AS u,
         CAST(dayofmonth(ts) - 1 AS BIGINT) AS d
  FROM events
),
zed AS (
  SELECT u, d, {_zvalue_sql('u', 'd')} AS zval FROM base
)
SELECT CAST(zval // {Z_BUCKET_SHIFT} AS BIGINT) AS z_bucket,
       count(*) AS n_rows,
       min(u) AS u_min, max(u) AS u_max,
       min(d) AS d_min, max(d) AS d_max
FROM zed
GROUP BY 1
ORDER BY 1
"""


def zorder_layout(
    df: DataFrame, x_col: str, y_col: str, out_path: str, n_files: int = 8
) -> None:
    """Write ``df`` z-ordered on (x_col, y_col): range-partition by the
    Morton value then sort within partitions, so each parquet file's
    footer stats cover a tight bounding box in BOTH dimensions and a
    reader skips files for 2-D range predicates (row-group pruning at
    scan time). The write is one repartitionByRange shuffle."""
    z = _zvalue(
        F.pmod(F.col(x_col), F.lit(2**ZBITS)),
        F.pmod(F.col(y_col), F.lit(2**ZBITS)),
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


# ---------------------------------------------------------------------------
# q138 — join-key skew profile: the heavy-hitter report that decides
# whether a join/agg key needs salting (q56) or AQE skew splitting.
# Per-key counts reduce map-side; the key-count table (|distinct keys|
# rows) is then compared to its own mean via a 1-row broadcast — the
# fact table is touched exactly once. skew_ratio >> 1 on the top keys
# is the signal to pre-salt before a 100 TB shuffle.
# ---------------------------------------------------------------------------
SKEW_TOPK = 20


def q138_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    mean = per_key.agg(F.avg("n").alias("mean_n"))
    return (
        per_key.join(F.broadcast(mean))
        .select(
            "l_partkey",
            "n",
            F.round(F.col("n") / F.col("mean_n"), 4).alias("skew_ratio"),
        )
        .orderBy(F.desc("n"), "l_partkey")
        .limit(SKEW_TOPK)
    )


Q138_SQL = f"""
WITH per_key AS (
  SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1
),
m AS (SELECT avg(n) AS mean_n FROM per_key)
SELECT l_partkey, n, round(n / mean_n, 4) AS skew_ratio
FROM per_key CROSS JOIN m
ORDER BY n DESC, l_partkey
LIMIT {SKEW_TOPK}
"""


# ---------------------------------------------------------------------------
# q139 — referential-integrity audit: orphan counts for every FK edge
# of the star schema in one report — the data-quality gate run before
# a corpus/warehouse snapshot is published. Each edge is ONE pass over
# the child: a left join against the parent's distinct keys with a hit
# marker, counted conditionally (never count()+anti-join, which would
# scan the child twice). Dimension parents broadcast; the two
# fact-fact edges (lineitem->orders) shuffle on the join key only.
# ---------------------------------------------------------------------------
_FK_EDGES = [
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def q139_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for fk, child_t, ckey, parent_t, pkey in _FK_EDGES:
        parent_keys = (
            load(spark, sf_dir, parent_t)
            .select(F.col(pkey).alias(ckey))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        row = (
            load(spark, sf_dir, child_t)
            .select(ckey)
            .join(parent_keys, ckey, "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(F.lit(fk).alias("fk"), "n_child", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


Q139_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{fk}' AS fk,
  (SELECT count(*) FROM {child_t}) AS n_child,
  (SELECT count(*) FROM {child_t} c
   WHERE NOT EXISTS (SELECT 1 FROM {parent_t} p WHERE p.{pkey} = c.{ckey})
  ) AS n_orphans"""
    for fk, child_t, ckey, parent_t, pkey in _FK_EDGES
) + "\nORDER BY fk"


# ---------------------------------------------------------------------------
# q155 — column data-quality profile (the Deequ/Great-Expectations
# primitive): one pass over the fact table computes per-column null
# rate, distinct count, min and max for a declared column set. ONE
# aggregate row is computed first (every stat is a decomposable agg —
# map-side combined, a single 1-row shuffle), then unpivoted to the
# per-column report driver-side of the plan but executor-side of the
# data: the wide->long step handles a 1-row relation, so profiling a
# 100 TB table costs one scan regardless of how many columns are
# profiled. The exact multi-column countDistinct compiles to an Expand
# (xN_cols rows into the partial agg); at 100 TB swap it for
# approx_count_distinct and the Expand disappears — the oracle keeps
# the exact twin at test scale.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q155_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stacked = one.selectExpr(
        "_n",
        "stack({n}, {args}) as (col_name, n_nulls, n_distinct, min_val, max_val)".format(
            n=len(_PROFILE_COLS),
            args=", ".join(
                f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
                for c in _PROFILE_COLS
            ),
        ),
    )
    return stacked.select(
        "col_name",
        F.col("_n").alias("n_rows"),
        "n_nulls",
        "n_distinct",
        "min_val",
        "max_val",
    ).orderBy("col_name")


Q155_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           round(min({c}), 4) AS min_val,
           round(max({c}), 4) AS max_val
    FROM lineitem"""
        for c in _PROFILE_COLS
    )
    + "\n) ORDER BY col_name"
)


# ---------------------------------------------------------------------------
# q168 — mergeable log-histogram quantiles (DDSketch-shaped): bucket
# every value into fixed log-spaced bins (bin = floor(ln(1+v)*SCALE)),
# count per (type, bin), then read p50/p90/p99 off the cumulative
# histogram as the lower edge of the first bin whose cumulative count
# reaches ceil(q*n). Unlike percentile_approx (whose sketch is
# merge-order-sensitive in its error), the bin histogram is EXACTLY
# mergeable: counts add associatively across 1000 executors, partial
# aggregation is map-side combined, and the state per group is O(bins)
# regardless of data size — the 100 TB quantile shape. Bin edges and
# thresholds are single fixed double expressions, identical on both
# engines; everything else is integer-exact.
# ---------------------------------------------------------------------------
HIST_SCALE = 10.0  # ~10.5% relative bin width (e^(1/10) - 1)
_HIST_QS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


def q168_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bin_col = F.floor(F.log(F.lit(1.0) + F.col("value")) * HIST_SCALE).cast(
        "bigint"
    )
    binned = ev.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    aggs = [F.max("n").cast("bigint").alias("n_events")]
    for name, q in _HIST_QS:
        qbin = F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin"))
        )
        aggs.append(qbin.alias(f"_b_{name}"))
    est = cum.groupBy("event_type").agg(*aggs)
    return est.select(
        "event_type",
        "n_events",
        *[
            F.round(
                F.exp(F.col(f"_b_{name}") / HIST_SCALE) - F.lit(1.0), 4
            ).alias(name)
            for name, _ in _HIST_QS
        ],
    ).orderBy("event_type")


_HIST_Q_SQL = ",\n       ".join(
    f"round(exp(min(CASE WHEN cum >= ceil({q} * n) THEN bin END)"
    f" / {HIST_SCALE}) - 1.0, 4) AS {name}"
    for name, q in _HIST_QS
)

Q168_SQL = f"""
WITH binned AS (
  SELECT event_type,
         CAST(floor(ln(1.0 + value) * {HIST_SCALE}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM events
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM binned
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       {_HIST_Q_SQL}
FROM cum
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q182 — join-size advisor: predict |orders ⋈ lineitem| from per-key
# count statistics BEFORE running the join — the planning primitive
# behind shuffle-partition sizing and broadcast decisions (q138 profiles
# key skew; this turns the same statistics into an output-cardinality
# estimate). Three estimates at increasing cost: (a) the independence
# heuristic |A|*|B|/max(ndv) every optimizer starts from, (b) the exact
# sum over a deterministic 1-in-SAMPLE_MOD systematic key sample scaled
# up, (c) the exact per-key product sum (ground truth, one aggregation
# per side + one equi-join on distinct keys — never the row-level
# join). Relative errors are reported so the advisor's own quality is
# visible. All counts integer-exact; estimates are single double
# expressions.
# ---------------------------------------------------------------------------
ADVISOR_SAMPLE_MOD = 10


def q182_join_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    ca = orders.groupBy("k").agg(F.count(F.lit(1)).alias("na"))
    cb = li.groupBy("k").agg(F.count(F.lit(1)).alias("nb"))
    joined = ca.join(cb, "k")
    stats = joined.agg(
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("actual"),
        F.sum(
            F.when(
                F.col("k") % ADVISOR_SAMPLE_MOD == 0, F.col("na") * F.col("nb")
            )
        )
        .cast("bigint")
        .alias("_sampled"),
    )
    tot = (
        ca.agg(
            F.sum("na").cast("bigint").alias("rows_a"),
            F.count(F.lit(1)).cast("bigint").alias("ndv_a"),
        )
        .crossJoin(
            cb.agg(
                F.sum("nb").cast("bigint").alias("rows_b"),
                F.count(F.lit(1)).cast("bigint").alias("ndv_b"),
            )
        )
        .crossJoin(stats)
    )
    indep = F.floor(
        F.col("rows_a").cast("double")
        * F.col("rows_b").cast("double")
        / F.greatest("ndv_a", "ndv_b").cast("double")
    ).cast("bigint")
    sampled = (F.coalesce(F.col("_sampled"), F.lit(0)) * ADVISOR_SAMPLE_MOD).cast(
        "bigint"
    )
    err = lambda est: F.round(  # noqa: E731
        F.abs(est.cast("double") - F.col("actual").cast("double"))
        / F.col("actual").cast("double"),
        4,
    )
    return tot.select(
        "rows_a",
        "rows_b",
        "ndv_a",
        "ndv_b",
        "actual",
        indep.alias("est_independence"),
        err(indep).alias("err_independence"),
        sampled.alias("est_sampled"),
        err(sampled).alias("err_sampled"),
    )


Q182_SQL = f"""
WITH ca AS (SELECT o_orderkey AS k, count(*) AS na FROM orders GROUP BY 1),
cb AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem GROUP BY 1),
joined AS (SELECT ca.k, na, nb FROM ca JOIN cb USING (k)),
stats AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS actual,
         CAST(sum(CASE WHEN k % {ADVISOR_SAMPLE_MOD} = 0
                       THEN na * nb END) AS BIGINT) AS _sampled
  FROM joined
),
tot AS (
  SELECT (SELECT CAST(sum(na) AS BIGINT) FROM ca) AS rows_a,
         (SELECT CAST(count(*) AS BIGINT) FROM ca) AS ndv_a,
         (SELECT CAST(sum(nb) AS BIGINT) FROM cb) AS rows_b,
         (SELECT CAST(count(*) AS BIGINT) FROM cb) AS ndv_b,
         actual, _sampled
  FROM stats
)
SELECT rows_a, rows_b, ndv_a, ndv_b, actual,
       CAST(floor(CAST(rows_a AS DOUBLE) * CAST(rows_b AS DOUBLE)
                  / CAST(greatest(ndv_a, ndv_b) AS DOUBLE)) AS BIGINT)
           AS est_independence,
       round(abs(CAST(floor(CAST(rows_a AS DOUBLE) * CAST(rows_b AS DOUBLE)
                            / CAST(greatest(ndv_a, ndv_b) AS DOUBLE)) AS DOUBLE)
                 - CAST(actual AS DOUBLE)) / CAST(actual AS DOUBLE), 4)
           AS err_independence,
       CAST(coalesce(_sampled, 0) * {ADVISOR_SAMPLE_MOD} AS BIGINT)
           AS est_sampled,
       round(abs(CAST(coalesce(_sampled, 0) * {ADVISOR_SAMPLE_MOD} AS DOUBLE)
                 - CAST(actual AS DOUBLE)) / CAST(actual AS DOUBLE), 4)
           AS err_sampled
FROM tot
"""


# ---------------------------------------------------------------------------
# q187 — bucketed-layout planner: the sizing pass run BEFORE committing
# a 100 TB table to a bucketed layout (write_bucketed above / Spark
# `bucketBy`). Documents are routed to buckets with an engine-portable
# multiplicative hash (the shared two-lane mix of q184's epoch shuffle —
# NOT Spark's Murmur3, which DuckDB cannot reproduce), and the report
# shows per-bucket row/byte load plus the skew ratio vs the ideal
# uniform share — exactly what decides whether doc_id is a safe bucket
# key or needs a composite. `rec_n_buckets` is the integer-exact
# ceiling of total_bytes / TARGET_BUCKET_BYTES: the bucket count that
# holds the target file size, computed once and broadcast (1-row
# crossJoin), never a driver-side collect. One scan, one narrow agg on
# PLANNER_BUCKETS keys.
# ---------------------------------------------------------------------------
PLANNER_BUCKETS = 16
TARGET_BUCKET_BYTES = 8192  # ~file-size target at fixture scale
# Routing uses the shared two-lane portable mix (functions/hashing.py)
# REDUCED MOD THE MERSENNE PRIME FIRST: the previous direct
# `(residue * knuth) % 16` was a no-op hash (the Knuth constant is
# ≡ 1 mod 16, so bucket == doc_id % 16 — the planner was measuring
# residue round-robin, not a multiplicative layout). Reducing modulo
# the odd prime 2^31-1 before the power-of-two bucket mod pushes the
# multipliers' high bits into the low bits, so the layout under test
# is a real hash layout and key-space clustering skew is detectable.
from ..functions.hashing import mix_duck as _mix_duck  # noqa: E402
from ..functions.hashing import mix_spark as _mix_spark  # noqa: E402


def q187_bucket_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucketed = docs.select(
        (F.expr(_mix_spark("doc_id")) % PLANNER_BUCKETS)
        .cast("bigint")
        .alias("bucket"),
        "n_chars",
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_bytes"),
    )
    tot = per_bucket.agg(
        F.sum("n_bytes").cast("bigint").alias("_tot_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("_n_buckets"),
    )
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            "n_bytes",
            F.round(
                F.col("n_bytes")
                * F.col("_n_buckets")
                / F.col("_tot_bytes").cast("double"),
                4,
            ).alias("skew_ratio"),
            F.expr(
                f"(_tot_bytes + {TARGET_BUCKET_BYTES - 1}) "
                f"div {TARGET_BUCKET_BYTES}"
            )
            .cast("bigint")
            .alias("rec_n_buckets"),
        )
        .orderBy("bucket")
    )


Q187_SQL = f"""
WITH per_bucket AS (
  SELECT CAST({_mix_duck("doc_id")}
              % {PLANNER_BUCKETS} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_bytes
  FROM documents
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_bytes) AS BIGINT) AS _tot_bytes,
         CAST(count(*) AS BIGINT) AS _n_buckets
  FROM per_bucket
)
SELECT bucket, n_docs, n_bytes,
       round(n_bytes * _n_buckets / CAST(_tot_bytes AS DOUBLE), 4)
           AS skew_ratio,
       CAST((_tot_bytes + {TARGET_BUCKET_BYTES} - 1)
            // {TARGET_BUCKET_BYTES} AS BIGINT) AS rec_n_buckets
FROM per_bucket CROSS JOIN tot
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# q188 — salt-factor planner: turns q138's skew diagnosis into the
# actionable rewrite parameter for q56/salted_join. For the top keys of
# the lineitem->part join key, salt_factor = ceil(n / target) where
# target = 4x the mean per-key count — the number of salt replicas
# that caps any one reducer at ~4x the average row share. All integer
# arithmetic ((n + t - 1) / t with an integer-division mean), so both
# engines agree bit-for-bit — no double ceil() knife edges. The mean
# is a 1-row broadcast; per-key counts map-side combine; top-N plans
# as TakeOrderedAndProject.
# ---------------------------------------------------------------------------
SALT_PLAN_TOPK = 50
SALT_TARGET_MULT = 4


def q188_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mean = per_key.agg(
        # true integer division (`div`), NOT double `/` cast to bigint:
        # past 2^53 total rows a rounded double quotient can truncate
        # differently than DuckDB's exact `//`
        F.expr("sum(n) div count(1)").cast("bigint").alias("_mean_n")
    )
    target = f"greatest(1, _mean_n * {SALT_TARGET_MULT})"
    return (
        per_key.crossJoin(F.broadcast(mean))
        .select(
            "l_partkey",
            "n",
            F.expr(f"(n + {target} - 1) div {target}")
            .cast("bigint")
            .alias("salt_factor"),
        )
        .orderBy(F.desc("n"), "l_partkey")
        .limit(SALT_PLAN_TOPK)
    )


Q188_SQL = f"""
WITH per_key AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1
),
m AS (
  SELECT CAST(sum(n) // count(*) AS BIGINT) AS _mean_n FROM per_key
)
SELECT l_partkey, n,
       CAST((n + greatest(1, _mean_n * {SALT_TARGET_MULT}) - 1)
            // greatest(1, _mean_n * {SALT_TARGET_MULT}) AS BIGINT)
           AS salt_factor
FROM per_key CROSS JOIN m
ORDER BY n DESC, l_partkey
LIMIT {SALT_PLAN_TOPK}
"""


# ---------------------------------------------------------------------------
# q194 — range-partition planner: sampled split points + an EXACT skew
# audit of the layout they produce — what Spark's RangePartitioner does
# internally (sample, pick boundaries, hope), made inspectable before
# committing a 100 TB sort/range-partitioned write. The sample is
# deterministic (key-residue systematic sampling, q60's pattern — not
# `sample()`, whose RNG differs per run/engine), boundaries are the
# classic equi-depth read-off over the sample's cumulative counts, and
# the audit assigns EVERY row via the broadcast boundary list and
# reports per-partition size and skew. The only serial step (cumsum
# window) runs over the sample's distinct values, never the table; the
# full-table pass is one scan + one P-key aggregation.
# ---------------------------------------------------------------------------
RANGE_PARTS = 8
RANGE_SAMPLE_MOD = 20  # 5% systematic sample


def q194_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sample = orders.where(F.col("o_orderkey") % RANGE_SAMPLE_MOD == 0)
    per_val = sample.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # distributed inclusive prefix sum (functions/prefix.py) — the
    # sample's distinct-key domain grows with N, never one partition
    cum = prefix_sums(
        per_val, ["o_custkey"], {"cnt": "cum"}, inclusive=True
    ).select("o_custkey", "cum")
    ns = sample.agg(F.count(F.lit(1)).cast("bigint").alias("_ns"))
    splits = spark.range(1, RANGE_PARTS).select(
        F.col("id").cast("bigint").alias("i")
    )
    # b_i = smallest sampled value whose cumulative count reaches the
    # i-th equi-depth threshold ceil(i * n_sample / P)
    bounds = (
        splits.crossJoin(F.broadcast(ns))
        .join(
            cum,
            cum.cum
            >= F.expr(f"(i * _ns + {RANGE_PARTS - 1}) div {RANGE_PARTS}"),
        )
        .groupBy("i")
        .agg(F.min("o_custkey").cast("bigint").alias("split_val"))
    )
    # boundary list folded to ONE broadcast array row: partition id is
    # computed map-side (size of the <= filter), so the only shuffle in
    # the audit pass is the final P-key aggregation — never a per-row
    # boundary blowup
    bounds_arr = bounds.agg(
        F.sort_array(F.collect_list("split_val")).alias("bs")
    )
    assigned = orders.crossJoin(F.broadcast(bounds_arr)).select(
        F.size(F.filter("bs", lambda b: b <= F.col("o_custkey")))
        .cast("bigint")
        .alias("part")
    )
    tot = orders.agg(F.count(F.lit(1)).cast("bigint").alias("_nt"))
    return (
        assigned.groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .crossJoin(F.broadcast(tot))
        .select(
            "part",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_nt").cast("double"), 4).alias(
                "share"
            ),
            F.round(
                F.col("n_rows") * RANGE_PARTS / F.col("_nt").cast("double"), 4
            ).alias("skew_ratio"),
        )
        .orderBy("part")
    )


Q194_SQL = f"""
WITH sample AS (
  SELECT o_custkey FROM orders WHERE o_orderkey % {RANGE_SAMPLE_MOD} = 0
),
cum AS (
  SELECT o_custkey,
         CAST(sum(count(*)) OVER (ORDER BY o_custkey) AS BIGINT) AS cum
  FROM sample GROUP BY o_custkey
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS _ns FROM sample),
bounds AS (
  SELECT i, CAST(min(o_custkey) AS BIGINT) AS split_val
  FROM (SELECT unnest(generate_series(1, {RANGE_PARTS - 1})) AS i),
       cum, ns
  WHERE cum >= (i * _ns + {RANGE_PARTS - 1}) // {RANGE_PARTS}
  GROUP BY i
),
assigned AS (
  SELECT CAST((SELECT count(*) FROM bounds b
               WHERE b.split_val <= o.o_custkey) AS BIGINT) AS part
  FROM orders o
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS _nt FROM orders)
SELECT part,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(count(*) / CAST(_nt AS DOUBLE), 4) AS share,
       round(count(*) * {RANGE_PARTS} / CAST(_nt AS DOUBLE), 4) AS skew_ratio
FROM assigned CROSS JOIN tot
GROUP BY part, _nt
ORDER BY part
"""


# ---------------------------------------------------------------------------
# q198 — right-to-be-forgotten purge audit: given a deletion-request
# cohort, how many rows must be purged from every table that carries
# the user's data — the compliance dry-run that runs BEFORE q52-style
# deletes execute, including the cascade the naive per-table scan
# misses (lineitem rows carry no user key; they purge via their
# order). The request cohort is a key-residue stand-in for the real
# request table (which would be a broadcast side exactly like this
# predicate). Direct tables are ONE conditional-count scan each; the
# cascade is a key-only join against the purged orders' keys — at
# 100 TB the purged-key side is ~request-rate-sized and broadcasts.
# ---------------------------------------------------------------------------
PURGE_MOD, PURGE_RESIDUE = 97, 3


def q198_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_purged = lambda c: (F.col(c) % PURGE_MOD) == PURGE_RESIDUE  # noqa: E731

    def direct(table: str, key: str) -> DataFrame:
        t = load(spark, sf_dir, table)
        return t.agg(
            F.lit(table).alias("table"),
            F.sum(is_purged(key).cast("bigint")).cast("bigint").alias(
                "n_purge"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )

    purged_orders = (
        load(spark, sf_dir, "orders")
        .where(is_purged("o_custkey"))
        .select("o_orderkey")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    cascade = (
        li.join(
            F.broadcast(purged_orders),
            li.l_orderkey == purged_orders.o_orderkey,
            "left",
        )
        .agg(
            F.lit("lineitem").alias("table"),
            F.sum(F.col("o_orderkey").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_purge"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
    )
    out = (
        direct("customer", "c_custkey")
        .unionByName(direct("orders", "o_custkey"))
        .unionByName(direct("events", "user_id"))
        .unionByName(cascade)
    )
    return out.select(
        "table",
        "n_purge",
        "n_total",
        F.round(F.col("n_purge") / F.col("n_total").cast("double"), 4).alias(
            "purge_share"
        ),
    ).orderBy("table")


Q198_SQL = f"""
WITH rows_out AS (
  SELECT 'customer' AS "table",
         CAST(sum(CASE WHEN c_custkey % {PURGE_MOD} = {PURGE_RESIDUE}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_purge,
         CAST(count(*) AS BIGINT) AS n_total
  FROM customer
  UNION ALL
  SELECT 'orders',
         CAST(sum(CASE WHEN o_custkey % {PURGE_MOD} = {PURGE_RESIDUE}
                  THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'events',
         CAST(sum(CASE WHEN user_id % {PURGE_MOD} = {PURGE_RESIDUE}
                  THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'lineitem',
         CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM lineitem l
  LEFT JOIN (SELECT o_orderkey FROM orders
             WHERE o_custkey % {PURGE_MOD} = {PURGE_RESIDUE}) o
    ON l.l_orderkey = o.o_orderkey
)
SELECT "table", n_purge, n_total,
       round(n_purge / CAST(n_total AS DOUBLE), 4) AS purge_share
FROM rows_out
ORDER BY "table"
"""


# ---------------------------------------------------------------------------
# q209 — per-table tuning advisor: the two questions the north star
# asks of every join/agg — "how many shuffle partitions should this
# table's exchanges use" and "does this side fit under the broadcast
# threshold" — answered from measured bytes, not guesses. Row bytes
# use a documented unpadded columnar model (INT 4; BIGINT/DOUBLE/
# TIMESTAMP 8; strings their byte length; float arrays 4/element), so
# the estimate is a deterministic aggregate: ONE narrow scan per
# table, integer-exact totals, integer-div partition count against the
# 128 MB-scaled target (shrunk proportionally for fixture scale). The
# driver-facing numbers q56/q187/q188/q194 act on.
# ---------------------------------------------------------------------------
ADVISOR_TARGET_PART_BYTES = 64 * 1024  # fixture-scaled stand-in for 128 MB
ADVISOR_BROADCAST_BYTES = 256 * 1024  # fixture-scaled stand-in for 10 MB

_TBL_BYTES: dict[str, tuple[list[str], list[str], int]] = {
    # table -> (string cols, 8-byte cols, n 4-byte cols); embeddings
    # handled specially (4 bytes x array length)
    "region": (["r_name"], [], 1),
    "nation": (["n_name"], [], 2),
    "customer": (["c_name", "c_mktsegment"], ["c_custkey", "c_acctbal"], 1),
    "supplier": (["s_name"], ["s_suppkey", "s_acctbal"], 1),
    "part": (
        ["p_name", "p_brand", "p_type"],
        ["p_partkey", "p_retailprice"],
        1,
    ),
    "orders": (
        ["o_orderstatus", "o_orderpriority"],
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
        0,
    ),
    "lineitem": (
        ["l_returnflag", "l_linestatus"],
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        ],
        1,
    ),
    "events": (
        ["event_type", "props"],
        ["event_id", "ts", "user_id", "value"],
        0,
    ),
    "documents": (["text", "lang", "source"], ["doc_id", "n_chars"], 0),
}


def q209_tuning_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, (strs, eights, fours) in sorted(_TBL_BYTES.items()):
        t = load(spark, sf_dir, table)
        row_bytes = F.lit(8 * len(eights) + 4 * fours)
        for s in strs:
            row_bytes = row_bytes + F.octet_length(s)
        agg = t.agg(
            F.lit(table).alias("table"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(row_bytes).cast("bigint").alias("est_bytes"),
        )
        out = agg if out is None else out.unionByName(agg)
    emb = load(spark, sf_dir, "embeddings").agg(
        F.lit("embeddings").alias("table"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(4 * F.size("embedding") + 8 + 4).cast("bigint").alias(
            "est_bytes"
        ),
    )
    out = out.unionByName(emb)
    return out.select(
        "table",
        "n_rows",
        "est_bytes",
        F.expr(
            f"greatest(1, (est_bytes + {ADVISOR_TARGET_PART_BYTES - 1}) "
            f"div {ADVISOR_TARGET_PART_BYTES})"
        )
        .cast("bigint")
        .alias("rec_shuffle_partitions"),
        (F.col("est_bytes") <= ADVISOR_BROADCAST_BYTES).alias(
            "fits_broadcast"
        ),
    ).orderBy("table")


def _q209_sql() -> str:
    parts = []
    for table, (strs, eights, fours) in sorted(_TBL_BYTES.items()):
        b = " + ".join(
            [str(8 * len(eights) + 4 * fours)]
            + [f"strlen({s})" for s in strs]
        )
        parts.append(
            f"SELECT '{table}' AS \"table\", CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(sum({b}) AS BIGINT) AS est_bytes FROM {table}"
        )
    parts.append(
        "SELECT 'embeddings', CAST(count(*) AS BIGINT),"
        " CAST(sum(4 * len(embedding) + 8 + 4) AS BIGINT) FROM embeddings"
    )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH sized AS (
{union}
)
SELECT "table", n_rows, est_bytes,
       CAST(greatest(1, (est_bytes + {ADVISOR_TARGET_PART_BYTES - 1})
                        // {ADVISOR_TARGET_PART_BYTES}) AS BIGINT)
           AS rec_shuffle_partitions,
       est_bytes <= {ADVISOR_BROADCAST_BYTES} AS fits_broadcast
FROM sized
ORDER BY "table"
"""


Q209_SQL = _q209_sql()


# ---------------------------------------------------------------------------
# q217 bucketed co-located join — the write_bucketed primitive driven
# end-to-end as a graded query: orders and lineitem are persisted as
# bucketed+sorted tables on the JOIN KEY (once per session+sf, like
# mllib_index's fitted models), then joined and aggregated per order —
# and because both scans are hash-clustered on o_orderkey/l_orderkey
# and the group-by keys contain the bucket key, the plan needs ZERO
# shuffle exchange — the fact table is never hash-repartitioned for
# the join or the aggregation (the small orders side may still ship
# as a BroadcastExchange in the natural plan; with broadcast disabled
# the whole plan is Exchange-free SMJ — both asserted in
# tests/test_scale_stateful.py on this exact frame).
# At 100 TB this is the canonical layout for a fact
# table joined on the same key by every query: shuffle once at write
# time, never again at read time. The driver grades the RESULT against
# the plain-join oracle — proof the layout rewrite is
# semantics-preserving, not just fast.
# ---------------------------------------------------------------------------
BUCKET_JOIN_MIN_ITEMS = 7
_BUCKET_JOIN_TABLES: dict[tuple[str, str], tuple[str, str]] = {}
_BUCKET_TMPDIRS: list[str] = []


def _cleanup_bucket_dirs() -> None:
    import shutil

    while _BUCKET_TMPDIRS:
        shutil.rmtree(_BUCKET_TMPDIRS.pop(), ignore_errors=True)


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BUCKET_JOIN_TABLES:
        import atexit
        import hashlib
        import os
        import tempfile

        # Tag carries the APPLICATION id, not just sf_dir: two Spark
        # apps sharing a metastore must never DROP/overwrite each
        # other's bucketed tables mid-query.
        tag = hashlib.sha1("|".join(key).encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"gavd_buckets_{tag}_")
        if not _BUCKET_TMPDIRS:
            atexit.register(_cleanup_bucket_dirs)
        _BUCKET_TMPDIRS.append(base)
        names = (f"gavd_orders_b_{tag}", f"gavd_lineitem_b_{tag}")
        for name, tbl, col in (
            (names[0], "orders", "o_orderkey"),
            (names[1], "lineitem", "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write_bucketed(
                load(spark, sf_dir, tbl),
                name,
                col,
                path=os.path.join(base, name),
            )
        _BUCKET_JOIN_TABLES[key] = names
    return _BUCKET_JOIN_TABLES[key]


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exchange-free join+agg over the bucketed pair (no final
    orderBy so the plan test can assert zero Exchange end-to-end)."""
    ord_t, li_t = _bucketed_pair(spark, sf_dir)
    o = spark.table(ord_t).select("o_orderkey", "o_orderpriority")
    li = spark.table(li_t).select("l_orderkey", "l_extendedprice")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
        .where(F.col("n_items") >= BUCKET_JOIN_MIN_ITEMS)
    )


def q217_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucketed_join_frame(spark, sf_dir).orderBy(
        "l_orderkey", "o_orderpriority"
    )


Q217_SQL = f"""
SELECT l_orderkey,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_orderkey, o_orderpriority
HAVING count(*) >= {BUCKET_JOIN_MIN_ITEMS}
ORDER BY l_orderkey, o_orderpriority
"""


# ---------------------------------------------------------------------------
# q227 schema-drift audit — column-level diff between two snapshot
# versions of a table: the contract check a pipeline runs before
# pointing jobs at a new delivery (q176 is the ROW-level diff; this is
# the SCHEMA/profile level). Per column of each snapshot: declared
# dtype, null count, exact NDV — computed GENERICALLY from df.dtypes
# (schema introspection is driver-side metadata, not data), in ONE
# aggregate per snapshot (all counters partial-combine map-side), then
# a full-outer join on column name classifies:
#   added / removed / type_changed / null_drift / ndv_drift / stable.
# Drift thresholds run on exact INTEGER cross-products (null drift iff
# |nn_a*n_b - nn_b*n_a| * 1000 > n_a*n_b, i.e. >0.1pp; ndv drift iff
# |ndv_a - ndv_b| * 10 > ndv_a, i.e. >10%) — no float compares, so
# both engines classify identically. Snapshot B is a deterministic
# mutation (lang dropped, quality added, n_chars re-typed to double,
# text nulled on a doc_id residue) so the audit exercises every class.
# ---------------------------------------------------------------------------
def _profile_columns(df: DataFrame) -> DataFrame:
    """(column, dtype, n, n_null, ndv) — one row per column, one scan."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c, _t in df.dtypes:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint"))
            .cast("bigint")
            .alias(f"__nn_{c}")
        )
        aggs.append(F.countDistinct(c).cast("bigint").alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    stack_args = []
    for c, t in df.dtypes:
        stack_args.append(f"'{c}', '{t}', __n, __nn_{c}, __nd_{c}")
    return one.selectExpr(
        f"stack({len(df.dtypes)}, {', '.join(stack_args)})"
        " AS (col_name, dtype, n, n_null, ndv)"
    )


def q227_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    snap_b = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("text")
        ).alias("text"),
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
        (F.col("n_chars").cast("double") / 100).alias("quality"),
    )
    a = _profile_columns(docs)
    b = _profile_columns(snap_b)
    j = a.alias("a").join(
        b.alias("b"), F.col("a.col_name") == F.col("b.col_name"), "full_outer"
    )
    col = F.coalesce(F.col("a.col_name"), F.col("b.col_name"))
    null_drift = (
        F.abs(
            F.col("a.n_null") * F.col("b.n") - F.col("b.n_null") * F.col("a.n")
        )
        * 1000
        > F.col("a.n") * F.col("b.n")
    )
    ndv_drift = F.abs(F.col("a.ndv") - F.col("b.ndv")) * 10 > F.col("a.ndv")
    status = (
        F.when(F.col("a.col_name").isNull(), "added")
        .when(F.col("b.col_name").isNull(), "removed")
        .when(F.col("a.dtype") != F.col("b.dtype"), "type_changed")
        .when(null_drift, "null_drift")
        .when(ndv_drift, "ndv_drift")
        .otherwise("stable")
    )
    return j.select(
        col.alias("col_name"),
        status.alias("status"),
        F.coalesce(F.col("a.dtype"), F.lit("-")).alias("dtype_a"),
        F.coalesce(F.col("b.dtype"), F.lit("-")).alias("dtype_b"),
        F.col("a.n_null").alias("n_null_a"),
        F.col("b.n_null").alias("n_null_b"),
        F.col("a.ndv").alias("ndv_a"),
        F.col("b.ndv").alias("ndv_b"),
    ).orderBy("col_name")


Q227_SQL = """
WITH a AS (
  SELECT * FROM (VALUES
    ('doc_id',  'bigint', (SELECT CAST(count(*) AS BIGINT) FROM documents),
     (SELECT CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
     (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents)),
    ('text',    'string', (SELECT CAST(count(*) AS BIGINT) FROM documents),
     (SELECT CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
     (SELECT CAST(count(DISTINCT text) AS BIGINT) FROM documents)),
    ('lang',    'string', (SELECT CAST(count(*) AS BIGINT) FROM documents),
     (SELECT CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
     (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)),
    ('source',  'string', (SELECT CAST(count(*) AS BIGINT) FROM documents),
     (SELECT CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
     (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)),
    ('n_chars', 'bigint', (SELECT CAST(count(*) AS BIGINT) FROM documents),
     (SELECT CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
     (SELECT CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents))
  ) t(col_name, dtype, n, n_null, ndv)
),
snap_b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,
         source,
         CAST(n_chars AS DOUBLE) AS n_chars,
         CAST(n_chars AS DOUBLE) / 100 AS quality
  FROM documents
),
b AS (
  SELECT * FROM (VALUES
    ('doc_id',  'bigint', (SELECT CAST(count(*) AS BIGINT) FROM snap_b),
     (SELECT CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM snap_b),
     (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM snap_b)),
    ('text',    'string', (SELECT CAST(count(*) AS BIGINT) FROM snap_b),
     (SELECT CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM snap_b),
     (SELECT CAST(count(DISTINCT text) AS BIGINT) FROM snap_b)),
    ('source',  'string', (SELECT CAST(count(*) AS BIGINT) FROM snap_b),
     (SELECT CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM snap_b),
     (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM snap_b)),
    ('n_chars', 'double', (SELECT CAST(count(*) AS BIGINT) FROM snap_b),
     (SELECT CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM snap_b),
     (SELECT CAST(count(DISTINCT n_chars) AS BIGINT) FROM snap_b)),
    ('quality', 'double', (SELECT CAST(count(*) AS BIGINT) FROM snap_b),
     (SELECT CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM snap_b),
     (SELECT CAST(count(DISTINCT quality) AS BIGINT) FROM snap_b))
  ) t(col_name, dtype, n, n_null, ndv)
)
SELECT coalesce(a.col_name, b.col_name) AS col_name,
       CASE WHEN a.col_name IS NULL THEN 'added'
            WHEN b.col_name IS NULL THEN 'removed'
            WHEN a.dtype <> b.dtype THEN 'type_changed'
            WHEN abs(a.n_null * b.n - b.n_null * a.n) * 1000
                 > a.n * b.n THEN 'null_drift'
            WHEN abs(a.ndv - b.ndv) * 10 > a.ndv THEN 'ndv_drift'
            ELSE 'stable' END AS status,
       coalesce(a.dtype, '-') AS dtype_a,
       coalesce(b.dtype, '-') AS dtype_b,
       a.n_null AS n_null_a,
       b.n_null AS n_null_b,
       a.ndv AS ndv_a,
       b.ndv AS ndv_b
FROM a FULL OUTER JOIN b ON a.col_name = b.col_name
ORDER BY col_name
"""


# ---------------------------------------------------------------------------
# q251 — zone-map prune advisor: simulate file-level min/max pruning
# for a date predicate under two physical layouts of lineitem —
# shipdate-clustered files (file = shipdate month: the layout a
# time-partitioned lake produces) vs orderkey-clustered files (file =
# orderkey div 4096: insert-order clustering, shipdate uncorrelated).
# For each layout: per-file zone map (min/max l_shipdate), a file is
# SKIPPED iff its range is disjoint from the predicate; report files
# and rows scanned vs matched. This quantifies the q128/q194 layout
# story against a concrete predicate: the month layout prunes to the
# 3 touched files, the orderkey layout scans everything — the
# measurement behind "cluster by your filter column" at 100 TB.
# Plan: one scan per layout into a per-file aggregate (map-side
# combine), then a per-layout rollup of file verdicts — zone maps,
# not data, cross the final exchange.
# ---------------------------------------------------------------------------
PRUNE_LO, PRUNE_HI = "1996-01-01", "1996-03-31"
PRUNE_ORDERKEY_WIDTH = 4096


def q251_prune_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lo, hi = F.lit(PRUNE_LO).cast("date"), F.lit(PRUNE_HI).cast("date")
    match = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi)

    def layout(df: DataFrame, name: str, file_id) -> DataFrame:
        files = (
            df.groupBy(file_id.alias("file_id"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("l_shipdate").alias("zmin"),
                F.max("l_shipdate").alias("zmax"),
                F.sum(match.cast("bigint")).cast("bigint").alias("n_match"),
            )
            .withColumn("scanned", ((F.col("zmax") >= lo) & (F.col("zmin") <= hi)))
        )
        return files.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.col("scanned").cast("bigint")).cast("bigint").alias("files_scanned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(F.col("scanned"), F.col("n_rows")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matched"),
        )

    by_month = layout(
        li,
        "shipdate_month",
        F.year("l_shipdate") * 100 + F.month("l_shipdate"),
    )
    by_order = layout(
        li,
        "orderkey_range",
        F.floor(F.col("l_orderkey") / PRUNE_ORDERKEY_WIDTH).cast("bigint"),
    )
    return (
        by_month.unionByName(by_order)
        .select(
            "layout",
            "n_files",
            "files_scanned",
            "rows_total",
            "rows_scanned",
            "rows_matched",
            (F.col("rows_scanned") / F.col("rows_total")).alias("scan_ratio"),
        )
        .orderBy("layout")
    )


Q251_SQL = f"""
WITH li AS (SELECT l_orderkey, l_shipdate FROM lineitem),
tagged AS (
  SELECT l_shipdate,
         CASE WHEN l_shipdate >= DATE '{PRUNE_LO}'
                   AND l_shipdate <= DATE '{PRUNE_HI}' THEN 1 ELSE 0 END AS m,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS f_month,
         CAST(floor(l_orderkey / {PRUNE_ORDERKEY_WIDTH}.0) AS BIGINT) AS f_order
  FROM li
),
files AS (
  SELECT 'shipdate_month' AS layout, f_month AS file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(l_shipdate) AS zmin, max(l_shipdate) AS zmax,
         CAST(sum(m) AS BIGINT) AS n_match
  FROM tagged GROUP BY 2
  UNION ALL
  SELECT 'orderkey_range', f_order,
         CAST(count(*) AS BIGINT),
         min(l_shipdate), max(l_shipdate),
         CAST(sum(m) AS BIGINT)
  FROM tagged GROUP BY 2
),
verdict AS (
  SELECT *, (zmax >= DATE '{PRUNE_LO}' AND zmin <= DATE '{PRUNE_HI}') AS scanned
  FROM files
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       sum(CASE WHEN scanned THEN n_rows ELSE 0 END)
         / CAST(sum(n_rows) AS DOUBLE) AS scan_ratio
FROM verdict
GROUP BY layout
ORDER BY layout
"""


# ---------------------------------------------------------------------------
# q264 — bloom-filter runtime-filter advisor: for the selective
# orders→lineitem semi-join (orders filtered to one year), size the
# bloom filter Spark's runtime row-group filtering would push to the
# probe side and quantify the scan reduction — m = ceil(−n·ln p /
# ln²2) bits, k = round(m/n·ln 2) hashes, and the expected post-filter
# probe volume match + (probe − match)·p. This is the arithmetic
# behind spark.sql.optimizer.runtime.bloomFilter.enabled, surfaced as
# a readout (q182 advises on join strategy; this advises on the
# runtime filter that makes the shuffle-heavy strategy cheap).
# Scale shape: ONE scan of each table — the filtered build keys are
# checkpointed once (distinct orderkeys, broadcast-sized by the
# advisor's premise) and reused for both the key count and a single
# broadcast LEFT join over lineitem whose one aggregate yields probe
# AND match counts together; all advisor arithmetic is scan-free on a
# 1-row crossJoin against the 2-row target-fpp frame.
# ---------------------------------------------------------------------------
BLOOM_YEAR = 1996
BLOOM_FPPS = [0.01, 0.001]


def q264_bloom_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        load(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == BLOOM_YEAR)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .localCheckpoint()
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    build = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_build_keys"))
    probe_match = (
        li.join(F.broadcast(keys), li.l_orderkey == F.col("k"), "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("probe_rows"),
            F.count("k").cast("bigint").alias("match_rows"),
        )
    )
    fpp = spark.createDataFrame([(p,) for p in BLOOM_FPPS], "target_fpp double")
    ln2 = 0.6931471805599453
    bits = F.ceil(
        -F.col("n_build_keys") * F.log(F.col("target_fpp")) / (ln2 * ln2)
    ).cast("bigint")
    base = (
        fpp.crossJoin(F.broadcast(build))
        .crossJoin(F.broadcast(probe_match))
        .withColumn("bloom_bits", bits)
    )
    est = (
        F.col("match_rows")
        + (F.col("probe_rows") - F.col("match_rows")) * F.col("target_fpp")
    )
    return base.select(
        "target_fpp",
        "n_build_keys",
        "probe_rows",
        "match_rows",
        "bloom_bits",
        (F.col("bloom_bits") / F.lit(8192.0)).alias("bloom_kib"),
        F.round(F.col("bloom_bits") / F.col("n_build_keys") * ln2)
        .cast("bigint")
        .alias("n_hashes"),
        est.alias("est_rows_after_filter"),
        (F.lit(1.0) - est / F.col("probe_rows")).alias("scan_reduction"),
    ).orderBy(F.col("target_fpp").desc())


_FPP_SQL = ", ".join(f"({p})" for p in BLOOM_FPPS)
Q264_SQL = f"""
WITH build AS (
  SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_build_keys
  FROM orders WHERE year(o_orderdate) = {BLOOM_YEAR}
),
probe AS (SELECT CAST(count(*) AS BIGINT) AS probe_rows FROM lineitem),
match_ AS (
  SELECT CAST(count(*) AS BIGINT) AS match_rows
  FROM lineitem WHERE l_orderkey IN (
    SELECT o_orderkey FROM orders WHERE year(o_orderdate) = {BLOOM_YEAR})
),
fpp(target_fpp) AS (VALUES {_FPP_SQL}),
base AS (
  SELECT target_fpp, n_build_keys, probe_rows, match_rows,
         CAST(ceil(-n_build_keys * ln(target_fpp)
                   / (0.6931471805599453 * 0.6931471805599453))
              AS BIGINT) AS bloom_bits
  FROM fpp, build, probe, match_
)
SELECT target_fpp, n_build_keys, probe_rows, match_rows, bloom_bits,
       bloom_bits / 8192.0 AS bloom_kib,
       CAST(round(bloom_bits / CAST(n_build_keys AS DOUBLE)
                  * 0.6931471805599453) AS BIGINT) AS n_hashes,
       match_rows + (probe_rows - match_rows) * target_fpp
         AS est_rows_after_filter,
       1.0 - (match_rows + (probe_rows - match_rows) * target_fpp)
             / probe_rows AS scan_reduction
FROM base
ORDER BY target_fpp DESC
"""


# ---------------------------------------------------------------------------
# q268 — equi-depth histogram stats (the ANALYZE TABLE ... FOR COLUMNS
# shape): 16 equi-depth buckets over l_extendedprice with per-bucket
# row count, NDV and bounds, plus the depth-skew ratio — the
# statistics a cost-based optimizer feeds selectivity estimation
# (Spark's CBO stores exactly this histogram form). q155 profiles
# columns, q168 sketches quantiles; this materializes the
# planner-facing stats object.
# Bucket boundaries are the exact interpolated 1/16-quantiles (same
# R-7 formula in both engines on identical doubles → bit-identical
# cut points); bucket i covers (b_{i-1}, b_i] with x <= b_1 in
# bucket 1, so heavy ties can make depths uneven — that unevenness
# IS the skew readout.
# Scale shape: one pass fits boundaries (at 100 TB: the q168 sketch
# instead), the second bins scan-side against the broadcast 17-double
# array and aggregates to 16 groups with map-side combine.
# ---------------------------------------------------------------------------
HIST_BUCKETS = 16


def q268_stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    probs = [i / HIST_BUCKETS for i in range(1, HIST_BUCKETS)]
    bounds = li.agg(
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(p) for p in probs])
        ).alias("bnds")
    )
    binned = li.crossJoin(F.broadcast(bounds)).select(
        "l_extendedprice",
        (
            F.size(
                F.filter(
                    F.col("bnds"), lambda b: F.col("l_extendedprice") > b
                )
            )
            + 1
        ).alias("bucket"),
    )
    per = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("l_extendedprice").cast("bigint").alias("ndv"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    avg_depth = per.agg(F.avg("n_rows").alias("avg_depth"))
    return (
        per.crossJoin(F.broadcast(avg_depth))
        .select(
            "bucket",
            "n_rows",
            "ndv",
            "lo",
            "hi",
            (F.col("n_rows") / F.col("avg_depth")).alias("depth_skew"),
        )
        .orderBy("bucket")
    )


_HIST_PROBS_SQL = ", ".join(
    str(i / HIST_BUCKETS) for i in range(1, HIST_BUCKETS)
)
Q268_SQL = f"""
WITH bounds AS (
  SELECT quantile_cont(l_extendedprice, [{_HIST_PROBS_SQL}]) AS bnds
  FROM lineitem
),
binned AS (
  SELECT l_extendedprice,
         CAST(len(list_filter(b.bnds, x -> l_extendedprice > x)) AS INT) + 1
           AS bucket
  FROM lineitem, bounds b
),
per AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS ndv,
         min(l_extendedprice) AS lo,
         max(l_extendedprice) AS hi
  FROM binned GROUP BY bucket
),
avg_depth AS (SELECT avg(n_rows) AS avg_depth FROM per)
SELECT bucket, n_rows, ndv, lo, hi,
       n_rows / avg_depth AS depth_skew
FROM per, avg_depth
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# q315 — cache-capacity advisor: static-LFU hit-rate curve for a part
# cache in front of the lineitem access stream. For capacities C in
# CACHE_SIZES, "cache the top-C most-accessed parts" yields hit rate =
# share of accesses landing in that set — the capacity-planning curve
# (where it flattens is the budget answer). Deterministic top-C ties:
# (access count DESC, partkey). Complements q209 (tuning advisor) and
# q264 (bloom advisor) in the planning family.
# Scale: ONE row-scale frequency groupBy; the rank window runs over a
# TakeOrdered top-max(CACHE_SIZES) frame, never the full distinct-part
# domain (which grows with N); capacities join broadcast.
# ---------------------------------------------------------------------------
CACHE_SIZES = (100, 500, 1000, 2000)


def q315_cache_hit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    acc = load(spark, sf_dir, "lineitem").select("l_partkey")
    freq = acc.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # top-(max cache size) FIRST via orderBy+limit (compiles to
    # TakeOrderedAndProject — distributed partial top-k); the rank
    # window then runs over <= max(CACHE_SIZES) rows, never the full
    # distinct-part domain (which grows with N — the q160 treatment)
    top_c = freq.orderBy(F.col("n").desc(), "l_partkey").limit(
        max(CACHE_SIZES)
    )
    w = Window.orderBy(F.col("n").desc(), "l_partkey")
    ranked = top_c.withColumn("rk", F.row_number().over(w).cast("bigint"))
    tot = freq.agg(
        F.sum("n").cast("bigint").alias("_t"),
        F.count(F.lit(1)).cast("bigint").alias("_parts"),
    )
    sizes = spark.createDataFrame(
        [(int(c),) for c in CACHE_SIZES], "cache_size bigint"
    )
    hits = (
        ranked.crossJoin(F.broadcast(sizes))
        .where(F.col("rk") <= F.col("cache_size"))
        .groupBy("cache_size")
        .agg(F.sum("n").cast("bigint").alias("n_hits"))
    )
    return (
        hits.crossJoin(F.broadcast(tot))
        .select(
            "cache_size",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("_t").cast("double")).alias(
                "hit_rate"
            ),
            F.col("_parts").alias("n_distinct_parts"),
        )
        .orderBy("cache_size")
    )


_CACHE_VALUES = ", ".join(f"({c})" for c in CACHE_SIZES)

Q315_SQL = f"""
WITH freq AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, n,
         CAST(row_number() OVER (ORDER BY n DESC, l_partkey) AS BIGINT) AS rk
  FROM freq
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS _t, CAST(count(*) AS BIGINT) AS _parts
  FROM freq
),
sizes(cache_size) AS (VALUES {_CACHE_VALUES})
SELECT CAST(cache_size AS BIGINT) AS cache_size,
       CAST(sum(n) AS BIGINT) AS n_hits,
       CAST(sum(n) AS DOUBLE) / CAST(_t AS DOUBLE) AS hit_rate,
       _parts AS n_distinct_parts
FROM ranked, sizes, tot
WHERE rk <= cache_size
GROUP BY cache_size, _t, _parts
ORDER BY cache_size
"""


# ---------------------------------------------------------------------------
# q327 — ENGINE-PORTABLE HyperLogLog: the q05 approx-distinct family's
# first hash-graded member (q302's playbook applied to SKETCHES — the
# pinned two-lane mix replaces the engine RNG/hash, so the register
# state and therefore the ESTIMATE are bit-identical across engines).
# Flajolet et al.'s HLL with m=256 registers over the 31-bit portable
# hash AVALANCHED through the 3-round xor-shift finalizer
# (functions/hashing.py — the linear mix alone is lattice-structured
# on sequential ids and biased HLL +81%; the finalizer brings max
# |rel err| to 5% across all nine domain x SF combinations, within
# the 1.04/sqrt(256) = 6.5% standard error). bucket = h % 256, rho =
# leading-zero rank of the remaining 23-bit field (1..23, 24 for
# zero), register = max rho. The harmonic sum is kept EXACT in int64
# (Σ 2^(24-M_j) plus 2^24 per empty register) so the only double ops
# are one division + the linear-counting branch, identical both
# engines. Audits three id domains.
# Scale: per domain ONE groupBy(bucket) max — 256-row state, the
# textbook mergeable-sketch shape (partial maxes combine map-side;
# register arrays from shards union by max at 100 TB).
# CARDINALITY CEILING (r11 advice): the portable hash space is 31-bit,
# so estimates are trustworthy only while distinct counts stay well
# below the hash-collision regime — ~2*10^7 distincts (~1% of 2^31)
# keeps collision bias under ~1%; approaching 10^8-10^9 the estimate
# biases LOW and saturates near 2^31. The register-merge SHAPE is the
# 100 TB story; estimates at that key scale need the hash widened to
# 64-bit (engine-native xxhash64 on Spark / hash() on DuckDB) at the
# cost of cross-engine portability, or a per-shard portable sketch
# whose distinct count per shard respects this ceiling.
# ---------------------------------------------------------------------------
HLL_M = 256
HLL_WBITS = 23  # HASH_MOD // 256 < 2^23
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_NUM = HLL_ALPHA * (HLL_M * HLL_M) * float(1 << (HLL_WBITS + 1))
HLL_DOMAINS = [
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("events.user_id", "events", "user_id"),
]


def _hll_rho_spark():
    rho = None
    for i in range(HLL_WBITS):
        cond = F.col("w") >= (1 << (HLL_WBITS - 1 - i))
        rho = F.when(cond, i + 1) if rho is None else rho.when(cond, i + 1)
    return rho.otherwise(HLL_WBITS + 1)


def _hll_rho_duck() -> str:
    whens = " ".join(
        f"WHEN w >= {1 << (HLL_WBITS - 1 - i)} THEN {i + 1}"
        for i in range(HLL_WBITS)
    )
    return f"CASE {whens} ELSE {HLL_WBITS + 1} END"


def q327_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import avalanche_spark

    outs = []
    for label, table, key in HLL_DOMAINS:
        df = load(spark, sf_dir, table).select(key)
        keyed = df.select(
            F.expr(avalanche_spark(key)).alias("h")
        ).select(
            (F.col("h") % HLL_M).alias("b"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        regs = keyed.withColumn("rho", _hll_rho_spark()).groupBy("b").agg(
            F.max("rho").alias("mr")
        )
        st = regs.agg(
            F.sum(
                F.expr(
                    "shiftleft(cast(1 as bigint),"
                    f" cast({HLL_WBITS + 1} - mr as int))"
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("v"),
        )
        z = F.lit(HLL_M) - F.col("v")
        raw = F.lit(HLL_NUM) / (
            F.col("s") + z * F.lit(1 << (HLL_WBITS + 1))
        ).cast("double")
        est = F.when(
            (raw <= F.lit(2.5 * HLL_M)) & (z > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / z.cast("double")),
        ).otherwise(raw)
        exact = df.agg(
            F.countDistinct(key).cast("bigint").alias("exact_distinct")
        )
        outs.append(
            st.crossJoin(exact).select(
                F.lit(label).alias("domain"),
                "exact_distinct",
                F.round(est, 4).alias("hll_est"),
                F.round(
                    (est - F.col("exact_distinct"))
                    / F.col("exact_distinct").cast("double"),
                    4,
                ).alias("rel_err"),
                F.col("v").cast("bigint").alias("registers_used"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("domain")


def _hll_sql_one(label: str, table: str, key: str) -> str:
    from ..functions.hashing import avalanche_duck

    w_full = 1 << (HLL_WBITS + 1)
    return f"""(
  WITH keyed AS (
    SELECT h % {HLL_M} AS b, h // {HLL_M} AS w
    FROM (SELECT {avalanche_duck(key)} AS h FROM {table})
  ),
  regs AS (SELECT b, max({_hll_rho_duck()}) AS mr FROM keyed GROUP BY b),
  st AS (
    SELECT sum(CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - mr)) AS s,
           count(*) AS v
    FROM regs
  ),
  ex AS (SELECT CAST(count(DISTINCT {key}) AS BIGINT) AS exact_distinct
         FROM {table}),
  est AS (
    SELECT v,
           CASE WHEN raw <= {2.5 * HLL_M} AND ({HLL_M} - v) > 0
                THEN {float(HLL_M)!r}
                     * ln({float(HLL_M)!r} / CAST({HLL_M} - v AS DOUBLE))
                ELSE raw END AS e
    FROM (SELECT v, {HLL_NUM!r}
                    / CAST(s + ({HLL_M} - v) * {w_full} AS DOUBLE) AS raw
          FROM st)
  )
  SELECT '{label}' AS domain, exact_distinct,
         round(e, 4) AS hll_est,
         round((e - exact_distinct) / CAST(exact_distinct AS DOUBLE), 4)
           AS rel_err,
         CAST(v AS BIGINT) AS registers_used
  FROM est, ex
)"""


Q327_SQL = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT * FROM {_hll_sql_one(lbl, t, k)}"
        for lbl, t, k in HLL_DOMAINS
    )
    + "\n) ORDER BY domain"
)


# ---------------------------------------------------------------------------
# q328 — ENGINE-PORTABLE Count-Min sketch: heavy-hitter count
# estimation with d=4 INDEPENDENT hash rows x W=512 cells, graded by
# probing the exact top-10 part keys — overcount = est - exact is the
# collision mass the sketch adds, and it is NON-NEGATIVE by
# construction (a free sanity invariant the test asserts). Everything
# is int64: counters, probes, estimates — both engines hash-identical.
# Row hashes fold the row index INTO the hashed input through the
# avalanche finalizer (avalanche(key*8 + r) % W) — an additive salt on
# one linear hash would make the rows fully correlated (a row-0
# collision persists in every row, so min-over-rows reduces nothing;
# caught in the r11 self-review and verified by simulation), exactly
# the q327 lattice lesson applied to the CM independence requirement.
# Scale: the counter build is ONE groupBy over d*N exploded rows into
# a d x W = 2048-cell state (partial counts combine map-side —
# mergeable like q327); the probe side touches d rows per probed key.
# At 100 TB this replaces exact per-key counts wherever only the heavy
# tail matters (q221's heavy-hitters without the full shuffle).
# ---------------------------------------------------------------------------
CM_ROWS = 4
CM_WIDTH = 512
CM_TOPK = 10


def _cm_cells_spark(key: str):
    from ..functions.hashing import avalanche_spark

    return F.array(
        *[
            F.expr(f"({avalanche_spark(f'({key}) * 8 + {i}')}) % {CM_WIDTH}")
            for i in range(CM_ROWS)
        ]
    )


def q328_portable_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    cells = li.select(
        F.posexplode(_cm_cells_spark("l_partkey")).alias("r", "cell")
    )
    counters = cells.groupBy("r", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    exact = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    w = Window.orderBy(F.col("exact_cnt").desc(), "l_partkey")
    top = (
        exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= CM_TOPK)
        .drop("rn")
    )
    probe = top.select(
        "l_partkey",
        "exact_cnt",
        F.posexplode(_cm_cells_spark("l_partkey")).alias("r", "cell"),
    )
    est = (
        probe.join(counters, ["r", "cell"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        "l_partkey",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overcount"),
    ).orderBy(F.col("exact_cnt").desc(), "l_partkey")


def _cm_cells_duck(key: str) -> str:
    from ..functions.hashing import avalanche_duck

    return (
        "["
        + ", ".join(
            f"({avalanche_duck(f'({key}) * 8 + {i}')}) % {CM_WIDTH}"
            for i in range(CM_ROWS)
        )
        + "]"
    )


Q328_SQL = f"""
WITH cells AS (
  SELECT unnest(generate_series(0, {CM_ROWS - 1})) AS r,
         unnest({_cm_cells_duck("l_partkey")}) AS cell
  FROM lineitem
),
counters AS (
  SELECT r, cell, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY r, cell
),
exact AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM lineitem GROUP BY l_partkey
),
top AS (
  SELECT l_partkey, exact_cnt FROM (
    SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, l_partkey) AS rn
    FROM exact
  ) WHERE rn <= {CM_TOPK}
),
probe AS (
  SELECT l_partkey, exact_cnt,
         unnest(generate_series(0, {CM_ROWS - 1})) AS r,
         unnest({_cm_cells_duck("l_partkey")}) AS cell
  FROM top
)
SELECT p.l_partkey, p.exact_cnt, min(c.c) AS cm_est,
       min(c.c) - p.exact_cnt AS overcount
FROM probe p JOIN counters c USING (r, cell)
GROUP BY p.l_partkey, p.exact_cnt
ORDER BY p.exact_cnt DESC, p.l_partkey
"""


# ---------------------------------------------------------------------------
# q329 — ENGINE-PORTABLE Bloom filter, SIMULATED (q264 is the analytic
# advisor; this op actually builds the filter and measures it): k=3
# INDEPENDENT avalanche positions (avalanche(key*8 + i) % m) over
# m=8192 bits, built from the even-order half's custkeys, probed with
# the odd-order half's. A fixed-offset salt on one hash would collapse
# the filter to effective k=1 (every key's bit pattern = base + fixed
# offsets, so a base collision is a guaranteed false positive — the
# same correlation defect as q328's, caught in the r11 self-review).
# Membership is all-k-positions-set; exact membership via semi-join
# grades the false-positive count, next to the theoretical rate
# computed from the REALIZED load (bits_set/m)^k. No false negatives
# by construction (test-asserted invariant).
# Scale: the "bit array" is a distinct-position relation (8192-row
# cap), the probe is a position semi-join — the runtime-filter shape
# Spark's own bloom pushdown uses, made engine-portable and auditable.
# ---------------------------------------------------------------------------
BLOOM_BITS = 8192
BLOOM_K = 3


def _bloom_pos_spark(key: str):
    from ..functions.hashing import avalanche_spark

    return F.array(
        *[
            F.expr(
                f"({avalanche_spark(f'({key}) * 8 + {i + 4}')})"
                f" % {BLOOM_BITS}"
            )
            for i in range(BLOOM_K)
        ]
    )


def q329_portable_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    build = (
        orders.where(F.col("o_orderkey") % 2 == 0)
        .select("o_custkey")
        .distinct()
        .localCheckpoint()
    )
    probe = (
        orders.where(F.col("o_orderkey") % 2 == 1)
        .select("o_custkey")
        .distinct()
        .localCheckpoint()
    )
    bits = (
        build.select(F.explode(_bloom_pos_spark("o_custkey")).alias("pos"))
        .distinct()
    )
    probed = (
        probe.select(
            "o_custkey", F.explode(_bloom_pos_spark("o_custkey")).alias("pos")
        )
        .join(bits.withColumn("_hit", F.lit(1)), "pos", "left")
        .groupBy("o_custkey")
        .agg((F.sum(F.coalesce(F.col("_hit"), F.lit(0))) == BLOOM_K).alias("pos_all"))
    )
    member = probe.join(build.withColumn("_m", F.lit(1)), "o_custkey", "left")
    counts = (
        probed.join(member, "o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probe"),
            F.sum(F.col("pos_all").cast("bigint"))
            .cast("bigint")
            .alias("bloom_positive"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0)))
            .cast("bigint")
            .alias("true_member"),
            F.sum(
                (F.col("pos_all") & F.col("_m").isNull()).cast("bigint")
            )
            .cast("bigint")
            .alias("false_positive"),
        )
    )
    nb = build.agg(F.count(F.lit(1)).cast("bigint").alias("n_build"))
    bs = bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
    return counts.crossJoin(nb).crossJoin(bs).select(
        F.lit(BLOOM_BITS).cast("bigint").alias("m_bits"),
        F.lit(BLOOM_K).cast("bigint").alias("k"),
        "n_build",
        "n_probe",
        "bits_set",
        "bloom_positive",
        "true_member",
        "false_positive",
        F.round(
            F.col("false_positive")
            / (F.col("n_probe") - F.col("true_member")).cast("double"),
            4,
        ).alias("fp_rate"),
        F.round(
            F.pow(F.col("bits_set").cast("double") / F.lit(float(BLOOM_BITS)),
                  F.lit(float(BLOOM_K))),
            4,
        ).alias("theoretical_fpr"),
    )


def _bloom_pos_duck(key: str) -> str:
    from ..functions.hashing import avalanche_duck

    return (
        "["
        + ", ".join(
            f"({avalanche_duck(f'({key}) * 8 + {i + 4}')}) % {BLOOM_BITS}"
            for i in range(BLOOM_K)
        )
        + "]"
    )


Q329_SQL = f"""
WITH build AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0
),
probe AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 1
),
bits AS (
  SELECT DISTINCT unnest({_bloom_pos_duck("o_custkey")}) AS pos FROM build
),
probed AS (
  SELECT pp.o_custkey,
         count(b.pos) = {BLOOM_K} AS pos_all
  FROM (SELECT o_custkey, unnest({_bloom_pos_duck("o_custkey")}) AS pos
        FROM probe) pp
  LEFT JOIN bits b ON b.pos = pp.pos
  GROUP BY pp.o_custkey
),
member AS (
  SELECT p.o_custkey, bu.o_custkey IS NOT NULL AS is_member
  FROM probe p LEFT JOIN build bu USING (o_custkey)
),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probe,
         CAST(count(CASE WHEN pos_all THEN 1 END) AS BIGINT)
           AS bloom_positive,
         CAST(count(CASE WHEN is_member THEN 1 END) AS BIGINT)
           AS true_member,
         CAST(count(CASE WHEN pos_all AND NOT is_member THEN 1 END)
              AS BIGINT) AS false_positive
  FROM probed JOIN member USING (o_custkey)
)
SELECT CAST({BLOOM_BITS} AS BIGINT) AS m_bits,
       CAST({BLOOM_K} AS BIGINT) AS k,
       (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build,
       n_probe,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
       bloom_positive, true_member, false_positive,
       round(CAST(false_positive AS DOUBLE)
             / CAST(n_probe - true_member AS DOUBLE), 4) AS fp_rate,
       round(pow((SELECT count(*) FROM bits) / {float(BLOOM_BITS)!r},
                 {float(BLOOM_K)!r}), 4) AS theoretical_fpr
FROM counts
"""


# ---------------------------------------------------------------------------
# q330 — deterministic hash-priority stratified sample: per source,
# the SAMPLE_N docs with the smallest portable-mix priority (doc_id
# tie-break) — uniform-without-replacement sampling that is
# reproducible across engines, retries, AND corpus growth (a doc keeps
# its priority forever, so yesterday's sample is a subset of today's
# restricted to surviving docs — the property rand()-based sampling
# cannot give a 100 TB pipeline). q60 is the systematic every-k-th
# variant; this is the priority-sample variant (Efraimidis-Spirakis
# with uniform weights, made integer-exact).
# Scale: one WindowGroupLimit per source — the top-k frame never
# materializes more than SAMPLE_N rows per group past the scan.
# ---------------------------------------------------------------------------
SAMPLE_N = 20


def q330_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import mix_spark

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    pri = F.expr(mix_spark("doc_id"))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id"))
    return (
        docs.withColumn("priority", pri.cast("bigint"))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= SAMPLE_N)
        .select("source", "rn", "doc_id", "priority")
        .orderBy("source", "rn")
    )


def _q330_sql() -> str:
    from ..functions.hashing import mix_duck

    return f"""
SELECT source, rn, doc_id, priority FROM (
  SELECT source, doc_id,
         CAST({mix_duck("doc_id")} AS BIGINT) AS priority,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY {mix_duck("doc_id")}, doc_id) AS BIGINT) AS rn
  FROM documents
) WHERE rn <= {SAMPLE_N}
ORDER BY source, rn
"""


Q330_SQL = _q330_sql()


# ---------------------------------------------------------------------------
# q336 — WEIGHTED deterministic priority sample (Efraimidis-Spirakis):
# q330 samples uniformly; this samples documents proportionally to
# LENGTH (n_chars) — the shape a token-budgeted eval set wants (a doc
# twice as long is twice as likely to be drawn). key = ln(u) / w with
# u = (mix(doc_id)+1) / (HASH_MOD+1) pinned per doc; the global top-N
# by key DESC is a weighted sample without replacement, reproducible
# across engines and retries. ln is monotone so the selection equals
# the textbook u^(1/w) rule, computed overflow-free.
# Scale: scan-side key projection + ONE TakeOrdered(N) — no shuffle
# beyond the top-k reduction.
# ---------------------------------------------------------------------------
WSAMPLE_N = 50


def q336_weighted_priority_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.hashing import HASH_MOD, mix_spark

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (F.expr(mix_spark("doc_id")) + 1).cast("double") / F.lit(
        float(HASH_MOD + 1)
    )
    key = F.log(u) / F.col("n_chars").cast("double")
    w = Window.orderBy(F.col("key").desc(), "doc_id")
    return (
        docs.withColumn("key", key)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= WSAMPLE_N)
        .select(
            "rn",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round("key", 8).alias("priority"),
        )
        .orderBy("rn")
    )


def _q336_sql() -> str:
    from ..functions.hashing import HASH_MOD, mix_duck

    u = f"(({mix_duck('doc_id')}) + 1) / {float(HASH_MOD + 1)!r}"
    return f"""
SELECT rn, doc_id, n_chars, round(key, 8) AS priority FROM (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         ln({u}) / CAST(n_chars AS DOUBLE) AS key,
         CAST(row_number() OVER (
           ORDER BY ln({u}) / CAST(n_chars AS DOUBLE) DESC, doc_id)
           AS BIGINT) AS rn
  FROM documents
) WHERE rn <= {WSAMPLE_N}
ORDER BY rn
"""


Q336_SQL = _q336_sql()


# ---------------------------------------------------------------------------
# q337 — consistent-hashing rebalance audit: growing the store from 8
# to 10 shards, what fraction of keys MOVE under (a) mod-N sharding
# (theory: exactly 4/5 move — a key stays iff k%40 < 8) vs (b)
# rendezvous/HRW hashing over the avalanched portable hash (theory:
# only the 2/10 that the new shards win). The q187/q194 planners
# pick layouts; this op grades the MIGRATION COST of changing one —
# the number that decides whether a 100 TB store can ever re-shard.
# Rendezvous owner = argmax over shards of avalanche(key*64 + shard)
# (first-index tie-break), engine-identical integer argmax.
# Scale: scan-side owner projections (8 + 10 hash evals per key, all
# codegen), one global agg — the only exchange is the 1-row
# SinglePartition partial-aggregate merge (plan-asserted), never a
# row-scale key shuffle.
# ---------------------------------------------------------------------------
SHARDS_BEFORE = 8
SHARDS_AFTER = 10


def _rdv_owner_spark(n_shards: int):
    from ..functions.hashing import avalanche_spark

    hs = F.array(
        *[
            F.expr(avalanche_spark(f"(doc_id * 64 + {s})"))
            for s in range(n_shards)
        ]
    )
    return (F.array_position(hs, F.array_max(hs)) - 1).cast("bigint")


def q337_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    flags = docs.select(
        (F.col("doc_id") % SHARDS_BEFORE != F.col("doc_id") % SHARDS_AFTER)
        .cast("bigint")
        .alias("mod_moved"),
        (
            _rdv_owner_spark(SHARDS_BEFORE) != _rdv_owner_spark(SHARDS_AFTER)
        )
        .cast("bigint")
        .alias("rdv_moved"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("mod_moved").cast("bigint").alias("mod_moved"),
        F.round(F.sum("mod_moved") / F.count(F.lit(1)), 4).alias(
            "mod_moved_frac"
        ),
        F.sum("rdv_moved").cast("bigint").alias("rdv_moved"),
        F.round(F.sum("rdv_moved") / F.count(F.lit(1)), 4).alias(
            "rdv_moved_frac"
        ),
        F.lit((SHARDS_AFTER - SHARDS_BEFORE) / SHARDS_AFTER).alias(
            "rdv_theoretical_frac"
        ),
    )


def _rdv_owner_duck(n_shards: int) -> str:
    from ..functions.hashing import avalanche_duck

    hs = (
        "["
        + ", ".join(
            avalanche_duck(f"(doc_id * 64 + {s})") for s in range(n_shards)
        )
        + "]"
    )
    return f"CAST(list_position({hs}, list_max({hs})) - 1 AS BIGINT)"


def _q337_sql() -> str:
    return f"""
WITH flags AS (
  SELECT CASE WHEN doc_id % {SHARDS_BEFORE} != doc_id % {SHARDS_AFTER}
              THEN 1 ELSE 0 END AS mod_moved,
         CASE WHEN {_rdv_owner_duck(SHARDS_BEFORE)}
                   != {_rdv_owner_duck(SHARDS_AFTER)}
              THEN 1 ELSE 0 END AS rdv_moved
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(mod_moved) AS BIGINT) AS mod_moved,
       round(sum(mod_moved) / CAST(count(*) AS DOUBLE), 4)
         AS mod_moved_frac,
       CAST(sum(rdv_moved) AS BIGINT) AS rdv_moved,
       round(sum(rdv_moved) / CAST(count(*) AS DOUBLE), 4)
         AS rdv_moved_frac,
       {(SHARDS_AFTER - SHARDS_BEFORE) / SHARDS_AFTER!r} AS rdv_theoretical_frac
FROM flags
"""


Q337_SQL = _q337_sql()


# ---------------------------------------------------------------------------
# q353 — sampled-quantile error eval: how good are quantile estimates
# computed from the q330-style deterministic hash sample vs the exact
# full-scan quantiles? At 100 TB nobody runs quantile_cont over the
# raw table for monitoring — they run it over a fixed-rate hash sample
# — and THIS op measures what that costs in accuracy, per quantile,
# as a driver-graded number (the estimator-calibration companion to
# q330/q336, the way q339 calibrates the near-dup family). Sample
# membership = portable mix of the (orderkey, linenumber) row key mod
# SQE_RATE — reproducible across engines, retries, and reruns; both
# quantile sets use the shared percentile/quantile_cont linear
# interpolation (q54's parity trick) and round(4).
# Scale: the sample predicate is scan-side (no shuffle to sample);
# both aggregations are single-pass sort-based quantiles.
# ---------------------------------------------------------------------------
SQE_RATE = 10  # keep 1-in-10 rows
SQE_QS = [0.5, 0.9, 0.99]


def q353_sampled_quantile_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.hashing import mix_spark

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    in_sample = (
        F.expr(mix_spark("l_orderkey * 8 + l_linenumber")) % SQE_RATE == 0
    )
    x = F.col("l_extendedprice").cast("double")
    agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_full"),
        F.sum(F.when(in_sample, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sample"),
        *[
            F.round(F.percentile(x, F.lit(q)), 4).alias(f"e_{i}")
            for i, q in enumerate(SQE_QS)
        ],
        *[
            F.round(
                F.percentile(F.when(in_sample, x), F.lit(q)), 4
            ).alias(f"s_{i}")
            for i, q in enumerate(SQE_QS)
        ],
    )
    rows = ", ".join(
        f"CAST({q} AS DOUBLE), e_{i}, s_{i}" for i, q in enumerate(SQE_QS)
    )
    return (
        agg.selectExpr(
            "n_full",
            "n_sample",
            f"stack({len(SQE_QS)}, {rows}) AS (q, exact_q, sample_q)",
        )
        .select(
            "q",
            "exact_q",
            "sample_q",
            F.round(
                F.abs(F.col("sample_q") - F.col("exact_q"))
                / F.col("exact_q"),
                6,
            ).alias("rel_err"),
            "n_full",
            "n_sample",
        )
        .orderBy("q")
    )


def _q353_sql() -> str:
    from ..functions.hashing import mix_duck

    pred = f"({mix_duck('l_orderkey * 8 + l_linenumber')}) % {SQE_RATE} = 0"
    exact = ",\n         ".join(
        f"round(quantile_cont(l_extendedprice, {q}), 4) AS e_{i}"
        for i, q in enumerate(SQE_QS)
    )
    samp = ",\n         ".join(
        f"round(quantile_cont(l_extendedprice, {q})"
        f" FILTER (WHERE {pred}), 4) AS s_{i}"
        for i, q in enumerate(SQE_QS)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({q} AS DOUBLE) AS q, e_{i} AS exact_q, s_{i} AS sample_q,"
        f" n_full, n_sample FROM agg"
        for i, q in enumerate(SQE_QS)
    )
    return f"""
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_full,
         CAST(count(*) FILTER (WHERE {pred}) AS BIGINT) AS n_sample,
         {exact},
         {samp}
  FROM lineitem
)
SELECT q, exact_q, sample_q,
       round(abs(sample_q - exact_q) / exact_q, 6) AS rel_err,
       n_full, n_sample
FROM ({rows})
ORDER BY q
"""


Q353_SQL = _q353_sql()


# ---------------------------------------------------------------------------
# q361 — sketch error audit: q168's mergeable log-histogram quantiles
# graded against the EXACT quantiles, per event type and per quantile,
# with the sketch's theoretical guarantee checked in-plan. The sketch
# reads the LOWER EDGE of the first bin whose cumulative count reaches
# ceil(q*n), so on the shifted (1+v) scale the true quantile lies
# within one bin width above the estimate:
#     (1+est) <= (1+exact) < (1+est) * e^(1/SCALE)
# i.e. ratio = (1+est)/(1+exact) in (e^(-1/SCALE), 1]. `within_bound`
# verifies that inequality for every (type, quantile) — the DDSketch
# accuracy contract becomes a driver-graded fact, the way q353 grades
# the hash-sample estimator and q339 grades the near-dup family.
# Scale: the sketch side is q168's O(bins)-state mergeable agg; the
# exact side is the eval's one sort-based quantile pass (the thing the
# sketch exists to avoid — run here only to certify it).
# ---------------------------------------------------------------------------
def q361_sketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    bin_col = F.floor(F.log(F.lit(1.0) + F.col("v")) * HIST_SCALE).cast(
        "bigint"
    )
    binned = ev.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    sk_aggs = []
    for name, q in _HIST_QS:
        qbin = F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin"))
        )
        sk_aggs.append(
            F.round(F.exp(qbin / HIST_SCALE) - F.lit(1.0), 4).alias(
                f"s_{name}"
            )
        )
    sketch = cum.groupBy("event_type").agg(*sk_aggs)
    exact = ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile(F.col("v"), F.lit(q)), 4).alias(f"e_{name}")
            for name, q in _HIST_QS
        ]
    )
    both = sketch.join(exact, "event_type")
    rows = ", ".join(
        f"'{name}', e_{name}, s_{name}" for name, _ in _HIST_QS
    )
    lo = math.exp(-1.0 / HIST_SCALE)
    return (
        both.selectExpr(
            "event_type",
            f"stack({len(_HIST_QS)}, {rows}) AS (q, exact_v, sketch_v)",
        )
        .select(
            "event_type",
            "q",
            "exact_v",
            "sketch_v",
            F.round(
                (F.lit(1.0) + F.col("sketch_v"))
                / (F.lit(1.0) + F.col("exact_v")),
                6,
            ).alias("shift_ratio"),
            (
                (
                    (F.lit(1.0) + F.col("sketch_v"))
                    / (F.lit(1.0) + F.col("exact_v"))
                    > F.lit(lo)
                )
                & (
                    (F.lit(1.0) + F.col("sketch_v"))
                    <= (F.lit(1.0) + F.col("exact_v")) * F.lit(1.0 + 1e-9)
                )
            ).alias("within_bound"),
        )
        .orderBy("event_type", "q")
    )


def _q361_sql() -> str:
    lo = math.exp(-1.0 / HIST_SCALE)
    sk = ",\n         ".join(
        f"round(exp(min(CASE WHEN cum >= ceil({q} * n) THEN bin END)"
        f" / {HIST_SCALE}) - 1.0, 4) AS s_{name}"
        for name, q in _HIST_QS
    )
    ex = ",\n         ".join(
        f"round(quantile_cont(v, {q}), 4) AS e_{name}"
        for name, q in _HIST_QS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT event_type, '{name}' AS q, e_{name} AS exact_v,"
        f" s_{name} AS sketch_v FROM joined"
        for name, _ in _HIST_QS
    )
    return f"""
WITH ev AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
),
binned AS (
  SELECT event_type,
         CAST(floor(ln(1.0 + v) * {HIST_SCALE}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM binned
),
sketch AS (
  SELECT event_type,
         {sk}
  FROM cum GROUP BY event_type
),
exact AS (
  SELECT event_type,
         {ex}
  FROM ev GROUP BY event_type
),
joined AS (SELECT * FROM sketch JOIN exact USING (event_type))
SELECT event_type, q, exact_v, sketch_v,
       round((1.0 + sketch_v) / (1.0 + exact_v), 6) AS shift_ratio,
       (1.0 + sketch_v) / (1.0 + exact_v) > {lo}
         AND (1.0 + sketch_v) <= (1.0 + exact_v) * (1.0 + 1e-9)
         AS within_bound
FROM ({rows})
ORDER BY event_type, q
"""


Q361_SQL = _q361_sql()


QUERIES = {
    "q361_sketch_error_audit": q361_sketch_error_audit,
    "q353_sampled_quantile_eval": q353_sampled_quantile_eval,
    "q336_weighted_priority_sample": q336_weighted_priority_sample,
    "q337_rebalance_audit": q337_rebalance_audit,
    "q327_portable_hll": q327_portable_hll,
    "q328_portable_countmin": q328_portable_countmin,
    "q329_portable_bloom": q329_portable_bloom,
    "q330_priority_sample": q330_priority_sample,
    "q315_cache_hit_curve": q315_cache_hit_curve,
    "q56_salted_agg": q56_salted_agg,
    "q128_zorder_stats": q128_zorder_stats,
    "q138_skew_profile": q138_skew_profile,
    "q139_integrity_audit": q139_integrity_audit,
    "q155_column_profile": q155_column_profile,
    "q168_sketch_quantiles": q168_sketch_quantiles,
    "q182_join_size_advisor": q182_join_size_advisor,
    "q187_bucket_layout": q187_bucket_layout,
    "q188_salt_plan": q188_salt_plan,
    "q194_range_partition_plan": q194_range_partition_plan,
    "q198_purge_audit": q198_purge_audit,
    "q209_tuning_advisor": q209_tuning_advisor,
    "q217_bucketed_join": q217_bucketed_join,
    "q227_schema_drift": q227_schema_drift,
    "q251_prune_advisor": q251_prune_advisor,
    "q264_bloom_join_advisor": q264_bloom_join_advisor,
    "q268_stats_histogram": q268_stats_histogram,
}

ORACLE = {
    "q361_sketch_error_audit": Q361_SQL,
    "q353_sampled_quantile_eval": Q353_SQL,
    "q336_weighted_priority_sample": Q336_SQL,
    "q337_rebalance_audit": Q337_SQL,
    "q327_portable_hll": Q327_SQL,
    "q328_portable_countmin": Q328_SQL,
    "q329_portable_bloom": Q329_SQL,
    "q330_priority_sample": Q330_SQL,
    "q315_cache_hit_curve": Q315_SQL,
    "q217_bucketed_join": Q217_SQL,
    "q227_schema_drift": Q227_SQL,
    "q56_salted_agg": Q56_SQL,
    "q128_zorder_stats": Q128_SQL,
    "q138_skew_profile": Q138_SQL,
    "q139_integrity_audit": Q139_SQL,
    "q155_column_profile": Q155_SQL,
    "q168_sketch_quantiles": Q168_SQL,
    "q182_join_size_advisor": Q182_SQL,
    "q187_bucket_layout": Q187_SQL,
    "q188_salt_plan": Q188_SQL,
    "q194_range_partition_plan": Q194_SQL,
    "q198_purge_audit": Q198_SQL,
    "q209_tuning_advisor": Q209_SQL,
    "q251_prune_advisor": Q251_SQL,
    "q264_bloom_join_advisor": Q264_SQL,
    "q268_stats_histogram": Q268_SQL,
}
