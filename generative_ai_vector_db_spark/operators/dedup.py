"""Near-duplicate detection at scale — MinHash+LSH and SimHash
(north-star operators; the reference only does exact SHA-256 file-level
dedup, ``helper/multiple_document_upload.py:15-18,140-149`` — that exact
path is Q12 in relational.py).

Both operators are pure built-in expressions (xxhash64 / bit ops /
higher-order fns) — deterministic run-to-run, JVM-side, no UDF.
Driver checks are rows-only: the signatures depend on Spark's xxhash64,
which has no DuckDB twin; correctness is asserted in
tests/test_dedup_multimodal.py by planting known near-duplicates and checking
recall/precision against exact Jaccard.

PERF NOTE (measured, sf0.1): intermediate arrays (words, shingles,
hash arrays) are materialized as ATTRIBUTES via separate projections
before any lambda references them. Inlining the array-producing
expression into a lambda body makes Catalyst re-evaluate it per array
element (higher-order fns are interpreted, no CSE across lambdas) —
the inlined form ran 132 s for the signature stage vs 5.9 s
materialized (22x).

Scale design (the whole point of these):
* MinHash: candidate generation is explode(bands) → self-join on the
  band key — a uniform shuffle of (doc, band) pairs; the quadratic
  verify step runs only within same-band buckets, and the shingle
  arrays needed for exact-Jaccard verify are joined back by doc id
  (pairs are few) instead of being carried through the band join.
  100 TB corpora dedup at O(n_docs * n_bands) shuffle rows, never
  O(n^2).
* SimHash: one 64-bit signature per doc; banding on 16-bit quarters
  finds all pairs within Hamming distance 3 (pigeonhole) with the same
  explode→groupBy shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load

N_HASHES = 16
N_BANDS = 4  # rows per band = 4 -> (1/4,4) S-curve threshold ~ J=0.5
SHINGLE_N = 3
MINHASH_VERIFY_TAU = 0.4
Q45_SIMHASH_BITS = 64
Q45_SIMHASH_BANDS = 4  # q319 below has its own SIMHASH_BITS/SIMHASH_BANDS
SIMHASH_HAM_TAU = 3


def with_shingles(docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """Add a distinct word-n-gram ``shingles`` column. Two projection
    steps so ``words`` is an attribute when the shingle lambda indexes
    into it (see PERF NOTE above).

    Documents shorter than ``n`` words get an EMPTY shingle set (not a
    partial gram built from out-of-bounds NULLs) — same contract as the
    DuckDB twins' generate_series(1, len-n+1)."""
    words = docs.withColumn("words", F.split(F.lower(F.col(text_col)), " "))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("words") - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at("words", i + j + 1) for j in range(n)]
            ),
        )
    )
    return words.withColumn(
        "shingles",
        F.when(F.size("words") >= n, grams).otherwise(F.array().cast("array<string>")),
    ).drop("words")


def with_minhash_signature(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Add ``sig`` (array of n_hashes minima). ``shingles`` must already
    be an attribute of the input."""
    return shingled.withColumn(
        "sig",
        F.array(
            *[
                F.array_min(F.transform("shingles", lambda s: F.xxhash64(s, F.lit(i))))
                for i in range(n_hashes)
            ]
        ),
    )


def minhash_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_idx, band_hash) rows — the LSH bucketing key."""
    rows_per_band = N_HASHES // N_BANDS
    sig = with_minhash_signature(with_shingles(docs)).select(id_col, "sig")
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + j + 1)
                                for j in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


def minhash_candidates(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs with their shingle arrays (for exact verify).

    The band self-join carries only (id, band keys); shingle arrays are
    attached afterwards by joining the (few) candidate pairs back to the
    shingled docs — not dragged through the explode/join.
    """
    bands = minhash_bands(docs, id_col)
    a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_hash").alias("band_hash_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_hash") == F.col("band_hash_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    shingled = with_shingles(docs).select(
        F.col(id_col).alias("sid"), F.col("shingles")
    )
    return (
        pairs.join(shingled.withColumnRenamed("shingles", "sh_a"), pairs.id_a == F.col("sid"))
        .drop("sid")
        .join(
            shingled.withColumnRenamed("shingles", "sh_b").withColumnRenamed("sid", "sid_b"),
            pairs.id_b == F.col("sid_b"),
        )
        .drop("sid_b")
    )


def q44_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard >= tau."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cand = minhash_candidates(docs)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= MINHASH_VERIFY_TAU)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = Q45_SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash) via explode + 64 SUM aggregates — the fast path.

    Semantically identical to ``with_simhash`` (same per-word xxhash64,
    same +-1 votes, same sign rule; verified bit-equal), but computed as
    a keyed aggregation instead of 64 higher-order-function folds per
    row: the HOF form re-walks the word-hash array once per bit inside
    generated code (measured 9x slower at sf0.01), while the exploded
    form is one pass through whole-stage-codegen SUM aggregates with
    map-side partial combine — also the right 100 TB shape (shuffle
    carries 64 longs per doc, never the text)."""
    words = docs.select(
        id_col, F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("_w")
    )
    h = F.xxhash64("_w")
    # pack 4 bit-counters into 16-bit lanes of one long => bits/4 SUM
    # aggregates instead of `bits` (smaller generated code: measured 8x
    # faster warm, ~40% faster first-call compile vs one SUM per bit).
    # Lane arithmetic: per word each lane gets bit_j in {0,1}; the lane
    # sum c_j is the set-bit count, and the sign test votes_j > 0 is
    # exactly 2*c_j > n_words. 16-bit lanes cap a doc at 65535 words —
    # far above this corpus; chunk longer docs before hashing.
    aggs = [F.count(F.lit(1)).alias("_n")]
    for k in range(bits // 4):
        lane = None
        for i in range(4):
            j = 4 * k + i
            term = F.shiftleft(
                F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)), 16 * i
            )
            lane = term if lane is None else lane + term
        aggs.append(F.sum(lane).alias(f"_p{k}"))
    votes = words.groupBy(id_col).agg(*aggs)
    out = F.lit(0).cast("long")
    for j in range(bits):
        k, i = divmod(j, 4)
        c = F.shiftrightunsigned(F.col(f"_p{k}"), 16 * i).bitwiseAND(
            F.lit(0xFFFF)
        )
        weight = (1 << j) if j < 63 else -(1 << 63)
        out = out + F.when(c * 2 > F.col("_n"), F.lit(weight).cast("long")).otherwise(
            0
        )
    return votes.select(id_col, out.alias("simhash"))


def with_simhash(
    docs: DataFrame, text_col: str = "text", bits: int = Q45_SIMHASH_BITS
) -> DataFrame:
    """Add a 64-bit ``simhash`` column: bit j is the sign of the sum of
    (+1/-1) votes from each word's xxhash64 bit j. The per-word hash
    array is materialized as an attribute first (PERF NOTE). Keyless
    column-append form; prefer ``simhash_signatures`` when an id column
    exists (same bits, much faster)."""
    words = docs.withColumn("words", F.split(F.lower(F.col(text_col)), " "))
    hashes = words.withColumn(
        "word_hashes", F.transform("words", lambda w: F.xxhash64(w))
    ).drop("words")
    out = F.lit(0).cast("long")
    for j in range(bits):
        votes = F.aggregate(
            F.col("word_hashes"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        # bit weight as a Python long constant (Column ** would return
        # double); bit 63 wraps to the sign bit of the signed 64-bit long
        weight = (1 << j) if j < 63 else -(1 << 63)
        out = out + F.when(votes > 0, F.lit(weight).cast("long")).otherwise(0)
    return hashes.withColumn("simhash", out).drop("word_hashes")


# ---------------------------------------------------------------------------
# q186 — incremental dedup against the store: classify an INCOMING
# batch against the existing corpus — exact-dup-of-store (same
# normalized fingerprint as any stored doc), dup-within-batch (first
# occurrence wins), or novel. This is the production shape of R11 at
# 100 TB: the nightly batch never joins the raw store, only its
# fingerprint index (32-byte keys), and the within-batch tie-break is
# a min() agg, not a window over history. Batch = a deterministic
# doc_id-residue slice so both engines construct identical inputs.
# ---------------------------------------------------------------------------
INCR_BATCH_MOD = 10
INCR_BATCH_RESIDUE = 7


def q186_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = F.sha2(
        F.lower(F.trim(F.regexp_replace("text", "[ \\t\\n\\r\\f]+", " "))), 256
    )
    keyed = docs.select("doc_id", fp.alias("fp"))
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_RESIDUE
    batch = keyed.where(is_batch)
    store_fps = keyed.where(~is_batch).groupBy("fp").agg(
        F.min("doc_id").alias("store_doc")
    )
    batch_first = batch.groupBy("fp").agg(F.min("doc_id").alias("batch_first"))
    joined = batch.join(store_fps, "fp", "left").join(batch_first, "fp")
    status = (
        F.when(F.col("store_doc").isNotNull(), F.lit("dup_of_store"))
        .when(F.col("batch_first") < F.col("doc_id"), F.lit("dup_in_batch"))
        .otherwise(F.lit("novel"))
    )
    return (
        joined.select(
            "doc_id",
            status.alias("status"),
            F.coalesce(
                F.col("store_doc"),
                F.when(F.col("batch_first") < F.col("doc_id"), F.col("batch_first")),
            )
            .cast("bigint")
            .alias("dup_of"),
        )
        .orderBy("doc_id")
    )


Q186_SQL = rf"""
WITH keyed AS (
  SELECT doc_id,
         sha256(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))) AS fp
  FROM documents
),
batch AS (
  SELECT * FROM keyed
  WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}
),
store_fps AS (
  SELECT fp, min(doc_id) AS store_doc FROM keyed
  WHERE doc_id % {INCR_BATCH_MOD} != {INCR_BATCH_RESIDUE}
  GROUP BY fp
),
batch_first AS (SELECT fp, min(doc_id) AS batch_first FROM batch GROUP BY fp)
SELECT b.doc_id,
       CASE WHEN s.store_doc IS NOT NULL THEN 'dup_of_store'
            WHEN f.batch_first < b.doc_id THEN 'dup_in_batch'
            ELSE 'novel' END AS status,
       CAST(coalesce(s.store_doc,
                     CASE WHEN f.batch_first < b.doc_id
                          THEN f.batch_first END) AS BIGINT) AS dup_of
FROM batch b
LEFT JOIN store_fps s USING (fp)
JOIN batch_first f USING (fp)
ORDER BY b.doc_id
"""


def q45_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs within Hamming distance <= 3, found by banding the 64-bit
    signature into 4 16-bit quarters (pigeonhole: any pair at distance
    <= 3 shares at least one exact quarter)."""
    docs = simhash_signatures(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    quarters = docs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q_idx"),
                        F.shiftrightunsigned("simhash", q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("q_val"),
                    )
                    for q in range(Q45_SIMHASH_BANDS)
                ]
            )
        ).alias("q"),
    ).select("doc_id", "simhash", "q.q_idx", "q.q_val")
    a = quarters.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "q_idx", "q_val"
    )
    b = quarters.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
        F.col("q_idx").alias("q_idx_b"),
        F.col("q_val").alias("q_val_b"),
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(
            b,
            (F.col("q_idx") == F.col("q_idx_b"))
            & (F.col("q_val") == F.col("q_val_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_HAM_TAU)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Duplicate clusters — the step after pair detection: near-dup pairs are
# edges; keep-one-per-cluster requires the TRANSITIVE closure (a~b, b~c
# => drop two of {a,b,c}). Connected components via iterative min-label
# propagation: each round every node takes the min label among itself
# and its neighbors; converges in O(graph diameter) rounds (near-dup
# clusters are shallow — a handful of rounds at any scale). Each round
# is one join + one aggregation; the driver only checks a scalar
# convergence flag. At extreme scale swap in large-star/small-star
# (hash-to-min) — same join shape, fewer rounds.
#
# Oracle: DuckDB recursive CTE computing min reachable id — an
# independent fixpoint implementation over the SAME edge set (the
# q41 bigram-Jaccard pairs, themselves hash-matched).
# ---------------------------------------------------------------------------
def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """(node, cluster_id=min reachable node id) for every node that
    appears in an edge.

    Iterative-algorithm hygiene: the edge set and each round's labels
    are materialized with ``localCheckpoint`` (eager), so round N's plan
    does NOT embed rounds 1..N-1 — plan depth and the per-round
    convergence count() stay O(1) regardless of iteration count. (On a
    long-lived cluster job, swap localCheckpoint for a reliable
    ``checkpoint`` with a checkpoint dir.)
    """
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, both.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def q76_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import q41_ngram_jaccard

    edges = q41_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(edges)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


from .text import Q41_SQL as _Q41_SQL  # noqa: E402  (edge-set twin)

Q76_SQL = f"""
WITH RECURSIVE pairs AS ({_Q41_SQL.replace("ORDER BY id_a, id_b", "")}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.b AS node, reach.r
  FROM reach JOIN edges e ON e.a = reach.node
),
comp AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT comp.node AS doc_id,
       comp.cluster_id,
       sizes.cluster_size,
       comp.node = comp.cluster_id AS is_keeper
FROM comp JOIN sizes USING (cluster_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q85 — the deduplicated corpus itself: every document minus non-keeper
# cluster members (keeper = min doc_id per near-dup cluster). This is
# the materialization step a training-data pipeline actually ships —
# q76 reports the clusters, q85 emits the kept corpus. The drop set is
# tiny relative to the corpus (only near-dup docs), so the anti-join
# broadcasts it; the corpus itself never shuffles.
# ---------------------------------------------------------------------------
def q85_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import q41_ngram_jaccard

    docs = load(spark, sf_dir, "documents")
    edges = q41_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(edges)
    drop = comp.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


Q85_SQL = f"""
WITH RECURSIVE pairs AS ({{q41}}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.b AS node, reach.r
  FROM reach JOIN edges e ON e.a = reach.node
),
comp AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, lang, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != cluster_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q215 fuzzy blocked dedup — edit-distance near-duplicate detection
# with blocking, the record-linkage member of the dedup family (exact
# q12 / MinHash q44 / SimHash q45 / n-gram q41 / cosine q42 /
# containment q165). Shingle methods are unstable on SHORT strings
# (names, titles — a 1-char typo moves a large share of the shingle
# set); classic edit distance with blocking is the production answer.
#
# Scalable shape, in order:
#   1. collapse to DISTINCT (block, name) keys with multiplicity n —
#      dedup work is O(distinct keys), never O(rows); the weight n_a *
#      n_b recovers how many raw row pairs each name pair represents;
#   2. block on a cheap canonical key (p_type here) — candidate pairs
#      only within a block, the self-join shuffles on the block key;
#   3. LOSSLESS length-band prefilter |len_a - len_b| <= d before the
#      levenshtein (edit distance >= length gap), evaluated from the
#      join row without touching the expensive function;
#   4. levenshtein itself is a JVM codegen built-in — no Python.
# At 100 TB: add a block-size cap (oversized blocks get a second
# blocking key, e.g. first token), the standard record-linkage move.
# Reference parity: the reference dedups exact SHA-256 only
# (helper/multiple_document_upload.py:121-134); fuzzy matching is part
# of the brief-mandated dedup suite.
# ---------------------------------------------------------------------------
FUZZY_MAX_DIST = 2


def q215_fuzzy_blocked_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load(spark, sf_dir, "part")
        .groupBy(F.col("p_type").alias("blk"), "p_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = names.select(
        "blk", F.col("p_name").alias("name_a"), F.col("n").alias("n_a")
    )
    b = names.select(
        "blk", F.col("p_name").alias("name_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .where(
            F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_MAX_DIST
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= FUZZY_MAX_DIST)
        .select(
            F.col("blk").alias("p_type"),
            "name_a",
            "name_b",
            F.col("dist").cast("bigint").alias("dist"),
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias("row_pairs"),
        )
        .orderBy("p_type", "name_a", "name_b")
    )


Q215_SQL = f"""
WITH names AS (
  SELECT p_type AS blk, p_name, CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2
)
SELECT a.blk AS p_type,
       a.p_name AS name_a,
       b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       CAST(a.n * b.n AS BIGINT) AS row_pairs
FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_DIST}
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
ORDER BY p_type, name_a, name_b
"""


# ---------------------------------------------------------------------------
# q230 LSH parameter advisor — the (bands b, rows r) tuning table for
# a 16-hash MinHash signature (q44's family): for every factorization
# b*r = 16, the S-curve threshold t = (1/b)^(1/r) and the candidate
# probability P(s) = 1 - (1 - s^r)^b at four probe similarities. The
# advisor marks the configuration whose threshold sits closest to the
# verify tau: at MINHASH_VERIFY_TAU=0.4 that is 8 bands x 2 rows
# (threshold (1/8)^(1/2) = 0.3536 — q44's 4x4 sits at 0.7071, a
# higher-precision/lower-recall point a production pipeline would pick
# only for a tighter tau). Banding is the ONE knob that trades shuffle
# volume against missed near-dups, and this table is how you read the
# trade. Pure closed-form math over a 5-row literal
# grid — both engines evaluate the identical pow() expressions; the
# q188/q209 advisor family member for dedup.
# ---------------------------------------------------------------------------
ADVISOR_SIG_SIZE = 16
ADVISOR_PROBES = (0.2, 0.4, 0.6, 0.8)


def q230_lsh_param_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = [
        (b, ADVISOR_SIG_SIZE // b)
        for b in (1, 2, 4, 8, 16)
    ]
    df = spark.createDataFrame(grid, "bands bigint, rows_per_band bigint")
    t = F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band"))
    cols = [
        "bands",
        "rows_per_band",
        F.round(t, 4).alias("threshold"),
    ]
    for s in ADVISOR_PROBES:
        p = 1 - F.pow(
            1 - F.pow(F.lit(float(s)), F.col("rows_per_band")),
            F.col("bands"),
        )
        cols.append(F.round(p, 4).alias(f"p_at_{int(s * 100):02d}"))
    w = Window.orderBy(
        F.abs(F.round(t, 4) - MINHASH_VERIFY_TAU), F.col("bands")
    )
    return (
        df.select(*cols)
        .withColumn(
            "recommended", (F.row_number().over(w) == 1).cast("boolean")
        )
        .orderBy("bands")
    )


def _advisor_sql() -> str:
    probes = ", ".join(
        f"round(1 - pow(1 - pow({s}, rows_per_band), bands), 4)"
        f" AS p_at_{int(s * 100):02d}"
        for s in ADVISOR_PROBES
    )
    vals = ", ".join(
        f"({b}, {ADVISOR_SIG_SIZE // b})" for b in (1, 2, 4, 8, 16)
    )
    return f"""
WITH grid(bands, rows_per_band) AS (VALUES {vals}),
scored AS (
  SELECT CAST(bands AS BIGINT) AS bands,
         CAST(rows_per_band AS BIGINT) AS rows_per_band,
         round(pow(1.0 / bands, 1.0 / rows_per_band), 4) AS threshold,
         {probes}
  FROM grid
)
SELECT bands, rows_per_band, threshold,
       p_at_20, p_at_40, p_at_60, p_at_80,
       row_number() OVER (
         ORDER BY abs(threshold - {MINHASH_VERIFY_TAU}), bands
       ) = 1 AS recommended
FROM scored
ORDER BY bands
"""


Q230_SQL = _advisor_sql()


# ---------------------------------------------------------------------------
# q223 fuzzy survivorship (golden-record merge): q215's pairwise
# matches completed into the record-linkage END PRODUCT — connected
# clusters of near-duplicate names with one canonical survivor each.
# Survivorship rule: the cluster member with the highest row
# multiplicity wins (tie: lexicographically smallest name) — the
# "most-attested spelling" policy. Every (block, name) key maps to a
# stable integer node id (its minimum p_partkey), the q215 pair set
# becomes the edge list, components come from the same checkpointed
# min-label propagation as q76/q85, and singletons keep themselves as
# canonical via the left-join coalesce. Scale: everything runs on the
# DISTINCT-key reduction (q215's point); the component step is
# O(edges) per round with the label frontier, never O(rows).
# ---------------------------------------------------------------------------
def q223_fuzzy_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load(spark, sf_dir, "part")
        .groupBy(F.col("p_type").alias("blk"), "p_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("p_partkey").alias("node"),
        )
    )
    a = names.select(
        "blk",
        F.col("p_name").alias("name_a"),
        F.col("node").alias("id_a"),
    )
    b = names.select(
        "blk",
        F.col("p_name").alias("name_b"),
        F.col("node").alias("id_b"),
    )
    edges = (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .where(
            F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_MAX_DIST
        )
        .where(F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST)
        .select("id_a", "id_b")
    )
    comp = connected_components(edges)
    lab = names.join(
        comp, names["node"] == comp["node"], "left"
    ).select(
        "blk",
        "p_name",
        "n",
        F.coalesce("cluster_id", names["node"]).alias("cluster"),
    )
    wc = Window.partitionBy("blk", "cluster").orderBy(
        F.col("n").desc(), "p_name"
    )
    canon = (
        lab.withColumn("_rn", F.row_number().over(wc))
        .where(F.col("_rn") == 1)
        .select(
            "blk", "cluster", F.col("p_name").alias("canonical_name")
        )
    )
    size = lab.groupBy("blk", "cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        lab.join(canon, ["blk", "cluster"])
        .join(size, ["blk", "cluster"])
        .select(
            F.col("blk").alias("p_type"),
            "p_name",
            F.col("n").alias("n_rows"),
            "canonical_name",
            "cluster_size",
        )
        .orderBy("p_type", "p_name")
    )


Q223_SQL = f"""
WITH RECURSIVE names AS (
  SELECT p_type AS blk, p_name, CAST(count(*) AS BIGINT) AS n,
         min(p_partkey) AS node
  FROM part GROUP BY 1, 2
),
pairs AS (
  SELECT a.node AS id_a, b.node AS id_b
  FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_DIST}
    AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.b AS node, reach.r
  FROM reach JOIN edges e ON e.a = reach.node
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT n.blk, n.p_name, n.n,
         coalesce(c.cluster_id, n.node) AS cluster
  FROM names n LEFT JOIN comp c ON n.node = c.node
),
canon AS (
  SELECT blk, cluster, p_name AS canonical_name,
         row_number() OVER (PARTITION BY blk, cluster
                            ORDER BY n DESC, p_name) AS rn
  FROM lab
),
sz AS (
  SELECT blk, cluster, CAST(count(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY 1, 2
)
SELECT l.blk AS p_type, l.p_name, l.n AS n_rows,
       c.canonical_name, s.cluster_size
FROM lab l
JOIN canon c ON l.blk = c.blk AND l.cluster = c.cluster AND c.rn = 1
JOIN sz s ON l.blk = s.blk AND l.cluster = s.cluster
ORDER BY p_type, p_name
"""


# ---------------------------------------------------------------------------
# q253 — canonicalization dedup: the cheap middle rung between q12's
# byte-exact sha2 dedup (reference parity: SHA-256 of the raw file,
# helper/multiple_document_upload.py:15-18) and q44's MinHash — two
# docs differing only in case, punctuation or whitespace ARE
# duplicates for training purposes, and a strict byte hash misses
# them. Canonical form = lowercase, non-alphanumerics collapsed to
# single spaces, trimmed; additionally an 8-token PREFIX canon
# catches boilerplate-headed docs (template intros with divergent
# tails) — the common crawl pattern. Per source: doc counts, docs
# removed by each rung, survivors (min doc_id per group). Everything
# is scan-side string expressions + two count-distincts per source —
# one shuffle, no joins, no UDFs; at 100 TB the canon hash (not the
# text) is what crosses the exchange if you swap count-distinct for
# the sha2-of-canon form documented in q12.
# ---------------------------------------------------------------------------
CANON_PREFIX_TOKENS = 8


def q253_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    prefix = F.array_join(
        F.slice(F.split(canon, " "), 1, CANON_PREFIX_TOKENS), " "
    )
    docs = load(spark, sf_dir, "documents").select(
        "source", canon.alias("canon"), prefix.alias("prefix")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("canon").cast("bigint").alias("n_canon"),
            F.countDistinct("prefix").cast("bigint").alias("n_prefix"),
        )
        .select(
            "source",
            "n_docs",
            (F.col("n_docs") - F.col("n_canon")).alias("exact_canon_dups"),
            (F.col("n_docs") - F.col("n_prefix")).alias("prefix_dups"),
            ((F.col("n_docs") - F.col("n_prefix")) / F.col("n_docs")).alias(
                "prefix_dup_rate"
            ),
        )
        .orderBy("source")
    )


Q253_SQL = f"""
WITH c AS (
  SELECT source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS canon
  FROM documents
),
cp AS (
  SELECT source, canon,
         array_to_string(string_split(canon, ' ')[1:{CANON_PREFIX_TOKENS}], ' ')
           AS prefix
  FROM c
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT canon) AS BIGINT) AS n_canon,
         CAST(count(DISTINCT prefix) AS BIGINT) AS n_prefix
  FROM cp GROUP BY source
)
SELECT source, n_docs,
       n_docs - n_canon AS exact_canon_dups,
       n_docs - n_prefix AS prefix_dups,
       (n_docs - n_prefix) / CAST(n_docs AS DOUBLE) AS prefix_dup_rate
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q283 — sorted-neighborhood dedup (SNM, Hernández–Stolfo): sort the
# corpus by a canonical key, compare each doc only to its W nearest
# neighbors in sort order, verify candidates exactly — the classic
# third blocking family next to LSH banding (q44/q45) and attribute
# blocking (q215): O(N·W) comparisons with no hash design, and the
# per-offset match-rate decay it reports is the empirical basis for
# choosing W. Candidates at sort distance o ∈ 1..W are verified with
# exact 3-word-shingle Jaccard ≥ 0.4 on the canonical text (q253's
# canon, q44's verify measure and threshold — TOKEN-set Jaccard was
# measured non-discriminative on the shared-vocabulary fixture:
# adjacent and random pairs both ~0.64 median, while shingle Jaccard
# separates cleanly: 24 matches at offset 1 decaying to 0 by offset
# 4, the classic SNM decay).
# Scale shape: the global sort rank is computed WITHOUT a
# single-partition window — repartitionByRange on the key, row_number
# within each range partition (WindowExec partitioned by _pid), plus
# broadcast prefix-summed partition offsets (the quality._global_ntile
# rank stage, mirrored here); the neighbor join is an equi-join on
# rank+offset against the broadcast W-row offset frame; Jaccard is
# scan-side array arithmetic (int/int division → bit-identical match
# decisions on both engines).
# ---------------------------------------------------------------------------
SNM_WINDOW = 4
SNM_JACCARD = MINHASH_VERIFY_TAU  # 0.4 — same verify rule as q44
SNM_RANK_PARTS = 32


def _global_rank(df: DataFrame, order_cols: list, out: str) -> DataFrame:
    """Exact ``row_number() OVER (ORDER BY order_cols)`` as a
    distributed plan (the rank stage of quality._global_ntile):
    range-partition on the key, rank within partitions, add broadcast
    prefix-summed partition offsets. ``order_cols`` must be a strict
    total order."""
    # localCheckpoint is LOAD-BEARING: the range partitioner samples
    # boundaries from the upstream row order, which is nondeterministic
    # after a hash aggregate — without materialization the spine's and
    # the counts' instantiations can draw DIFFERENT boundaries and the
    # broadcast offsets join against the wrong _pid (the r13
    # functions/prefix.py finding, fixed here too)
    d = (
        df.repartitionByRange(SNM_RANK_PARTS, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    pc = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pc"))
    off = (
        pc.alias("a")
        .join(
            F.broadcast(
                pc.select(
                    F.col("_pid").alias("_bpid"), F.col("_pc").alias("_bpc")
                )
            ),
            F.col("_bpid") < F.col("_pid"),
            "left",
        )
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_bpc"), F.lit(0)).alias("_off"))
    )
    rn = F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    return (
        d.join(F.broadcast(off), "_pid")
        .withColumn(out, (F.col("_off") + rn).cast("bigint"))
        .drop("_pid", "_off")
    )


def q283_snm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", canon.alias("canon")
    )
    shingled = with_shingles(docs, text_col="canon").select(
        "doc_id", "canon", "shingles"
    )
    ranked = _global_rank(
        shingled, ["canon", "doc_id"], "r"
    ).localCheckpoint()
    offs = spark.range(1, SNM_WINDOW + 1).select(
        F.col("id").cast("bigint").alias("o")
    )
    a = ranked.select(F.col("r").alias("ra"), F.col("shingles").alias("sa"))
    b = ranked.select(F.col("r").alias("rb"), F.col("shingles").alias("sb"))
    pairs = a.crossJoin(F.broadcast(offs)).join(
        b, F.col("rb") == F.col("ra") + F.col("o")
    )
    union = F.size(F.array_distinct(F.concat("sa", "sb")))
    jac = F.when(
        union > 0,
        F.size(F.array_intersect("sa", "sb")) / union.cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        pairs.select("o", (jac >= SNM_JACCARD).cast("bigint").alias("m"))
        .groupBy("o")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("m").cast("bigint").alias("n_matches"),
        )
        .select(
            F.col("o").alias("sort_offset"),
            "n_candidates",
            "n_matches",
            (F.col("n_matches") / F.col("n_candidates").cast("double")).alias(
                "match_rate"
            ),
        )
        .orderBy("sort_offset")
    )


Q283_SQL = f"""
WITH c AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS canon
  FROM documents
),
sh AS (
  SELECT doc_id, canon,
         list_distinct(list_transform(
           generate_series(1, len(string_split(canon, ' ')) - {SHINGLE_N - 1}),
           i -> string_split(canon, ' ')[i]
                || ' ' || string_split(canon, ' ')[i + 1]
                || ' ' || string_split(canon, ' ')[i + 2])) AS s
  FROM c
),
ranked AS (
  SELECT s,
         CAST(row_number() OVER (ORDER BY canon, doc_id) AS BIGINT) AS r
  FROM sh
),
offs AS (SELECT CAST(unnest(generate_series(1, {SNM_WINDOW})) AS BIGINT) AS o),
pairs AS (
  SELECT offs.o, a.s AS sa, b.s AS sb
  FROM ranked a
  CROSS JOIN offs
  JOIN ranked b ON b.r = a.r + offs.o
),
scored AS (
  SELECT o,
         CASE WHEN len(list_distinct(list_concat(sa, sb))) > 0
                   AND CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                       / len(list_distinct(list_concat(sa, sb)))
                       >= {SNM_JACCARD}
              THEN 1 ELSE 0 END AS m
  FROM pairs
)
SELECT o AS sort_offset,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(m) AS BIGINT) AS n_matches,
       sum(m) / CAST(count(*) AS DOUBLE) AS match_rate
FROM scored
GROUP BY o
ORDER BY sort_offset
"""


# ---------------------------------------------------------------------------
# q302 — ENGINE-PORTABLE MinHash-LSH near-dup join. q44/q51 key their
# signatures off Spark's xxhash64 (no DuckDB twin -> rows-only checks
# with planted-corpus recall evidence); this variant derives every
# hash from explicit portable integer arithmetic (the q40 rolling-
# polynomial / functions.hashing discipline), so the FULL pipeline —
# shingle hashing, 16 permutations, 4x4 banding, candidate join, exact
# Jaccard verify — is replicated in ANSI SQL and hash-graded by the
# driver. The dedup family's oracle-backed anchor.
#
# Hash chain (all mod the Mersenne prime 2^31-1; every product fits
# int64: a_i * x <= 2^62, acc * FP_MULT <= 2.1e15):
#   word_hash  = ((len*31 + cp_first)*31 + cp_mid)*31 + cp_last) % P
#                (constant-time per word — a per-char fold measured
#                 10.2 s/500 docs in interpreted HOF eval vs ~0.5 s
#                 for this; single-word collisions are tolerable
#                 because a SHINGLE collision needs all 8 consecutive
#                 word hashes to collide)
#   shingle    = fold over 8 words (acc*FP_MULT + word_hash) % P
#   perm_i     = (A_i * shingle + B_i) % P,  sig_i = min over shingles
#   band_k     = fold over sigs[4k..4k+3] (acc*FP_MULT + sig) % P
# Verify = EXACT Jaccard over the shingle-HASH sets (declared operator
# semantics: Jaccard of 8-gram fingerprints, not raw strings).
# Scale: identical shape to q44 (explode bands -> shuffle on band key
# -> within-bucket pairs -> id-only candidates -> exact verify joins
# shingle sets back by doc id). Buckets above LSH_BUCKET_CAP docs are
# dropped as degenerate (boilerplate-only shingle sets), the q177 cap
# discipline.
# ---------------------------------------------------------------------------
PMH_PERMS = 16
PMH_BANDS = 4
PMH_ROWS = PMH_PERMS // PMH_BANDS
PMH_SHINGLE_W = 8
PMH_JMIN = 0.5
PMH_BUCKET_CAP = 50
PMH_P = 2147483647  # Mersenne 2^31-1 (functions.hashing.HASH_MOD)
PMH_MULT = 1000003  # q40 FP_MULT
PMH_A = [(2654435761 + 977 * i) % PMH_P for i in range(PMH_PERMS)]
PMH_B = [(2246822519 + 131071 * i) % PMH_P for i in range(PMH_PERMS)]


_PMH_A_COL = np.array(PMH_A, dtype=np.int64)[:, None]
_PMH_B_COL = np.array(PMH_B, dtype=np.int64)[:, None]


def _pmh_shingle(text: str):
    """(shingles, sigs) of one document: its distinct portable shingle
    hashes, sorted, and the PMH_PERMS MinHash minima, both int64 — the
    EXACT integer chain from the header. None for a document shorter
    than PMH_SHINGLE_W words. The one body that _pmh_shingle_sigs's
    ``mapInPandas`` and the driver-side near-dup absorb
    (streaming/ingest_stream.py::_neardup_batch) both run."""
    W = PMH_SHINGLE_W
    ws = text.lower().split(" ")
    wh = np.fromiter(
        (
            0
            if not w
            else (
                ((len(w) * 31 + ord(w[0])) * 31 + ord(w[(len(w) + 1) // 2 - 1]))
                * 31
                + ord(w[-1])
            )
            % PMH_P
            for w in ws
        ),
        dtype=np.int64,
        count=len(ws),
    )
    if len(wh) < W:
        return None
    acc = np.zeros(len(wh) - W + 1, dtype=np.int64)
    for t in range(W):
        acc = (acc * PMH_MULT + wh[t : len(wh) - W + 1 + t]) % PMH_P
    sh = np.unique(acc)
    # (a*x + b) % P == ((a*x) % P + b) % P; a*x <= 2^62
    sigs = ((_PMH_A_COL * sh[None, :]) % PMH_P + _PMH_B_COL) % PMH_P
    return sh, sigs.min(axis=1)


def _pmh_shingle_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, sigs): distinct portable shingle hashes and
    the 16 MinHash signature minima per doc — _pmh_shingle per document
    inside an Arrow ``mapInPandas``. The declarative
    higher-order-function form is interpreted per array element by
    Catalyst (no codegen for lambda bodies) and measured 10.2 s / 500
    docs for this stage; the numpy twin is ~20x faster and
    bit-identical (pure int64 arithmetic, no floats anywhere).
    repartition BEFORE the hash stage: a small fixture parquet arrives
    as ONE split; at 100 TB the input splits provide the parallelism
    for free. The workers import _pmh_shingle from this package, so the
    package is shipped to them first."""
    from .._bootstrap import ensure_worker_imports

    ensure_worker_imports(docs.sparkSession)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                out = _pmh_shingle(text)
                if out is not None:
                    rows.append((int(doc_id), out[0].tolist(), out[1].tolist()))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "shingles", "sigs"]
                )

    sc = docs.sparkSession.sparkContext
    return docs.repartition(sc.defaultParallelism, "doc_id").mapInPandas(
        gen, "doc_id bigint, shingles array<bigint>, sigs array<bigint>"
    )


def _pmh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key): the PMH_BANDS banded LSH index rows — the
    shared Spark-side twin of the ``bands`` CTE in _pmh_base_ctes().
    q302 self-joins it; q322 probes it incrementally; q323/q324 audit
    its bucket occupancy."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.aggregate(
                        F.slice(F.col("sigs"), k * PMH_ROWS + 1, PMH_ROWS),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: (acc * PMH_MULT + x) % PMH_P,
                    )
                    for k in range(PMH_BANDS)
                ]
            )
        ).alias("band", "key"),
    ).select("doc_id", "band", "key")


def _pmh_band_keys(sigs: np.ndarray) -> np.ndarray:
    """The numpy twin of _pmh_bands: the (n, PMH_BANDS) band keys of
    (n, PMH_PERMS) int64 signatures, column k being band k."""
    rows = sigs.reshape(len(sigs), PMH_BANDS, PMH_ROWS)
    acc = np.zeros((len(sigs), PMH_BANDS), dtype=np.int64)
    for r in range(PMH_ROWS):
        acc = (acc * PMH_MULT + rows[:, :, r]) % PMH_P
    return acc


def _pmh_kept_bands(bands: DataFrame) -> DataFrame:
    """Band rows surviving the PMH_BUCKET_CAP drop (both engines apply
    the same cap, so oracle parity holds; q324 grades what was
    dropped)."""
    sizes = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_n"))
    return bands.join(
        sizes.where(F.col("_n") <= PMH_BUCKET_CAP).select("band", "key"),
        ["band", "key"],
    )


def q302_portable_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = _pmh_shingle_sigs(docs).localCheckpoint()
    sigs = shingled.select("doc_id", "sigs")
    kept = _pmh_kept_bands(_pmh_bands(sigs))
    a = kept.select("band", "key", F.col("doc_id").alias("doc_a"))
    b = kept.select("band", "key", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact verify: shingle sets joined back by id (candidates are few)
    ex = shingled.select(
        "doc_id", F.explode("shingles").alias("s")
    )
    na = shingled.select(
        F.col("doc_id").alias("doc_a"), F.size("shingles").alias("n_a")
    )
    nb = shingled.select(
        F.col("doc_id").alias("doc_b"), F.size("shingles").alias("n_b")
    )
    common = (
        cand.join(ex.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(ex.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sigs").alias("sa"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sigs").alias("sb"))
    jac = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("sa"), F.col("sb"), lambda x, y: x == y
                        ),
                        lambda t: t,
                    )
                ).cast("double")
                / F.lit(float(PMH_PERMS))
            ).alias("est_jaccard"),
        )
    )
    return (
        jac.where(F.col("jaccard") >= PMH_JMIN)
        .orderBy("doc_a", "doc_b")
    )


def _pmh_base_ctes() -> str:
    """Shared DuckDB CTE prefix (w -> wh -> sh -> shn -> sigs ->
    bands) for every query that rides the q302 portable-MinHash chain
    (q302, q307/q311/q314/q317 via Q302_SQL, q322, q323) — one text,
    no drift."""
    perms = ", ".join(
        f"list_min(list_transform(shingles, x -> ({a} * x + {b}) % {PMH_P}))"
        for a, b in zip(PMH_A, PMH_B)
    )
    bandkeys = ", ".join(
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"sigs[{k * PMH_ROWS + 1}:{k * PMH_ROWS + PMH_ROWS}]), "
        f"(acc, x) -> (acc * {PMH_MULT} + x) % {PMH_P})"
        for k in range(PMH_BANDS)
    )
    return f"""w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
),
wh AS (
  SELECT doc_id,
         list_transform(words, w -> CASE WHEN length(w) > 0 THEN
           CAST((((length(w) * 31 + ascii(w[1:1])) * 31
                  + ascii(w[(length(w) + 1) // 2 : (length(w) + 1) // 2]))
                 * 31 + ascii(w[length(w):length(w)]))
                % {PMH_P} AS BIGINT)
           ELSE CAST(0 AS BIGINT) END) AS whs
  FROM w
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(whs) - {PMH_SHINGLE_W - 1}),
           j -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  whs[j:j+{PMH_SHINGLE_W - 1}]),
                  (acc, x) -> (acc * {PMH_MULT} + x) % {PMH_P}))) AS shingles
  FROM wh
  WHERE len(whs) >= {PMH_SHINGLE_W}
),
shn AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
sigs AS (
  SELECT doc_id, shingles, [{perms}] AS sigs FROM shn
),
bands AS (
  SELECT doc_id, unnest([{bandkeys}]) AS key,
         unnest(generate_series(0, {PMH_BANDS - 1})) AS band
  FROM sigs
)"""


def _pmh_sql() -> str:
    return f"""
WITH {_pmh_base_ctes()},
kept AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, key FROM bands GROUP BY band, key
        HAVING count(*) <= {PMH_BUCKET_CAP}) s USING (band, key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b USING (band, key)
  WHERE a.doc_id < b.doc_id
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shn),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       CAST(n_common AS DOUBLE)
         / CAST(len(sa.shingles) + len(sb.shingles) - n_common AS DOUBLE)
         AS jaccard,
       CAST(len(list_filter([sga.sigs[i] = sgb.sigs[i]
                             for i in generate_series(1, {PMH_PERMS})],
                            t -> t)) AS DOUBLE) / {PMH_PERMS}.0
         AS est_jaccard
FROM common c
JOIN shn sa ON sa.doc_id = c.doc_a
JOIN shn sb ON sb.doc_id = c.doc_b
JOIN sigs sga ON sga.doc_id = c.doc_a
JOIN sigs sgb ON sgb.doc_id = c.doc_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(len(sa.shingles) + len(sb.shingles) - n_common AS DOUBLE)
      >= {PMH_JMIN}
ORDER BY doc_a, doc_b
"""


Q302_SQL = _pmh_sql()


# ---------------------------------------------------------------------------
# q352 — cross-source duplication matrix: q302's verified near-dup
# pairs rolled up by (source_a, source_b) — WHICH domains duplicate
# into which. The curation question this answers is directional
# budget-setting: heavy within-source duplication means crawl-level
# dedup (cheap, per-source); heavy cross-source duplication means the
# global near-dup pass is load-bearing and per-source dedup would
# miss it (the syndication/mirror-site signature; q311 measures the
# same phenomenon at the syndication level, this measures it at the
# near-dup-pair level). Source pairs are unordered (least/greatest
# normalization) so mirrored pairs land in one cell.
# Scale: rides q302's banded candidate generation (never N^2); the
# rollup adds two id->source lookups and a tiny matrix aggregate.
# ---------------------------------------------------------------------------
def q352_crossdomain_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = q302_portable_minhash(spark, sf_dir).select("doc_a", "doc_b")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
        )
    )
    total = labeled.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        labeled.groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(total))
        .select(
            "src_lo",
            "src_hi",
            "n_pairs",
            (F.col("src_lo") != F.col("src_hi")).alias("cross_source"),
            F.round(
                F.col("n_pairs") / F.col("n_total").cast("double"), 4
            ).alias("share"),
        )
        .orderBy(F.col("n_pairs").desc(), "src_lo", "src_hi")
    )


Q352_SQL = f"""
WITH pairs AS (
  {Q302_SQL}
),
labeled AS (
  SELECT least(da.source, db.source) AS src_lo,
         greatest(da.source, db.source) AS src_hi
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM labeled)
SELECT src_lo, src_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       src_lo != src_hi AS cross_source,
       round(count(*) / CAST(tot.n_total AS DOUBLE), 4) AS share
FROM labeled, tot
GROUP BY src_lo, src_hi, tot.n_total
ORDER BY n_pairs DESC, src_lo, src_hi
"""


# ---------------------------------------------------------------------------
# q322 — INCREMENTAL near-dup against the store: q186's production
# R11 shape (classify an incoming batch as dup_of_store /
# dup_in_batch / novel) upgraded from exact-fingerprint equality to
# q302's verified near-dup semantics. The batch probes the persisted
# band/bucket LSH index of the store — at 100 TB the nightly ingest
# never rescans the corpus: the index rows are (doc_id, band, key)
# int64 triples and the exact verify joins the shingle index by
# candidate id only, so probe cost is O(|batch| * bands +
# |candidates|), independent of corpus size.
# _incremental_classify is q322's probe: q322 feeds it the fixture
# split (doc_id % 10 == 7 is the batch, q186's residue split, the rest
# is the store). The near-dup index absorb
# (streaming/ingest_stream.py::_neardup_batch) runs its driver twin,
# ingest_stream.py::_neardup_absorb, in numpy over the index's cached
# bands and shingles: the same rules, for a batch too small to pay a
# Spark plan's fixed cost. tests/test_neardup_absorb.py keeps the
# Spark absorb that fed this function as the frozen reference the
# twin must equal row for row.
# tests/test_round11_ops.py persists q322's store side through
# operators/store.py and asserts the probe against the parquet
# roundtrip classifies exactly as the inline run.
# Tie-break/classification: dup_of_store wins over dup_in_batch
# (store is canonical); dup_of = min matching store doc id, else min
# EARLIER batch doc id (first-occurrence-wins, q186's rule). Batch
# docs too short to shingle (< W words) can never near-dup -> novel.
# The PMH_BUCKET_CAP drop applies to combined bucket occupancy on
# both engines (same rule as q302, so oracle parity holds; q324
# grades the drop volume).
# ---------------------------------------------------------------------------
def _incremental_classify(
    batch_ids: DataFrame,
    store_bands: DataFrame,
    batch_bands: DataFrame,
    store_shingles: DataFrame,
    batch_shingles: DataFrame,
) -> DataFrame:
    """Classify ``batch_ids`` (doc_id) against the store, unordered.

    Store membership is POSITIONAL: a row is store iff it came in
    through ``store_bands`` / ``store_shingles``. Bands are (doc_id,
    band, key) and shingles (doc_id, shingles). A batch doc never
    matches its own store rows (dup != doc), so a replayed micro-batch
    whose rows were already absorbed classifies as the first run did.
    streaming/ingest_stream.py::_neardup_absorb is the driver twin the
    index absorb runs; any rule changed here changes there too, and
    tests/test_neardup_absorb.py holds the two equal.
    """
    # --- candidates: q302's band join, batch side probing ---
    allb = store_bands.select(
        "doc_id", "band", "key", F.lit(True).alias("_st")
    ).unionByName(
        batch_bands.select("doc_id", "band", "key", F.lit(False).alias("_st"))
    )
    kept = _pmh_kept_bands(allb)
    kb = kept.where(~F.col("_st"))
    ks = kept.where(F.col("_st"))
    probe = kb.select("band", "key", F.col("doc_id").alias("doc"))
    store_cand = (
        probe.join(
            ks.select("band", "key", F.col("doc_id").alias("dup")),
            ["band", "key"],
        )
        .where(F.col("dup") != F.col("doc"))  # replay: skip own index rows
        .select("doc", "dup")
        .distinct()
    )
    batch_cand = (
        probe.join(
            kb.select("band", "key", F.col("doc_id").alias("dup")),
            ["band", "key"],
        )
        .where(F.col("dup") < F.col("doc"))
        .select("doc", "dup")
        .distinct()
    )
    cand = store_cand.select(
        "doc", "dup", F.lit(True).alias("_from_store")
    ).unionByName(
        batch_cand.select("doc", "dup", F.lit(False).alias("_from_store"))
    )

    # exact-Jaccard verify: explode shingles for CANDIDATE docs only
    # (semi-join first — the store shingle table is never exploded
    # wholesale, keeping the per-trigger cost candidate-bounded)
    # dropDuplicates(doc_id): on a REPLAY the batch doc's shingle set
    # exists in the persisted store (absorbed by the first run) AND in
    # the fresh batch — without the dedup its exploded shingles would
    # double and inflate every n_common it participates in.
    all_sh = store_shingles.unionByName(batch_shingles).dropDuplicates(
        ["doc_id"]
    )
    cand_ids = (
        cand.select(F.col("doc").alias("doc_id"))
        .unionByName(cand.select(F.col("dup").alias("doc_id")))
        .distinct()
    )
    sh_needed = all_sh.join(cand_ids, "doc_id", "semi").localCheckpoint()
    ex = sh_needed.select("doc_id", F.explode("shingles").alias("s"))
    common = (
        cand.join(ex.select(F.col("doc_id").alias("doc"), "s"), "doc")
        .join(ex.select(F.col("doc_id").alias("dup"), "s"), ["dup", "s"])
        .groupBy("doc", "dup", "_from_store")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    nsz = sh_needed.select("doc_id", F.size("shingles").alias("nsh"))
    verified = (
        common.join(
            nsz.select(F.col("doc_id").alias("doc"), F.col("nsh").alias("n_a")),
            "doc",
        )
        .join(
            nsz.select(F.col("doc_id").alias("dup"), F.col("nsh").alias("n_b")),
            "dup",
        )
        .where(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            >= F.lit(PMH_JMIN)
        )
    )
    agg = verified.groupBy("doc").agg(
        F.min(F.when(F.col("_from_store"), F.col("dup"))).alias("store_min"),
        F.min(F.when(~F.col("_from_store"), F.col("dup"))).alias("batch_min"),
        F.sum(F.when(F.col("_from_store"), 1).otherwise(0))
        .cast("bigint")
        .alias("ns"),
        F.sum(F.when(~F.col("_from_store"), 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    status = (
        F.when(F.col("store_min").isNotNull(), F.lit("dup_of_store"))
        .when(F.col("batch_min").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("novel"))
    )
    return batch_ids.join(agg, batch_ids["doc_id"] == agg["doc"], "left").select(
        "doc_id",
        status.alias("status"),
        F.coalesce("store_min", "batch_min").cast("bigint").alias("dup_of"),
        F.coalesce("ns", F.lit(0)).cast("bigint").alias("n_store_matches"),
        F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_batch_matches"),
    )


def q322_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_RESIDUE
    shingled = _pmh_shingle_sigs(docs).localCheckpoint()
    bands = _pmh_bands(shingled.select("doc_id", "sigs"))
    shingles = shingled.select("doc_id", "shingles")
    return _incremental_classify(
        docs.where(is_batch).select("doc_id"),
        bands.where(~is_batch),
        bands.where(is_batch),
        shingles.where(~is_batch),
        shingles.where(is_batch),
    ).orderBy("doc_id")


Q322_SQL = f"""
WITH {_pmh_base_ctes()},
kept AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, key FROM bands GROUP BY band, key
        HAVING count(*) <= {PMH_BUCKET_CAP}) s USING (band, key)
),
kb AS (SELECT * FROM kept WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}),
ks AS (SELECT * FROM kept WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE}),
cand AS (
  SELECT DISTINCT b.doc_id AS doc, s.doc_id AS dup
  FROM kb b JOIN ks s USING (band, key)
  UNION
  SELECT DISTINCT l.doc_id AS doc, e.doc_id AS dup
  FROM kb l JOIN kb e USING (band, key)
  WHERE e.doc_id < l.doc_id
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shn),
common AS (
  SELECT c.doc, c.dup, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc
  JOIN ex eb ON eb.doc_id = c.dup AND eb.s = ea.s
  GROUP BY c.doc, c.dup
),
verified AS (
  SELECT c.doc, c.dup FROM common c
  JOIN shn sa ON sa.doc_id = c.doc
  JOIN shn sb ON sb.doc_id = c.dup
  WHERE CAST(n_common AS DOUBLE)
          / CAST(len(sa.shingles) + len(sb.shingles) - n_common AS DOUBLE)
        >= {PMH_JMIN}
),
agg AS (
  SELECT doc,
         min(CASE WHEN dup % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE}
                  THEN dup END) AS store_min,
         min(CASE WHEN dup % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}
                  THEN dup END) AS batch_min,
         count(CASE WHEN dup % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE}
                    THEN 1 END) AS ns,
         count(CASE WHEN dup % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}
                    THEN 1 END) AS nb
  FROM verified GROUP BY doc
)
SELECT d.doc_id,
       CASE WHEN a.store_min IS NOT NULL THEN 'dup_of_store'
            WHEN a.batch_min IS NOT NULL THEN 'dup_in_batch'
            ELSE 'novel' END AS status,
       CAST(coalesce(a.store_min, a.batch_min) AS BIGINT) AS dup_of,
       CAST(coalesce(a.ns, 0) AS BIGINT) AS n_store_matches,
       CAST(coalesce(a.nb, 0) AS BIGINT) AS n_batch_matches
FROM (SELECT doc_id FROM documents
      WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}) d
LEFT JOIN agg a ON a.doc = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# q323 — band-index growth readout for the q322 absorb step: after the
# batch is classified, its band rows are appended to the persisted LSH
# index; this op grades, per band, what that append does to the index
# — buckets before, brand-new buckets, grown buckets, max occupancy
# before/after, and how many buckets the append pushes past
# PMH_BUCKET_CAP (each of those silently widens the q302/q322
# candidate drop, so over_cap_after is the number the index compactor
# alarms on). Scale: ONE groupBy(band, key) with conditional partial
# sums (map-side combine), then a PMH_BANDS-row rollup; nothing else
# shuffles, no pairs materialize.
# ---------------------------------------------------------------------------
def q323_band_index_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = _pmh_shingle_sigs(docs)
    bands = _pmh_bands(shingled.select("doc_id", "sigs"))
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_RESIDUE
    per_bucket = bands.groupBy("band", "key").agg(
        F.sum(F.when(~is_batch, 1).otherwise(0)).alias("n_store"),
        F.sum(F.when(is_batch, 1).otherwise(0)).alias("n_batch"),
    )
    return (
        per_bucket.groupBy("band")
        .agg(
            F.sum(F.when(F.col("n_store") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("buckets_before"),
            F.sum(
                F.when((F.col("n_store") == 0) & (F.col("n_batch") > 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("new_buckets"),
            F.sum(
                F.when((F.col("n_store") > 0) & (F.col("n_batch") > 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("grown_buckets"),
            F.max("n_store").cast("bigint").alias("max_size_before"),
            F.max(F.col("n_store") + F.col("n_batch"))
            .cast("bigint")
            .alias("max_size_after"),
            F.sum(
                F.when(
                    F.col("n_store") + F.col("n_batch") > PMH_BUCKET_CAP, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("over_cap_after"),
        )
        .orderBy("band")
    )


Q323_SQL = f"""
WITH {_pmh_base_ctes()},
per_bucket AS (
  SELECT band, key,
         count(CASE WHEN doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE}
                    THEN 1 END) AS n_store,
         count(CASE WHEN doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}
                    THEN 1 END) AS n_batch
  FROM bands GROUP BY band, key
)
SELECT band,
       CAST(count(CASE WHEN n_store > 0 THEN 1 END) AS BIGINT)
         AS buckets_before,
       CAST(count(CASE WHEN n_store = 0 AND n_batch > 0 THEN 1 END) AS BIGINT)
         AS new_buckets,
       CAST(count(CASE WHEN n_store > 0 AND n_batch > 0 THEN 1 END) AS BIGINT)
         AS grown_buckets,
       CAST(max(n_store) AS BIGINT) AS max_size_before,
       CAST(max(n_store + n_batch) AS BIGINT) AS max_size_after,
       CAST(count(CASE WHEN n_store + n_batch > {PMH_BUCKET_CAP} THEN 1 END)
            AS BIGINT) AS over_cap_after
FROM per_bucket GROUP BY band ORDER BY band
"""


# ---------------------------------------------------------------------------
# q324 — bucket-cap audit: the observability row VERDICT r10 flagged
# as missing ("silent candidate drop is declared semantics but
# unobservable"). For BOTH banded LSH families — q302's MinHash bands
# and q319's SimHash bands — grade exactly what the PMH_BUCKET_CAP
# drop removes: over-cap buckets, band rows discarded with them, docs
# whose EVERY band landed in an over-cap bucket (those can never be
# candidates — the true recall hole), and the max bucket size (how far
# past the cap the worst key is). One run of this after each corpus
# build is the "is the cap still sane here" gate; a boilerplate-heavy
# corpus shows up as docs_all_dropped > 0 long before recall decays.
# Scale: per family one groupBy(band, key) size agg + one per-doc
# min/max rollup; no pair or candidate materialization anywhere.
# ---------------------------------------------------------------------------
def _cap_audit(bands: DataFrame, family: str) -> DataFrame:
    # both bands and sizes feed TWO branches (bucket stats + the
    # per-doc rollup) — materialize so the expensive upstream stages
    # (Arrow minhash chain / 56-sum simhash votes) run once per family
    bands = bands.localCheckpoint()
    sizes = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("_n")
    ).localCheckpoint()
    bucket_stats = sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("_n") > PMH_BUCKET_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("over_cap_buckets"),
        F.sum(F.when(F.col("_n") > PMH_BUCKET_CAP, F.col("_n")).otherwise(0))
        .cast("bigint")
        .alias("dropped_band_rows"),
        F.max("_n").cast("bigint").alias("max_bucket_size"),
    )
    per_doc = (
        bands.join(sizes, ["band", "key"])
        .groupBy("doc_id")
        .agg(F.min("_n").alias("_best"))
    )
    doc_stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("_best") > PMH_BUCKET_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_all_dropped"),
    )
    return bucket_stats.crossJoin(doc_stats).select(
        F.lit(family).alias("family"),
        "n_docs",
        "n_buckets",
        "over_cap_buckets",
        "dropped_band_rows",
        "docs_all_dropped",
        "max_bucket_size",
    )


def q324_bucket_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mh = _pmh_bands(
        _pmh_shingle_sigs(docs).select("doc_id", "sigs")
    )
    sh = _simhash_bands(_simhash_sigs(docs))
    return (
        _cap_audit(mh, "minhash")
        .unionByName(_cap_audit(sh, "simhash"))
        .orderBy("family")
    )


def _cap_audit_sql(family: str, with_body: str) -> str:
    """One family's audit as a standalone parenthesized subquery (its
    own WITH scope, so the two families' identically-named CTEs never
    collide in the UNION ALL)."""
    return f"""(
  WITH {with_body},
  sizes AS (
    SELECT band, key, count(*) AS n FROM bands GROUP BY band, key
  ),
  bucket_stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN n > {PMH_BUCKET_CAP} THEN 1 END) AS BIGINT)
             AS over_cap_buckets,
           CAST(coalesce(sum(CASE WHEN n > {PMH_BUCKET_CAP} THEN n END), 0)
                AS BIGINT) AS dropped_band_rows,
           CAST(max(n) AS BIGINT) AS max_bucket_size
    FROM sizes
  ),
  doc_stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN best > {PMH_BUCKET_CAP} THEN 1 END) AS BIGINT)
             AS docs_all_dropped
    FROM (SELECT b.doc_id, min(s.n) AS best
          FROM bands b JOIN sizes s USING (band, key)
          GROUP BY b.doc_id)
  )
  SELECT '{family}' AS family, n_docs, n_buckets, over_cap_buckets,
         dropped_band_rows, docs_all_dropped, max_bucket_size
  FROM bucket_stats, doc_stats
)"""


# Q324_SQL is assembled after _simhash_sql() is defined (end of the
# q319 section below) — it reuses that chain's CTE text verbatim.


# ---------------------------------------------------------------------------
# q338 — shingle CONTAINMENT pairs (asymmetric near-dup): Jaccard is
# symmetric, so a short doc fully embedded in a long one (quote,
# syndicated excerpt, template wrapper) scores LOW and q302 misses it
# — AND MinHash banding structurally cannot generate the candidate
# (for B ⊆ A with |B| = 0.3|A|, J ~ 0.3, a 4-row band agrees with
# p ~ J^4 < 1%; the planted-corpus test demonstrates the miss).
# Candidate generation here is the containment-appropriate one: a
# RARE-SHINGLE inverted index — pairs sharing any shingle with
# document frequency <= PMH_BUCKET_CAP. A contained doc shares ALL its
# shingles with its container, so the pair fires on every rare shingle
# it has; over-common shingles (boilerplate n-grams, df > cap) carry
# no discrimination and are dropped, exactly the q302 bucket-cap
# declaration. Verify = exact containments + Jaccard from the shingle
# index; gate = max(C_a, C_b) >= 0.6. Rows with high containment but
# jaccard < 0.5 are the subset tier ONLY this operator finds.
# Scale: posting-list self-join bounded by cap x total postings (the
# q236 inverted-index shape); candidates are id-pairs only; verify
# joins the shingle index by id.
# ---------------------------------------------------------------------------
CONTAIN_MIN = 0.6


def q338_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = _pmh_shingle_sigs(docs).localCheckpoint()
    ex = shingled.select("doc_id", F.explode("shingles").alias("s"))
    rare = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= PMH_BUCKET_CAP)
        .select("s")
    )
    exr = ex.join(rare, "s")
    cand = (
        exr.select("s", F.col("doc_id").alias("doc_a"))
        .join(exr.select("s", F.col("doc_id").alias("doc_b")), "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    common = (
        cand.join(ex.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(ex.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    nsz = shingled.select("doc_id", F.size("shingles").alias("nsh"))
    joined = common.join(
        nsz.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("n_a")),
        "doc_a",
    ).join(
        nsz.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("n_b")),
        "doc_b",
    )
    c_a = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_b = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
            F.round(c_a, 4).alias("containment_a"),
            F.round(c_b, 4).alias("containment_b"),
        )
        .where(F.greatest(c_a, c_b) >= F.lit(CONTAIN_MIN))
        .orderBy("doc_a", "doc_b")
    )


Q338_SQL = f"""
WITH {_pmh_base_ctes()},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shn),
rare AS (
  SELECT s FROM ex GROUP BY s HAVING count(*) <= {PMH_BUCKET_CAP}
),
exr AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM exr a JOIN exr b USING (s)
  WHERE a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       round(CAST(n_common AS DOUBLE)
             / CAST(len(sa.shingles) + len(sb.shingles) - n_common AS DOUBLE),
             4) AS jaccard,
       round(CAST(n_common AS DOUBLE) / CAST(len(sa.shingles) AS DOUBLE), 4)
         AS containment_a,
       round(CAST(n_common AS DOUBLE) / CAST(len(sb.shingles) AS DOUBLE), 4)
         AS containment_b
FROM common c
JOIN shn sa ON sa.doc_id = c.doc_a
JOIN shn sb ON sb.doc_id = c.doc_b
WHERE greatest(CAST(n_common AS DOUBLE) / CAST(len(sa.shingles) AS DOUBLE),
               CAST(n_common AS DOUBLE) / CAST(len(sb.shingles) AS DOUBLE))
      >= {CONTAIN_MIN}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# q307 — blocking-strategy advisor: before running any pairwise dedup
# at 100 TB you pick a blocking key; this op SCORES three cheap
# candidate schemes against the NEAR-DUP ground truth q302's verified
# pipeline produces (Jaccard >= 0.5 pairs) — candidate-pair volume
# (computed from block-size counts as Σ c(c-1)/2, never materializing
# pairs), truth recall (do true near-dup pairs share a block?), and
# all-pairs reduction. The q230 LSH advisor tunes banding; this
# compares key FAMILIES against what the full pipeline actually finds.
# Scale: per scheme one groupBy(key) for sizes; the truth set is the
# (small) q302 output joined back to keys by doc id.
# ---------------------------------------------------------------------------
BLOCK_LEN_BAND = 20


def q307_blocking_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    keyed = docs.select(
        "doc_id",
        F.expr(f"n_chars div {BLOCK_LEN_BAND}")
        .cast("bigint")
        .cast("string")
        .alias("len_band"),
        F.split(F.lower(F.col("text")), " ").getItem(0).alias("first_token"),
        F.substring(F.lower(F.col("text")), 1, 4).alias("prefix4"),
    )
    truth_pairs = q302_portable_minhash(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    truth = truth_pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs")
    )
    ka = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("len_band").alias("la"),
        F.col("first_token").alias("fa"),
        F.col("prefix4").alias("pa"),
    )
    kb = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("len_band").alias("lb"),
        F.col("first_token").alias("fb"),
        F.col("prefix4").alias("pb"),
    )
    dup_pairs = truth_pairs.join(ka, "doc_a").join(kb, "doc_b")
    covered = dup_pairs.agg(
        F.coalesce(
            F.sum((F.col("la") == F.col("lb")).cast("bigint")), F.lit(0)
        )
        .cast("bigint")
        .alias("len_band"),
        F.coalesce(
            F.sum((F.col("fa") == F.col("fb")).cast("bigint")), F.lit(0)
        )
        .cast("bigint")
        .alias("first_token"),
        F.coalesce(
            F.sum((F.col("pa") == F.col("pb")).cast("bigint")), F.lit(0)
        )
        .cast("bigint")
        .alias("prefix4"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def scheme(col: str):
        sizes = keyed.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return sizes.agg(
            F.lit(col).alias("scheme"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("bigint")
            .alias("n_cand_pairs"),
        )

    per = (
        scheme("len_band")
        .unionByName(scheme("first_token"))
        .unionByName(scheme("prefix4"))
    )
    cov_long = covered.selectExpr(
        "stack(3, 'len_band', len_band, 'first_token', first_token, "
        "'prefix4', prefix4) AS (scheme, n_covered)"
    )
    return (
        per.join(cov_long, "scheme")
        .crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "scheme",
            "n_blocks",
            "n_cand_pairs",
            "n_dup_pairs",
            F.col("n_covered").cast("bigint").alias("n_covered"),
            (
                F.col("n_covered").cast("double")
                / F.col("n_dup_pairs").cast("double")
            ).alias("recall"),
            (
                F.lit(1.0)
                - F.col("n_cand_pairs").cast("double")
                / (F.col("n") * (F.col("n") - 1) / 2).cast("double")
            ).alias("reduction"),
        )
        .orderBy("scheme")
    )


Q307_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(n_chars // {BLOCK_LEN_BAND} AS VARCHAR) AS len_band,
         string_split(lower(text), ' ')[1] AS first_token,
         substring(lower(text), 1, 4) AS prefix4
  FROM documents
),
truth_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({Q302_SQL}) q302
),
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs FROM truth_pairs
),
dup_pairs AS (
  SELECT a.len_band = b.len_band AS same_len,
         a.first_token = b.first_token AS same_ft,
         a.prefix4 = b.prefix4 AS same_p4
  FROM truth_pairs t
  JOIN keyed a ON a.doc_id = t.doc_a
  JOIN keyed b ON b.doc_id = t.doc_b
),
covered AS (
  SELECT CAST(coalesce(sum(CASE WHEN same_len THEN 1 END), 0) AS BIGINT)
           AS len_band,
         CAST(coalesce(sum(CASE WHEN same_ft THEN 1 END), 0) AS BIGINT)
           AS first_token,
         CAST(coalesce(sum(CASE WHEN same_p4 THEN 1 END), 0) AS BIGINT)
           AS prefix4
  FROM dup_pairs
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed),
per AS (
  SELECT 'len_band' AS scheme, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_cand_pairs
  FROM (SELECT count(*) AS c FROM keyed GROUP BY len_band)
  UNION ALL
  SELECT 'first_token', CAST(count(*) AS BIGINT),
         CAST(sum(c * (c - 1) / 2) AS BIGINT)
  FROM (SELECT count(*) AS c FROM keyed GROUP BY first_token)
  UNION ALL
  SELECT 'prefix4', CAST(count(*) AS BIGINT),
         CAST(sum(c * (c - 1) / 2) AS BIGINT)
  FROM (SELECT count(*) AS c FROM keyed GROUP BY prefix4)
),
cov_long AS (
  SELECT 'len_band' AS scheme, len_band AS n_covered FROM covered
  UNION ALL SELECT 'first_token', first_token FROM covered
  UNION ALL SELECT 'prefix4', prefix4 FROM covered
)
SELECT p.scheme, p.n_blocks, p.n_cand_pairs, t.n_dup_pairs,
       CAST(c.n_covered AS BIGINT) AS n_covered,
       CAST(c.n_covered AS DOUBLE) / CAST(t.n_dup_pairs AS DOUBLE)
         AS recall,
       1.0 - CAST(p.n_cand_pairs AS DOUBLE)
             / CAST(CAST(n.n * (n.n - 1) / 2 AS BIGINT) AS DOUBLE)
         AS reduction
FROM per p JOIN cov_long c ON p.scheme = c.scheme, truth t, nd n
ORDER BY p.scheme
"""


# ---------------------------------------------------------------------------
# q311 — cross-source syndication matrix: q302's verified near-dup
# pairs joined to each document's source, rolled up per (source,
# source) cell — "which sources republish each other" (wire-copy /
# mirror detection, the input to per-source dedup budgets). Cells are
# canonicalized (least/greatest) so A-B and B-A collapse.
# Scale: the truth set is small by construction; two id-keyed joins +
# one bounded rollup on top of the q302 pipeline.
# ---------------------------------------------------------------------------
def q311_syndication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q302_portable_minhash(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("_t"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source_x",
            "source_y",
            "n_pairs",
            (F.col("n_pairs").cast("double") / F.col("_t").cast("double")).alias(
                "pair_share"
            ),
            (F.col("source_x") == F.col("source_y")).alias("within_source"),
        )
        .orderBy(F.desc("n_pairs"), "source_x", "source_y")
    )


Q311_SQL = f"""
WITH truth_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({Q302_SQL}) q302
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS _t FROM truth_pairs)
SELECT least(sa.source, sb.source) AS source_x,
       greatest(sa.source, sb.source) AS source_y,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) AS DOUBLE) / CAST(_t AS DOUBLE) AS pair_share,
       least(sa.source, sb.source) = greatest(sa.source, sb.source)
         AS within_source
FROM truth_pairs t
JOIN documents sa ON sa.doc_id = t.doc_a
JOIN documents sb ON sb.doc_id = t.doc_b, tot
GROUP BY source_x, source_y, _t
ORDER BY n_pairs DESC, source_x, source_y
"""


# ---------------------------------------------------------------------------
# q314 — near-dup cluster rollup: connected components over q302's
# verified pair set (min-label propagation to fixpoint — the pair
# graph is the SMALL verified output, so rounds are few and cheap),
# then the cluster-size histogram and the removable-doc count
# (size - 1 per cluster, keep-lowest-id survivorship). Completes the
# dedup story: pairs (q302) -> sources (q311) -> clusters + savings.
# Oracle: recursive-CTE transitive min-label on the same pair set —
# the EXACT closure, so the Spark side must reach the fixpoint or
# fail loudly (never exit unconverged with split clusters).
# ---------------------------------------------------------------------------
CLUSTER_ROUNDS = 16


def q314_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q302_portable_minhash(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(CLUSTER_ROUNDS):
        nb_min = (
            edges.join(labels, edges.doc_a == labels.node)
            .groupBy(F.col("doc_b").alias("node2"))
            .agg(F.min("label").alias("nb_label"))
        )
        nxt = (
            labels.join(nb_min, labels.node == nb_min.node2, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            nxt.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .take(1)
        )
        labels = nxt
        if not changed:
            converged = True
            break
    if not converged:
        # The oracle computes the exact transitive closure; an
        # unconverged propagation would silently split clusters with
        # diameter > CLUSTER_ROUNDS (plausible in boilerplate-heavy
        # corpora). Fail loudly instead — same discipline as q288's
        # assert_true cap.
        raise RuntimeError(
            f"q314: min-label propagation did not converge within "
            f"{CLUSTER_ROUNDS} rounds (pair-graph diameter too large); "
            f"raise CLUSTER_ROUNDS or switch to pointer-doubling"
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum(F.col("size") - 1).cast("bigint").alias("docs_removable"),
        )
        .orderBy("size")
    )


Q314_SQL = f"""
WITH RECURSIVE truth_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({Q302_SQL}) q302
),
cedges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM truth_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM truth_pairs
),
reach(node, label) AS (
  SELECT DISTINCT doc_a, doc_a FROM cedges
  UNION
  SELECT e.doc_b, r.label
  FROM reach r JOIN cedges e ON e.doc_a = r.node
  WHERE r.label < e.doc_b
),
comp AS (
  SELECT node, min(label) AS label FROM reach GROUP BY node
),
sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY label
)
SELECT size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(size - 1) AS BIGINT) AS docs_removable
FROM sizes
GROUP BY size
ORDER BY size
"""


# ---------------------------------------------------------------------------
# q317 — Fellegi–Sunter record-linkage weights: for four comparison
# fields (lang, exact length, first token, 4-char prefix) estimate
# m_k = P(field agrees | duplicate)   from q302's verified truth pairs
# u_k = P(field agrees | non-dup)     from a DETERMINISTIC random pair
#       sample (docs grouped into portable-mix buckets of ~2*FS_BUCKET
#       docs; within-bucket pairs are an unbiased pair sample because
#       the bucketing is hash-random; truth pairs anti-joined out)
# and emit the classic agreement/disagreement log-weights
# ln(m/u) / ln((1-m)/(1-u)) — what a linkage scorer adds per matching
# field. The probabilistic-linkage layer over q307's deterministic
# blocking comparison.
# Scale: the u-sample is |docs| * FS_BUCKET pairs (linear, bucket-
# bounded); truth pairs are small; one 4-row output.
# ---------------------------------------------------------------------------
FS_BUCKETS_DIV = 25  # target bucket size ~ |docs| / (|docs|/25) = 25
FS_BUCKET_CAP = FS_BUCKETS_DIV * 20  # loud guard: 20x the target size


def _fs_fields(docs: DataFrame) -> DataFrame:
    t = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("f_lang"),
        F.col("n_chars").cast("bigint").alias("f_len"),
        F.split(t, " ").getItem(0).alias("f_tok"),
        F.substring(t, 1, 4).alias("f_pre"),
    )


def q317_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import mix_spark

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    fields = _fs_fields(docs).localCheckpoint()
    truth = q302_portable_minhash(spark, sf_dir).select("doc_a", "doc_b")
    fa = fields.select(*[F.col(c).alias(c + "_a") for c in fields.columns])
    fb = fields.select(*[F.col(c).alias(c + "_b") for c in fields.columns])

    def agree_flags(df):
        return df.select(
            (F.col("f_lang_a") == F.col("f_lang_b")).cast("bigint").alias("lang"),
            (F.col("f_len_a") == F.col("f_len_b")).cast("bigint").alias("len"),
            (F.col("f_tok_a") == F.col("f_tok_b")).cast("bigint").alias("tok"),
            (F.col("f_pre_a") == F.col("f_pre_b")).cast("bigint").alias("pre"),
        )

    m_pairs = agree_flags(
        truth.join(fa, truth.doc_a == fa.doc_id_a).join(
            fb, truth.doc_b == fb.doc_id_b
        )
    )
    # plan-side sizing (VERDICT r10 #8 — no driver-side count()):
    # n_buckets = max(|fields| // FS_BUCKETS_DIV, 1) as a 1-row
    # broadcast, identical to the oracle's nb CTE. The realized max
    # bucket size then gets a q221-style loud guard: if the doc_id mix
    # ever degenerated, the u-sample pair join would silently go
    # quadratic — fail instead.
    nb = fields.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / F.lit(FS_BUCKETS_DIV)).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("_nb")
    )
    bucketed = (
        fields.crossJoin(F.broadcast(nb))
        .withColumn("bkt", F.expr(mix_spark("doc_id")) % F.col("_nb"))
        .drop("_nb")
    )
    guard = bucketed.groupBy("bkt").agg(F.count(F.lit(1)).alias("_g")).agg(
        F.max("_g").alias("_gmax")
    )
    bucketed = (
        bucketed.crossJoin(F.broadcast(guard))
        .where(
            F.assert_true(
                F.col("_gmax") <= FS_BUCKET_CAP,
                F.lit(
                    "q317: hash bucket exceeds FS_BUCKET_CAP — "
                    "doc_id mix degenerated; resize before the pair join"
                ),
            ).isNull()
        )
        .drop("_gmax")
    )
    ba = bucketed.select(
        F.col("bkt"), *[F.col(c).alias(c + "_a") for c in fields.columns]
    )
    bb = bucketed.select(
        F.col("bkt"), *[F.col(c).alias(c + "_b") for c in fields.columns]
    )
    sample = (
        ba.join(bb, "bkt")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .join(
            truth,
            (F.col("doc_id_a") == truth.doc_a)
            & (F.col("doc_id_b") == truth.doc_b),
            "left_anti",
        )
    )
    u_pairs = agree_flags(sample)

    def rates(df, label):
        # add-half smoothing: keeps m/u strictly inside (0, 1) so the
        # log-weights are finite even when a field agrees on every
        # (or no) pair — identical arithmetic in the oracle
        n = F.count(F.lit(1))
        return df.agg(
            F.lit(label).alias("_side"),
            n.cast("bigint").alias("n_pairs"),
            *[
                (
                    (F.sum(c) + F.lit(0.5)) / (n.cast("double") + F.lit(1.0))
                ).alias(c)
                for c in ("lang", "len", "tok", "pre")
            ],
        )

    m_r = rates(m_pairs, "m")
    u_r = rates(u_pairs, "u")
    wide = m_r.select(
        F.col("n_pairs").alias("n_dup_pairs"),
        *[F.col(c).alias("m_" + c) for c in ("lang", "len", "tok", "pre")],
    ).crossJoin(
        F.broadcast(
            u_r.select(
                F.col("n_pairs").alias("n_sample_pairs"),
                *[F.col(c).alias("u_" + c) for c in ("lang", "len", "tok", "pre")],
            )
        )
    )
    rows = []
    for c in ("lang", "len", "tok", "pre"):
        m, u = F.col("m_" + c), F.col("u_" + c)
        rows.append(
            F.struct(
                F.lit(c).alias("field"),
                "n_dup_pairs",
                "n_sample_pairs",
                m.alias("m"),
                u.alias("u"),
                F.round(F.log(m / u), 8).alias("w_agree"),
                F.round(F.log((1 - m) / (1 - u)), 8).alias("w_disagree"),
            )
        )
    return (
        wide.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("field")
    )


def _fs_sql() -> str:
    from ..functions.hashing import mix_duck

    flds = ("lang", "len", "tok", "pre")
    m_cols = ", ".join(
        f"(sum(a_{c}) + 0.5) / (CAST(count(*) AS DOUBLE) + 1.0) AS m_{c}"
        for c in flds
    )
    u_cols = ", ".join(
        f"(sum(a_{c}) + 0.5) / (CAST(count(*) AS DOUBLE) + 1.0) AS u_{c}"
        for c in flds
    )
    branches = "\n  UNION ALL\n".join(
        f"""  SELECT '{c}' AS field, n_dup_pairs, n_sample_pairs,
         m_{c} AS m, u_{c} AS u,
         round(ln(m_{c} / u_{c}), 8) AS w_agree,
         round(ln((1 - m_{c}) / (1 - u_{c})), 8) AS w_disagree
  FROM wide"""
        for c in flds
    )
    return f"""
WITH fields AS MATERIALIZED (
  SELECT doc_id, lang AS f_lang, CAST(n_chars AS BIGINT) AS f_len,
         string_split(lower(text), ' ')[1] AS f_tok,
         substring(lower(text), 1, 4) AS f_pre
  FROM documents
),
nb AS (SELECT greatest(count(*) // {FS_BUCKETS_DIV}, 1) AS n_buckets
       FROM fields),
truth_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({{q302}}) q302
),
m_pairs AS (
  SELECT CAST(a.f_lang = b.f_lang AS BIGINT) AS a_lang,
         CAST(a.f_len = b.f_len AS BIGINT) AS a_len,
         CAST(a.f_tok = b.f_tok AS BIGINT) AS a_tok,
         CAST(a.f_pre = b.f_pre AS BIGINT) AS a_pre
  FROM truth_pairs t
  JOIN fields a ON a.doc_id = t.doc_a
  JOIN fields b ON b.doc_id = t.doc_b
),
bucketed AS MATERIALIZED (
  SELECT f.*, ({mix_duck("doc_id")}) % (SELECT n_buckets FROM nb) AS bkt
  FROM fields f
),
u_pairs AS (
  SELECT CAST(a.f_lang = b.f_lang AS BIGINT) AS a_lang,
         CAST(a.f_len = b.f_len AS BIGINT) AS a_len,
         CAST(a.f_tok = b.f_tok AS BIGINT) AS a_tok,
         CAST(a.f_pre = b.f_pre AS BIGINT) AS a_pre
  FROM bucketed a JOIN bucketed b
    ON a.bkt = b.bkt AND a.doc_id < b.doc_id
  LEFT JOIN truth_pairs t
    ON t.doc_a = a.doc_id AND t.doc_b = b.doc_id
  WHERE t.doc_a IS NULL
),
m_r AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs, {m_cols}
        FROM m_pairs),
u_r AS (SELECT CAST(count(*) AS BIGINT) AS n_sample_pairs, {u_cols}
        FROM u_pairs),
wide AS (SELECT * FROM m_r, u_r)
SELECT * FROM (
{branches}
)
ORDER BY field
"""


Q317_SQL = _fs_sql().format(q302=Q302_SQL)


# ---------------------------------------------------------------------------
# q319 — ENGINE-PORTABLE SimHash near-dup pairs: q45's pigeonhole
# structure (band the signature, candidates share a band, verify exact
# Hamming) rebuilt on the q302 portable word hash so the WHOLE
# pipeline is int64 arithmetic with an ANSI-SQL twin — the second
# rows-only dedup family to gain a hash-graded sibling. 56-bit
# signature: bit j = sign of Σ_words (2*bit_j(word_hash) − 1); bands =
# 8 x 7 bits, so any pair within Hamming distance 3 shares at least
# one intact band — pigeonhole-exact for d <= 3 UP TO the
# PMH_BUCKET_CAP drop (a true d<=3 pair whose intact bands all land
# in oversized buckets is discarded on BOTH engines, so oracle parity
# holds; q324's cap audit grades the drop volume). Verify =
# bit_count(xor) <= SIMHASH_D on candidates.
# Signature width: 56 bits from TWO portable lanes — lane 1 = bits of
# the word hash, lane 2 = bits of (wh * KNUTH) % P (independent mix,
# still int64-exact). A 28-bit single-lane prototype admitted ~2.7k
# hamming<=3 pairs on 500 docs (random collisions — short docs give
# simhash few votes); at 56 bits the d<=3 ball is ~2^-56 * C(56,<=3)
# of the space and survivors are genuine near-dups.
# Scale: one explode + ONE 56-conditional-sum aggregate per doc (pure
# JVM codegen, no HOF interpretation), band join with the q302 bucket
# cap, integer-only end to end.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 56
SIMHASH_LANE = 28
SIMHASH_BANDS = 8
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_D = 3
SIMHASH_K2 = 2654435761  # lane-2 multiplier (wh < 2^31 -> product < 2^63)


def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): the 56-bit two-lane portable SimHash signature —
    q319's pair join and q324's cap audit both ride this."""
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN length(w) > 0 THEN "
            "CAST((((length(w) * 31 + ascii(substring(w, 1, 1))) * 31 "
            " + ascii(substring(w, CAST((length(w) + 1) div 2 AS INT), 1)))"
            " * 31 + ascii(substring(w, length(w), 1)))"
            f" % {PMH_P} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("wh"),
    )
    words = words.withColumn(
        "wh2", (F.col("wh") * F.lit(SIMHASH_K2)) % F.lit(PMH_P)
    )

    def _vote(j: int):
        src = F.col("wh") if j < SIMHASH_LANE else F.col("wh2")
        return F.sum(
            F.shiftright(src, j % SIMHASH_LANE).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"v{j}")

    votes = words.groupBy("doc_id").agg(
        *[_vote(j) for j in range(SIMHASH_BITS)]
    )
    return votes.select(
        "doc_id",
        sum(
            F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        )
        .cast("bigint")
        .alias("sig"),
    )


def _simhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key): 8 x 7-bit band rows of the q319 signature
    (the Spark twin of _simhash_sql's ``bands`` CTE)."""
    return sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), k * SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                    .cast("bigint")
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    ).select("doc_id", "band", "key")


def q319_portable_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = _simhash_sigs(docs).localCheckpoint()
    kept = _pmh_kept_bands(_simhash_bands(sig))
    a = kept.select("band", "key", F.col("doc_id").alias("doc_a"))
    b = kept.select("band", "key", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_D)
        .orderBy("doc_a", "doc_b")
    )


def _simhash_sql() -> str:
    vote_cols = ", ".join(
        f"sum((({'wh' if j < SIMHASH_LANE else 'wh2'}"
        f" >> {j % SIMHASH_LANE}) & 1) * 2 - 1) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    band_exprs = ", ".join(
        f"(sig >> {k * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        for k in range(SIMHASH_BANDS)
    )
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
),
wh0 AS (
  SELECT doc_id,
         CASE WHEN length(word) > 0 THEN
           CAST((((length(word) * 31 + ascii(word[1:1])) * 31
                  + ascii(word[(length(word) + 1) // 2
                               : (length(word) + 1) // 2]))
                 * 31 + ascii(word[length(word):length(word)]))
                % {PMH_P} AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS wh
  FROM w
),
wh AS (SELECT doc_id, wh, (wh * {SIMHASH_K2}) % {PMH_P} AS wh2 FROM wh0),
votes AS (SELECT doc_id, {vote_cols} FROM wh GROUP BY doc_id),
sig AS MATERIALIZED (
  SELECT doc_id, CAST({sig_expr} AS BIGINT) AS sig FROM votes
),
bands AS (
  SELECT doc_id,
         unnest([{band_exprs}]) AS key,
         unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band
  FROM sig
),
kept AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, key FROM bands GROUP BY band, key
        HAVING count(*) <= {PMH_BUCKET_CAP}) s USING (band, key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b USING (band, key)
  WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.sig, sb.sig)) <= {SIMHASH_D}
ORDER BY doc_a, doc_b
"""


Q319_SQL = _simhash_sql()


def _simhash_band_ctes() -> str:
    """The q319 CTE chain up to ``bands`` (w -> wh0 -> wh -> votes ->
    sig -> bands), reused verbatim by q324's simhash audit arm."""
    head = Q319_SQL.split("\nkept AS (", 1)[0]
    return head.replace("\nWITH ", "", 1).rstrip().rstrip(",")


Q324_SQL = f"""
SELECT * FROM (
  SELECT * FROM {_cap_audit_sql("minhash", _pmh_base_ctes())}
  UNION ALL
  SELECT * FROM {_cap_audit_sql("simhash", _simhash_band_ctes())}
) ORDER BY family
"""


# ---------------------------------------------------------------------------
# q339 — near-dup family agreement eval, cross-engine graded: q319's
# SimHash pair set measured against q302's verified-Jaccard truth —
# QUALITY.md's "23/25 of the truth" row becomes a driver-verified
# NUMBER (the q321/q326 trick applied to the dedup family). Both pair
# chains run in isolated WITH scopes (the q324 pattern); precision is
# "SimHash pairs confirmed by Jaccard truth", recall is "truth pairs
# SimHash finds" — the two dials a 100 TB pipeline tunes banding
# against before committing to the cheaper one-aggregate signature.
# ---------------------------------------------------------------------------
def q339_neardup_family_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = q302_portable_minhash(spark, sf_dir).select("doc_a", "doc_b")
    sim = q319_portable_simhash(spark, sf_dir).select("doc_a", "doc_b")
    n_t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_s = sim.agg(F.count(F.lit(1)).cast("bigint").alias("n_simhash"))
    n_c = truth.join(sim, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return (
        n_t.crossJoin(n_s)
        .crossJoin(n_c)
        .select(
            "n_truth",
            "n_simhash",
            "n_common",
            F.round(
                F.col("n_common") / F.col("n_simhash").cast("double"), 4
            ).alias("precision_vs_truth"),
            F.round(
                F.col("n_common") / F.col("n_truth").cast("double"), 4
            ).alias("recall_of_truth"),
        )
    )


Q339_SQL = f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({Q302_SQL}) q302
),
sim AS (
  SELECT doc_a, doc_b FROM ({Q319_SQL}) q319
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common
  FROM truth JOIN sim USING (doc_a, doc_b)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM sim) AS n_simhash,
       n_common,
       round(n_common / CAST((SELECT count(*) FROM sim) AS DOUBLE), 4)
         AS precision_vs_truth,
       round(n_common / CAST((SELECT count(*) FROM truth) AS DOUBLE), 4)
         AS recall_of_truth
FROM c
"""


QUERIES = {
    "q352_crossdomain_dup_matrix": q352_crossdomain_dup_matrix,
    "q302_portable_minhash": q302_portable_minhash,
    "q307_blocking_advisor": q307_blocking_advisor,
    "q311_syndication_matrix": q311_syndication_matrix,
    "q314_dup_cluster_stats": q314_dup_cluster_stats,
    "q317_fellegi_sunter": q317_fellegi_sunter,
    "q319_portable_simhash": q319_portable_simhash,
    "q322_incremental_neardup": q322_incremental_neardup,
    "q323_band_index_growth": q323_band_index_growth,
    "q324_bucket_cap_audit": q324_bucket_cap_audit,
    "q338_containment_pairs": q338_containment_pairs,
    "q339_neardup_family_eval": q339_neardup_family_eval,
    "q44_minhash_neardup": q44_minhash_neardup,
    "q45_simhash_neardup": q45_simhash_neardup,
    "q76_dedup_clusters": q76_dedup_clusters,
    "q85_dedup_corpus": q85_dedup_corpus,
    "q186_incremental_dedup": q186_incremental_dedup,
    "q215_fuzzy_blocked_dedup": q215_fuzzy_blocked_dedup,
    "q223_fuzzy_survivorship": q223_fuzzy_survivorship,
    "q230_lsh_param_advisor": q230_lsh_param_advisor,
    "q253_canonical_dedup": q253_canonical_dedup,
    "q283_snm_dedup": q283_snm_dedup,
}

ORACLE: dict[str, str] = {
    "q352_crossdomain_dup_matrix": Q352_SQL,
    "q302_portable_minhash": Q302_SQL,
    "q307_blocking_advisor": Q307_SQL,
    "q311_syndication_matrix": Q311_SQL,
    "q314_dup_cluster_stats": Q314_SQL,
    "q317_fellegi_sunter": Q317_SQL,
    "q319_portable_simhash": Q319_SQL,
    "q322_incremental_neardup": Q322_SQL,
    "q323_band_index_growth": Q323_SQL,
    "q324_bucket_cap_audit": Q324_SQL,
    "q338_containment_pairs": Q338_SQL,
    "q339_neardup_family_eval": Q339_SQL,
    "q223_fuzzy_survivorship": Q223_SQL,
    "q253_canonical_dedup": Q253_SQL,
    "q283_snm_dedup": Q283_SQL,
    "q230_lsh_param_advisor": Q230_SQL,
    "q76_dedup_clusters": Q76_SQL,
    "q186_incremental_dedup": Q186_SQL,
    "q215_fuzzy_blocked_dedup": Q215_SQL,
    "q85_dedup_corpus": Q85_SQL.format(
        q41=_Q41_SQL.replace("ORDER BY id_a, id_b", "")
    ),
}
