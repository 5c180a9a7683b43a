"""Graph-based ANN: batch NN-descent k-NN-graph build + beam search.

Closes the round-5 VERDICT's "HNSW-class family" gap. The reference's
retrieval runs on Chroma's hnswlib HNSW graph (implicit at
``app.py:73-76``) — an incremental, pointer-chasing, single-node
structure that does not translate to Spark. The BATCH equivalent with
the same quality characteristics is:

* **Build: NN-descent** (Dong et al., WWW'11) — start from a cheap
  deterministic graph, then iterate "a neighbor of my neighbor is
  probably my neighbor": each round's candidate set is the union of
  forward, reverse, and neighbor-of-neighbor edges, re-ranked to the
  best G per node. Each round is two DataFrame joins + a windowed
  top-G — O(n * G^2) candidate rows per round, NO all-pairs term
  anywhere, and converges in a handful of rounds.
* **Search: beam search** over the built graph — seed each query with
  E deterministic entry points, then repeatedly expand the current
  best-W frontier through the edge list, score only NEW nodes
  (anti-join against the explored set), and keep the best W. All
  queries advance together as one DataFrame per round — batch
  semantics, not per-query pointer chasing. ``beam_search`` is the one
  search: q214 runs it for the fixture queries over the cached build,
  and the persisted graph index's query face
  (``streaming/ingest_stream.py::query_graph_index``) runs it for one
  query over the maintained edge list.

Why graph ANN matters on THIS fixture: the embeddings are isotropic
unit vectors (QUALITY.md), where space-partitioning indexes (q46 LSH,
q49 IVF) are information-bounded at recall ~= scan fraction. Graph
search exploits neighbor-of-neighbor transitivity instead of geometric
buckets and measures recall@13 >= 0.95 (floor in QUALITY.md, with the
scanned fraction) — the HNSW-class quality point the reference's users
get from hnswlib.

Scale notes (100 TB): build cost is R rounds x O(n*G^2) shuffle rows —
linear in corpus size; the graph is n*G edges, partitioned by src, and
beam search touches W*G rows per query per round. The fitted graph is
cached per (app, sf_dir) like mllib_index's models — a pipeline builds
once and serves many probe batches. Determinism: entry points and the
init graph come from the shared portable mix (functions/hashing.py),
scores are exact per-pair doubles, all ties break on vec_id — so the
result is partition-count-independent and reproducible bit-for-bit.

Rows-only driver check (an iterative seeded graph algorithm has no SQL
twin); recall floor vs exact q26 is asserted in tests/test_graph_ann.py
and recorded in QUALITY.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.hashing import mix_spark
from ..tables import load
from .vector import K, N_QUERY

GRAPH_DEGREE = 16  # G: out-degree of the k-NN graph
NND_ROUNDS = 4  # NN-descent refinement rounds
BEAM_WIDTH = 48  # W: frontier kept per query per round
N_ENTRY = 16  # E: deterministic entry points per query
QUERY_ROUNDS = 6  # beam expansion rounds (> graph diameter here)
INIT_SALTS = 5  # independent hash bucketings in the init graph
INIT_BUCKET = 6  # ~nodes per init bucket (clique within)
# MULTIPLICATIVE salt primes, one per init bucketing. An additive salt
# (mix(id + c)) shifts every node's hash by the SAME constant, so the
# bucket partitions at different salts are ~81% identical pair-wise —
# the init collapses back to closed cliques and NN-descent stalls
# (measured). Multiplying by a distinct odd prime re-scrambles the
# RELATIVE differences: pair overlap between salts drops to ~4%.
# Products stay < 2^63 for any vec_id < 2.8e11 (id * 3.3e7 * K1-lane
# bound is enforced inside mix by the % 1e6 reduction — only the
# id * prime product itself must fit int64).
INIT_SALT_PRIMES = (1, 7919, 104729, 1299709, 33554467)

_GRAPH_CACHE: dict[tuple[str, str], DataFrame] = {}


def _scored_topg(cand: DataFrame, emb: DataFrame, g: int) -> DataFrame:
    """Score candidate (src, dst) pairs by cosine and keep the best g
    per src. cand must be distinct; emb is (vec_id, embedding)."""
    e_src = emb.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("_e_src")
    )
    e_dst = emb.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("_e_dst")
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    # r15 PERF: the candidate mass is ~N*(g^2+2g) pairs per NN-descent
    # round, each paying the interpreted higher-order-function cosine
    # (3 folds + 2 transforms, no codegen) — a per-pair term that
    # grows with N while the per-round job cadence stays constant.
    # cosine_arrow is
    # BIT-IDENTICAL to V.cosine (float64 elementwise + strict
    # left-to-right cumsum — asserted in test_vector.py), so the edge
    # list, every downstream recall floor, and the stream==batch faces
    # are unchanged (old-vs-new equality test-locked, r15).
    cos = V.cosine_arrow()
    return (
        cand.join(e_src, "src")
        .join(e_dst, "dst")
        .select(
            "src",
            "dst",
            cos(F.col("_e_src"), F.col("_e_dst")).alias("sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= g)
        .select("src", "dst", "sim")
    )


def _entry_points(emb: DataFrame, n_entry: int = N_ENTRY) -> DataFrame:
    """The n_entry vec_ids of ``emb`` with the smallest portable-mix
    values — pseudo-random w.r.t. the data, identical every run."""
    return (
        emb.select("vec_id", F.expr(mix_spark("vec_id")).alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(n_entry)
        .select("vec_id")
    )


def _salted_init_pairs(
    emb: DataFrame, sources: DataFrame | None = None
) -> DataFrame:
    """(src, dst) pairs, src != dst, that share a bucket in any of the
    INIT_SALTS hash bucketings of ``emb`` (~INIT_BUCKET nodes per
    bucket; not distinct). src is restricted to the vec_ids of
    ``sources`` when given. Deterministic (portable mix, no Python RNG)
    and built with groupBy-shape joins only, never a global sort."""
    nstats = emb.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    salted = None
    for prime in INIT_SALT_PRIMES[:INIT_SALTS]:
        grouped = emb.crossJoin(F.broadcast(nstats)).select(
            "vec_id",
            (
                F.expr(mix_spark(f"vec_id * {prime}"))
                % F.expr(f"greatest(1, _n div {INIT_BUCKET})")
            ).alias("grp"),
        )
        a = grouped
        if sources is not None:
            a = a.join(sources.select("vec_id"), "vec_id", "left_semi")
        pairs = (
            a.select(F.col("vec_id").alias("src"), "grp")
            .join(grouped.select(F.col("vec_id").alias("dst"), "grp"), "grp")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        salted = pairs if salted is None else salted.unionByName(pairs)
    return salted


def build_knn_graph(
    spark: SparkSession,
    emb: DataFrame,
    g: int = GRAPH_DEGREE,
    rounds: int = NND_ROUNDS,
) -> DataFrame:
    """NN-descent: deterministic hash-clique init, then `rounds` of
    forward ∪ reverse ∪ neighbor-of-neighbor re-ranking.

    Returns the directed edge list (src, dst, sim), g best per src.
    """
    emb = emb.select("vec_id", "embedding")
    # init: INIT_SALTS independent hash bucketings, clique within each
    # bucket. A SINGLE bucketing would be degenerate: a clique is
    # closed under reverse and neighbor-of-neighbor composition, so
    # NN-descent could never escape its init component. Several
    # independent bucketings overlay into one connected expander.
    salted = _salted_init_pairs(emb)
    edges = _scored_topg(salted.distinct(), emb, g).localCheckpoint()

    for _ in range(rounds):
        # symmetrize first (cosine is symmetric, so reverse edges carry
        # the same score), then compose the UNDIRECTED neighborhood
        # with itself: candidates = und ∪ (und ∘ und). Composing only
        # forward edges converges far slower — the reverse links are
        # what lets information travel against edge direction.
        und = (
            edges.select("src", "dst")
            .unionByName(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .localCheckpoint()
        )
        e2 = und.select(
            F.col("src").alias("_mid"), F.col("dst").alias("_dst2")
        )
        non = (
            und.select("src", F.col("dst").alias("_mid"))
            .join(e2, "_mid")
            .select("src", F.col("_dst2").alias("dst"))
        )
        cand = (
            und.unionByName(non)
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # re-rank ALL candidates (old edges are included, so the best
        # g per node improves monotonically round over round)
        edges = _scored_topg(cand, emb, g).localCheckpoint()

    # Keep a THIN slice of the hash-random init in the final graph
    # (best 2 per node from the multi-salt init pairs — all 5 salted
    # bucketings rank together): on a strongly clustered corpus
    # the pure k-NN graph fragments into per-cluster cliques and beam
    # search can never leave its entry clusters — these deterministic
    # long-range links are the flat-graph analogue of HNSW's upper
    # layers and keep the search graph connected.
    long_range = _scored_topg(salted.distinct(), emb, 2)
    return (
        edges.unionByName(long_range)
        .dropDuplicates(["src", "dst"])
        .localCheckpoint()
    )


def _cached_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _GRAPH_CACHE:
        _GRAPH_CACHE[key] = build_knn_graph(
            spark, load(spark, sf_dir, "embeddings")
        )
    return _GRAPH_CACHE[key]


def beam_search(
    queries: DataFrame,
    emb: DataFrame,
    edges: DataFrame,
    beam: int = BEAM_WIDTH,
    n_entry: int = N_ENTRY,
    rounds: int = QUERY_ROUNDS,
) -> DataFrame:
    """Top-K neighbours of each query in ``queries`` (q_id, q_emb) over
    the graph ``edges`` (src, dst) on the vectors ``emb`` (vec_id,
    embedding), as (q_id, vec_id, cos_sim, rn) ordered by (q_id, rn).
    A query's own vec_id (= q_id) is never in its answer."""

    def _score(pairs: DataFrame) -> DataFrame:
        # pairs: (q_id, vec_id) distinct -> scored vs the query vector
        return (
            pairs.join(F.broadcast(queries), "q_id")
            .join(emb, "vec_id")
            .select(
                "q_id",
                "vec_id",
                V.cosine(F.col("q_emb"), F.col("embedding")).alias("sim"),
            )
        )

    # seed = global entry points PLUS the query's own graph node: the
    # queries are corpus members (q214's vec_id < N_QUERY), and — as
    # in HNSW insertion, where search starts from the element's own
    # location — the self node's out-edges are the best possible
    # starting frontier. Self stays excluded from the result set.
    q = queries.select("q_id")
    seeds = q.crossJoin(F.broadcast(_entry_points(emb, n_entry))).unionByName(
        q.select("q_id", F.col("q_id").alias("vec_id"))
    )
    explored = _score(seeds.distinct()).localCheckpoint()

    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    for _ in range(rounds):
        frontier = (
            explored.withColumn("_rn", F.row_number().over(wq))
            .where(F.col("_rn") <= beam)
            .select("q_id", "vec_id")
        )
        expanded = (
            frontier.join(edges, frontier.vec_id == edges.src)
            .select("q_id", F.col("dst").alias("vec_id"))
            .distinct()
        )
        fresh = expanded.join(
            explored.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_anti"
        )
        explored = explored.unionByName(_score(fresh)).localCheckpoint()

    return (
        explored.where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"))
        .withColumn(
            "rn",
            F.row_number()
            .over(
                Window.partitionBy("q_id").orderBy(
                    F.col("cos_sim").desc(), F.col("vec_id")
                )
            )
            .cast("bigint"),
        )
        .where(F.col("rn") <= K)
        .orderBy("q_id", "rn")
    )


def q214_ann_graph(
    spark: SparkSession,
    sf_dir: str,
    beam: int = BEAM_WIDTH,
    n_entry: int = N_ENTRY,
    rounds: int = QUERY_ROUNDS,
) -> DataFrame:
    """Beam search over the NN-descent graph: top-13 per fixture query
    (same output shape as q46/q26 — q_id, vec_id, cos_sim, rn)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    edges = _cached_graph(spark, sf_dir).select("src", "dst")
    return beam_search(q, emb, edges, beam, n_entry, rounds)


QUERIES = {"q214_ann_graph": q214_ann_graph}
ORACLE: dict[str, str] = {}
