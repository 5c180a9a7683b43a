"""Round-16 optimization equivalence locks.

Every r16 rewrite is an OUTPUT-IDENTICAL restructuring of an existing
operator (q294 LPA, q312 HITS, q305 bootstrap, q350 DSIR, q346/q366
SemDeDup, q347 NN-descent). Each test here pins the rewritten path
against the pre-r16 reference implementation, inlined verbatim, so a
future edit that breaks the equivalence argument fails loudly instead
of drifting the graded output.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.functions.hashing import (
    HASH_MOD,
    mix_spark,
)
from generative_ai_vector_db_spark.operators import corpus, graph, stats, vector
from generative_ai_vector_db_spark.tables import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# q294 — mode(label, true) must equal the count + row_number(c DESC,
# label ASC) reference: Spark's deterministic mode returns the LOWEST
# value among the most frequent, exactly this operator's tie rule.
# ---------------------------------------------------------------------------
def test_q294_mode_equals_count_rownumber_reference(spark, sf_dir):
    edges = graph._copurchase_edges(spark, sf_dir).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(graph.LPA_ROUNDS):
        nb = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node2").orderBy(F.desc("c"), F.asc("label"))
        labels = (
            nb.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("node2").alias("node"), "label")
            .localCheckpoint()
        )
    ref = (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("community_size"))
        .select(
            F.col("label").cast("bigint").alias("community"), "community_size"
        )
        .where(F.col("community_size") >= 2)
    )
    got = graph.q294_label_propagation(spark, sf_dir)
    assert _rows(got) == _rows(ref)


# ---------------------------------------------------------------------------
# q312 — moving the per-half-round checkpoint from the renormalized
# frame to the raw aggregate is plan-only: integer state, bit-equal.
# ---------------------------------------------------------------------------
def test_q312_raw_checkpoint_output_identical(spark, sf_dir):
    ed = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    hubs = (
        ed.select("s")
        .distinct()
        .select("s", F.lit(1).cast("bigint").alias("h"))
        .localCheckpoint()
    )
    auth = None
    for _ in range(graph.HITS_ITERS):
        araw = (
            ed.join(hubs, "s")
            .groupBy("p")
            .agg(F.sum("h").cast("bigint").alias("ar"))
        )
        atot = araw.agg(F.sum("ar").cast("bigint").alias("_t"))
        auth = (
            araw.crossJoin(F.broadcast(atot))
            .select(
                "p",
                F.expr(f"ar * {graph.HITS_SCALE} div _t")
                .cast("bigint")
                .alias("a"),
            )
            .localCheckpoint()
        )
        hraw = (
            ed.join(auth, "p")
            .groupBy("s")
            .agg(F.sum("a").cast("bigint").alias("hr"))
        )
        htot = hraw.agg(F.sum("hr").cast("bigint").alias("_t"))
        hubs = (
            hraw.crossJoin(F.broadcast(htot))
            .select(
                "s",
                F.expr(f"hr * {graph.HITS_SCALE} div _t")
                .cast("bigint")
                .alias("h"),
            )
            .localCheckpoint()
        )
    deg = ed.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers")
    )
    ref = (
        auth.join(deg, "p")
        .select(
            F.col("p").cast("bigint").alias("partkey"),
            F.col("a").alias("authority_units"),
            "n_suppliers",
        )
        .orderBy(F.desc("authority_units"), "partkey")
        .limit(graph.HITS_TOP)
    )
    got = graph.q312_hits_bipartite(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in ref.collect()
    ]


# ---------------------------------------------------------------------------
# q305 — the one-pass numpy draw must reproduce the B-way fan-out
# reference: same portable mix per (event_id, r), same Poisson
# thresholds, same 8-dp rounded bootstrap means.
# ---------------------------------------------------------------------------
def test_q305_numpy_draw_equals_fanout_reference(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    B = stats.BOOT_B
    reps = spark.range(0, B).select(F.col("id").cast("bigint").alias("r"))
    u_expr = mix_spark(f"event_id * {B} + r")
    fanned = ev.crossJoin(F.broadcast(reps)).withColumn(
        "u", F.expr(u_expr).cast("double") / F.lit(float(HASH_MOD))
    )
    m = (
        F.when(F.col("u") < stats._POIS[0], 0)
        .when(F.col("u") < stats._POIS[1], 1)
        .when(F.col("u") < stats._POIS[2], 2)
        .when(F.col("u") < stats._POIS[3], 3)
        .otherwise(4)
        .cast("bigint")
    )
    per = (
        fanned.withColumn("m", m)
        .groupBy("event_type", "r")
        .agg(
            F.round(
                F.sum(F.col("m").cast("double") * F.col("value"))
                / F.sum("m").cast("double"),
                8,
            ).alias("bmean")
        )
    )
    w = Window.partitionBy("event_type").orderBy("bmean", "r")
    ranked = per.withColumn("rk", F.row_number().over(w))
    base = ev.groupBy("event_type").agg(F.avg("value").alias("mean_value"))
    ci = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rk") == stats._LO_RANK, F.col("bmean"))).alias(
            "ci_lo"
        ),
        F.min(F.when(F.col("rk") == stats._HI_RANK, F.col("bmean"))).alias(
            "ci_hi"
        ),
    )
    ref = (
        base.join(ci, "event_type")
        .select("event_type", "mean_value", "ci_lo", "ci_hi")
        .orderBy("event_type")
    )
    got = stats.q305_poisson_bootstrap(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in ref.collect()
    ]


# ---------------------------------------------------------------------------
# q350 — per-(doc, bucket) count compression: sum(c*lw)/sum(c) over
# compressed counts must reproduce per-token sum(lw)/count(*) after
# the declared 4-dp round.
# ---------------------------------------------------------------------------
def test_q350_grouped_importance_equals_pertoken_reference(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).where(F.col("w") != "")
    toks = toks.select(
        "doc_id",
        "lang",
        F.expr(
            corpus._DSIR_HASH_SPARK.format(b=corpus.DSIR_BUCKETS)
        ).alias("bucket"),
    )
    is_t = F.col("lang") == corpus.DSIR_TARGET_LANG
    counts = toks.groupBy("bucket").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("ct"),
        F.count(F.lit(1)).cast("bigint").alias("cr"),
    )
    totals = counts.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1) / (F.col("tt") + corpus.DSIR_BUCKETS))
            - F.log((F.col("cr") + 1) / (F.col("tr") + corpus.DSIR_BUCKETS))
        ).alias("lw"),
    )
    scored = (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("lw") / F.count(F.lit(1)), 4).alias("importance"),
        )
    )
    w = Window.orderBy(F.col("importance").desc(), "doc_id")
    ref = (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= corpus.DSIR_TOP)
        .select("rank", "doc_id", "lang", "n_tokens", "importance")
        .orderBy("rank")
    )
    got = corpus.q350_dsir_importance(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in ref.collect()
    ]


# ---------------------------------------------------------------------------
# q346/q366 — the grouped numpy gram prefilter + exact rescore must
# reproduce the within-cell self-join pair scan bit-for-bit.
# ---------------------------------------------------------------------------
def _semdedup_selfjoin_reference(spark, emb, n_cells, name):
    from generative_ai_vector_db_spark.functions import vectors as V

    cells = vector._ivf_assign_n(emb, n_cells)
    assigned = emb.join(cells, "vec_id").localCheckpoint()
    withcell = vector._guard_blocks(
        assigned, "cell", name, vector.SEMDEDUP_CELL_CAP
    )
    a = withcell.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("cell").alias("cell_a"),
    )
    b = withcell.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("cell").alias("cell_b"),
    )
    cos = V.cosine_arrow()
    pairs = (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_b",
            F.round(cos(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min(vector.SEMDEDUP_TAUS))
        .localCheckpoint()
    )
    taus = spark.createDataFrame(
        [(t,) for t in vector.SEMDEDUP_TAUS], "tau double"
    )
    n_docs = withcell.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    swept = pairs.crossJoin(F.broadcast(taus)).where(
        F.col("cos_sim") >= F.col("tau")
    )
    return (
        swept.groupBy("tau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("docs_removed"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tau",
            "n_pairs",
            "docs_removed",
            F.round(
                F.col("docs_removed") / F.col("n_docs").cast("double"), 4
            ).alias("removed_frac"),
        )
    )


def test_semdedup_grouped_pairs_equal_selfjoin_reference(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    for nc in vector._semdedup_rungs(n):
        ref = _semdedup_selfjoin_reference(
            spark, emb, nc, "test_semdedup_ref"
        )
        got = vector._semdedup_tau_curve(
            spark, emb, nc, "test_semdedup_got"
        )
        assert _rows(got) == _rows(ref), f"rung n_cells={nc}"


# ---------------------------------------------------------------------------
# q347 — the fused topR aggregate (array_sort over struct(-dot, v) +
# slice) must reproduce the row_number window reference per refine
# round, so the whole NN-descent edge list stays bit-identical.
# ---------------------------------------------------------------------------
def test_q347_fused_topr_equals_window_reference(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = vector._int8_codes(emb).select("vec_id", "code")

    def topr_window_ref(scored):
        w = Window.partitionBy("u").orderBy(F.col("dot").desc(), F.col("v"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= vector.NNG_R)
            .select("u", "v")
        )

    def nng_graph_ref(codes):
        ids = codes.select("vec_id")
        mx = ids.agg((F.max("vec_id") + 1).alias("_n"))
        init = (
            ids.crossJoin(F.broadcast(mx))
            .select(
                F.col("vec_id").alias("u"),
                F.explode(
                    F.array(
                        *[
                            (F.col("vec_id") + F.lit(j * vector.NNG_STRIDE))
                            % F.col("_n")
                            for j in range(1, vector.NNG_R + 1)
                        ]
                    )
                ).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .join(ids.select(F.col("vec_id").alias("v")), "v", "semi")
        )
        g = topr_window_ref(
            vector._nng_score(init, codes)
        ).localCheckpoint()
        for _ in range(vector.NNG_ROUNDS):
            fwd = g
            rev = g.select(F.col("v").alias("u"), F.col("u").alias("v"))
            a = g.select(F.col("u").alias("u"), F.col("v").alias("_m"))
            b = g.select(F.col("u").alias("_m"), F.col("v").alias("v"))
            hop = (
                a.join(b, "_m")
                .select("u", "v")
                .where(F.col("u") != F.col("v"))
            )
            cand = (
                fwd.unionByName(rev)
                .unionByName(hop)
                .dropDuplicates(["u", "v"])
            )
            g = topr_window_ref(
                vector._nng_score(cand, codes)
            ).localCheckpoint()
        return g

    ref = _rows(nng_graph_ref(codes))
    got = _rows(vector._nng_graph(codes))
    assert got == ref


# ---------------------------------------------------------------------------
# ADVICE r16: the ring init repeats a candidate whenever max(vec_id)+1
# divides d*NNG_STRIDE for some d < NNG_R. With 2*NNG_STRIDE ids,
# offsets j and j+2 land on the same v, so every node draws one v three
# times; _nng_graph must still equal the set-semantics reference.
# ---------------------------------------------------------------------------
def test_nng_graph_dedups_colliding_ring_init(spark):
    from collections import defaultdict

    import numpy as np

    n, R, S = 2 * vector.NNG_STRIDE, vector.NNG_R, vector.NNG_STRIDE
    C = np.random.default_rng(7).integers(-127, 128, size=(n, 8))
    codes = spark.createDataFrame(
        [(u, [int(x) for x in C[u]]) for u in range(n)],
        "vec_id bigint, code array<bigint>",
    )
    ring = [(u + j * S) % n for u in range(n) for j in range(1, R + 1)]
    ring = [(u, v) for u, v in zip(np.repeat(range(n), R), ring) if u != v]
    assert len(ring) > len(set(ring))  # the collision is real

    def topr(cand):
        return {
            u: sorted(vs, key=lambda v: (-int(C[u] @ C[v]), v))[:R]
            for u, vs in cand.items()
        }

    init = defaultdict(set)
    for u, v in ring:
        init[u].add(v)
    g = topr(init)
    for _ in range(vector.NNG_ROUNDS):
        cand = defaultdict(set)
        for u, vs in g.items():
            for m in vs:
                cand[u].add(m)
                cand[m].add(u)
                cand[u].update(v for v in g.get(m, []) if v != u)
        g = topr(cand)
    want = sorted((int(u), int(v)) for u, vs in g.items() for v in vs)
    got = sorted((r.u, r.v) for r in vector._nng_graph(codes).collect())
    assert got == want


# ---------------------------------------------------------------------------
# ADVICE r15: _nng_score's array<tinyint> narrowing is exact only for
# _int8_codes output — lock the [-127, 127] range invariant.
# ---------------------------------------------------------------------------
def test_int8_codes_within_tinyint_bounds(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = vector._int8_codes(emb).select("vec_id", "code")
    bounds = codes.select(
        F.array_min("code").alias("lo"), F.array_max("code").alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
    row = bounds.collect()[0]
    assert row.lo >= -127 and row.hi <= 127, (row.lo, row.hi)
