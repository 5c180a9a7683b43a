"""Round-12 operator tests.

Covers the r11-verdict fixes (label-block scale guard on the
q42/q169/q344 pair-join family, q335 modular checksum) and the new
round-12 operators as they land.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from generative_ai_vector_db_spark.tables import load


# --------------------------------------------------------------------------
# Label-block scale guard (q42 / q169 / q344)
# --------------------------------------------------------------------------
def test_guard_label_blocks_trips_on_skew(spark):
    """A label block above the cap must fail the plan LOUDLY."""
    from generative_ai_vector_db_spark.operators import vector

    rows = [(i, [float(i)], "whale" if i < 15 else f"s{i}") for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    guarded = vector._guard_label_blocks(df, "test_op", cap=10)
    with pytest.raises(Exception, match="test_op: label block exceeds"):
        guarded.count()


def test_guard_label_blocks_passthrough(spark):
    """Under the cap the guard is an identity transform."""
    from generative_ai_vector_db_spark.operators import vector

    rows = [(i, [float(i)], f"s{i % 5}") for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    guarded = vector._guard_label_blocks(df, "test_op", cap=10)
    assert guarded.count() == 20
    assert sorted(guarded.columns) == sorted(df.columns)


def test_q344_guard_visible_in_plan(spark, sf_dir):
    """The assert_true cap must be part of the executed plan."""
    from generative_ai_vector_db_spark.operators import vector

    plan = vector.q344_semdedup_threshold_curve(
        spark, sf_dir
    )._jdf.queryExecution().toString()
    assert "assert_true" in plan


def test_q42_q169_guard_visible_in_plan(spark, sf_dir):
    from generative_ai_vector_db_spark.operators import vector

    for fn in (vector.q42_cosine_neardup, vector.q169_threshold_curve):
        plan = fn(spark, sf_dir)._jdf.queryExecution().toString()
        assert "assert_true" in plan, fn.__name__


# --------------------------------------------------------------------------
# q335 modular checksum
# --------------------------------------------------------------------------
def test_q335_checksum_still_matches(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import store

    row = store.q335_idempotent_replay(spark, sf_dir_t2).collect()[0]
    assert row.diff_rows == 0
    assert row.checksum_match is True
    assert row.n_keys_once == row.n_keys_twice


# --------------------------------------------------------------------------
# q346 — SemDeDup threshold curve on IVF cells
# --------------------------------------------------------------------------
def test_q346_reference(spark, sf_dir_t2):
    """Curve recomputed in numpy from the op's own cell assignment."""
    import numpy as np

    from generative_ai_vector_db_spark.operators import vector

    got = vector.q346_semdedup_cells(spark, sf_dir_t2).toPandas()
    emb = (
        load(spark, sf_dir_t2, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    M = np.array(emb["embedding"].tolist(), dtype=np.float64)
    ids = emb["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(Mn @ Mn.T, 4)
    n = len(ids)
    # r14: the op is a rung ladder — re-derive the ladder from the
    # corpus size and check every rung's curve independently
    rungs = vector._semdedup_rungs(n)
    assert sorted(got["n_cells"].unique()) == sorted(rungs)
    for rung in rungs:
        cells = {
            r.vec_id: r.cell
            for r in vector._ivf_assign_n(
                load(spark, sf_dir_t2, "embeddings").select(
                    "vec_id", "embedding"
                ),
                rung,
            ).collect()
        }
        sub = got[got["n_cells"] == rung]
        for _, row in sub.iterrows():
            tau = row["tau"]
            n_pairs, removed = 0, set()
            for i in range(n):
                for j in range(i + 1, n):
                    if cells[ids[i]] != cells[ids[j]]:
                        continue
                    if S[i, j] >= tau:
                        n_pairs += 1
                        removed.add(max(ids[i], ids[j]))
            assert row["n_pairs"] == n_pairs, (rung, tau)
            assert row["docs_removed"] == len(removed), (rung, tau)
            assert row["removed_frac"] == pytest.approx(
                round(len(removed) / n, 4)
            )
        # each rung's curve must be monotone non-increasing in tau
        assert list(sub["n_pairs"]) == sorted(sub["n_pairs"], reverse=True)


def test_q346_guard_visible_in_plan(spark, sf_dir):
    from generative_ai_vector_db_spark.operators import vector

    plan = vector.q346_semdedup_cells(
        spark, sf_dir
    )._jdf.queryExecution().toString()
    assert "assert_true" in plan


# --------------------------------------------------------------------------
# q347/q348 — portable graph ANN
# --------------------------------------------------------------------------
def test_q347_structure(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector

    got = vector.q347_portable_graph_ann(spark, sf_dir_t2).toPandas()
    assert len(got) == vector.K
    assert list(got["rn"]) == list(range(1, vector.K + 1))
    sims = list(got["cos_sim"])
    assert sims == sorted(sims, reverse=True)
    assert vector.BINARY_Q_ID not in set(got["vec_id"])
    # the reported top-k must be the exact re-rank of the visited set
    visited = {
        r.vec_id for r in vector._nng_visited(spark, sf_dir_t2).collect()
    }
    assert set(got["vec_id"]) <= visited


def test_nng_graph_properties(spark, sf_dir_t2):
    """NN-descent invariants: bounded degree, rounds never degrade the
    kept neighbor quality (candidates are a superset of current
    edges, so the per-node top-R dot sum is non-decreasing)."""
    import numpy as np

    from generative_ai_vector_db_spark.operators import vector

    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    codes = vector._int8_codes(emb).select("vec_id", "code")
    g = vector._nng_graph(codes).toPandas()
    deg = g.groupby("u").size()
    assert deg.max() <= vector.NNG_R
    assert (g["u"] != g["v"]).all()
    cp = codes.toPandas().sort_values("vec_id")
    C = np.array(cp["code"].tolist(), dtype=np.int64)
    idx = {v: i for i, v in enumerate(cp["vec_id"])}
    # edge quality: mean kept dot must beat the ring-init mean dot
    kept = np.mean(
        [C[idx[r.u]] @ C[idx[r.v]] for r in g.itertuples()]
    )
    n = len(cp)
    ring = []
    for u in cp["vec_id"]:
        for j in range(1, vector.NNG_R + 1):
            v = (u + j * vector.NNG_STRIDE) % n
            if v != u:
                ring.append(C[idx[u]] @ C[idx[v]])
    assert kept > np.mean(ring)


def test_q348_recall_consistency(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector

    row = vector.q348_graph_ann_recall_eval(spark, sf_dir_t2).collect()[0]
    assert row.k == vector.K
    assert 0.0 <= row.recall <= 1.0
    assert row.n_common == pytest.approx(row.recall * vector.K)
    assert 0 < row.n_visited
    assert 0.0 < row.scan_frac < 1.0
    # beam search must beat blind sampling: recall above scan fraction
    assert row.recall > row.scan_frac


# --------------------------------------------------------------------------
# q349 — IVF nprobe curve
# --------------------------------------------------------------------------
def test_q349_curve_properties(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector

    got = (
        vector.q349_ivf_nprobe_curve(spark, sf_dir_t2)
        .toPandas()
        .sort_values("nprobe")
        .reset_index(drop=True)
    )
    assert list(got["nprobe"]) == vector.IVF_NPROBE_SWEEP
    # recall and scan fraction are monotone non-decreasing in nprobe
    assert list(got["recall"]) == sorted(got["recall"])
    assert list(got["n_cand"]) == sorted(got["n_cand"])
    # full-probe row is the self-check: every cell probed -> recall 1
    full = got[got["nprobe"] == vector.IVF_CELLS].iloc[0]
    assert full["recall"] == pytest.approx(1.0)
    assert full["scan_frac"] == pytest.approx(1.0)
    # the pinned production nprobe (q325) appears on the curve and
    # matches q326's independently-computed recall
    q326 = vector.q326_ivf_recall_eval(spark, sf_dir_t2).collect()[0]
    at4 = got[got["nprobe"] == vector.IVF_NPROBE].iloc[0]
    assert at4["recall"] == pytest.approx(q326.recall)


# --------------------------------------------------------------------------
# q350 — DSIR importance
# --------------------------------------------------------------------------
def test_q350_target_domain_ranks_high(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import corpus

    got = corpus.q350_dsir_importance(spark, sf_dir_t2).toPandas()
    assert len(got) == corpus.DSIR_TOP
    assert list(got["rank"]) == list(range(1, corpus.DSIR_TOP + 1))
    imps = list(got["importance"])
    assert imps == sorted(imps, reverse=True)
    # the selection must be ENRICHED in the target language. The
    # synthetic corpus draws all langs from a heavily shared vocab, so
    # the separation is modest (measured: 66% en in the top-50 vs 44%
    # base rate = 1.5x enrichment; ranks 1-5 all en) — assert the
    # enrichment, not an absolute share the fixture can't support.
    base = (
        load(spark, sf_dir_t2, "documents")
        .toPandas()["lang"]
        .eq(corpus.DSIR_TARGET_LANG)
        .mean()
    )
    en_share = (got["lang"] == corpus.DSIR_TARGET_LANG).mean()
    assert en_share >= 1.3 * base
    assert (got.head(5)["lang"] == corpus.DSIR_TARGET_LANG).all()


def test_q350_importance_reference(spark, sf_dir_t2):
    """Recompute a doc's importance in pure python."""
    import math
    from collections import Counter

    from generative_ai_vector_db_spark.operators import corpus

    docs = load(spark, sf_dir_t2, "documents").select(
        "doc_id", "lang", "text"
    ).toPandas()
    B = corpus.DSIR_BUCKETS

    def bucket(w):
        mid = w[(len(w) + 1) // 2 - 1]
        return (
            ((len(w) * 31 + ord(w[0])) * 31 + ord(mid)) * 31 + ord(w[-1])
        ) % B

    ct, cr = Counter(), Counter()
    for _, row in docs.iterrows():
        for w in row["text"].lower().split(" "):
            if not w:
                continue
            b = bucket(w)
            cr[b] += 1
            if row["lang"] == corpus.DSIR_TARGET_LANG:
                ct[b] += 1
    tt, tr = sum(ct.values()), sum(cr.values())
    lw = {
        b: math.log((ct.get(b, 0) + 1) / (tt + B))
        - math.log((cr[b] + 1) / (tr + B))
        for b in cr
    }
    got = corpus.q350_dsir_importance(spark, sf_dir_t2).toPandas()
    for _, r in got.head(5).iterrows():
        text = docs[docs["doc_id"] == r["doc_id"]]["text"].iloc[0]
        ws = [w for w in text.lower().split(" ") if w]
        imp = sum(lw[bucket(w)] for w in ws) / len(ws)
        assert r["importance"] == pytest.approx(round(imp, 4), abs=1e-4)
        assert r["n_tokens"] == len(ws)


# --------------------------------------------------------------------------
# q351 — hubness audit
# --------------------------------------------------------------------------
def test_q351_histogram_invariants(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector

    got = vector.q351_hubness_audit(spark, sf_dir_t2).toPandas()
    n_total = load(spark, sf_dir_t2, "embeddings").count()
    # histogram masses: all vectors accounted for, all k-NN slots used
    assert got["n_vectors"].sum() == n_total
    occ_mass = (got["occ"] * got["n_vectors"]).sum()
    assert occ_mass == vector.HUB_A * vector.HUB_K
    assert (got["occ"] >= 0).all()
    assert got["occ"].is_unique


# --------------------------------------------------------------------------
# q352 — cross-source dup matrix
# --------------------------------------------------------------------------
def test_q352_matrix_reference(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import dedup

    got = dedup.q352_crossdomain_dup_matrix(spark, sf_dir_t2).toPandas()
    pairs = dedup.q302_portable_minhash(spark, sf_dir_t2).toPandas()
    src = (
        load(spark, sf_dir_t2, "documents")
        .select("doc_id", "source")
        .toPandas()
        .set_index("doc_id")["source"]
    )
    from collections import Counter

    want = Counter()
    for r in pairs.itertuples():
        a, b = src[r.doc_a], src[r.doc_b]
        want[(min(a, b), max(a, b))] += 1
    assert got["n_pairs"].sum() == len(pairs)
    for r in got.itertuples():
        assert want[(r.src_lo, r.src_hi)] == r.n_pairs
        assert r.cross_source == (r.src_lo != r.src_hi)
    assert len(got) == len(want)


# --------------------------------------------------------------------------
# q353 — sampled quantile eval
# --------------------------------------------------------------------------
def test_q353_sample_estimates_close(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import scale

    got = scale.q353_sampled_quantile_eval(spark, sf_dir_t2).toPandas()
    assert list(got["q"]) == scale.SQE_QS
    # ~10% sample rate within 3 sigma binomial tolerance
    n_full = got["n_full"].iloc[0]
    n_samp = got["n_sample"].iloc[0]
    p = n_samp / n_full
    import math

    sigma = math.sqrt(0.1 * 0.9 / n_full)
    assert abs(p - 1.0 / scale.SQE_RATE) < 3 * sigma + 0.01
    # the hash sample is uniform -> quantile estimates land close
    assert (got["rel_err"] < 0.05).all()


# --------------------------------------------------------------------------
# q354 — conformal intervals
# --------------------------------------------------------------------------
def test_q354_coverage_near_target(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import stats

    got = stats.q354_conformal_interval(spark, sf_dir_t2).toPandas()
    assert (got["target"] == 1.0 - stats.CONF_ALPHA).all()
    assert (got["qhat"] >= 0).all()
    # split conformal guarantees E[coverage] >= 1 - alpha; with n_test
    # in the hundreds per type allow binomial noise below target
    import math

    for r in got.itertuples():
        tol = 3 * math.sqrt(0.1 * 0.9 / r.n_test)
        assert r.coverage >= r.target - tol
        # intervals should not be wildly conservative either
        assert r.coverage <= 1.0


# --------------------------------------------------------------------------
# q355 — t-closeness audit
# --------------------------------------------------------------------------
def test_q355_reference(spark, sf_dir_t2):
    import pandas as pd

    from generative_ai_vector_db_spark.operators import quality

    got = quality.q355_tcloseness_audit(spark, sf_dir_t2).toPandas()
    ev = (
        load(spark, sf_dir_t2, "events")
        .select(
            (F.weekday("ts") + 1).alias("iso_dow"),
            F.hour("ts").alias("hour"),
            "event_type",
        )
        .toPandas()
    )
    g = ev.groupby("event_type").size()
    sz_g = len(ev)
    viol_counts = {k: 0 for k in quality.TCLOSE_TS}
    exposed = {k: 0 for k in quality.TCLOSE_TS}
    n_classes = 0
    for (_, _), grp in ev.groupby(["iso_dow", "hour"]):
        n_classes += 1
        sz_c = len(grp)
        c = grp.groupby("event_type").size()
        num = sum(
            abs(int(c.get(t, 0)) * sz_g - int(g[t]) * sz_c) for t in g.index
        )
        for k in quality.TCLOSE_TS:
            if 10 * num > 2 * k * sz_c * sz_g:
                viol_counts[k] += 1
                exposed[k] += sz_c
    for r in got.itertuples():
        k = int(round(r.t * 10))
        assert r.n_classes == n_classes
        assert r.n_violating == viol_counts[k]
        assert r.n_records_exposed == exposed[k]
    # monotone: a looser t admits fewer violations
    assert list(got["n_violating"]) == sorted(got["n_violating"], reverse=True)


# --------------------------------------------------------------------------
# q356 — DoReMi step
# --------------------------------------------------------------------------
def test_q356_update_rule(spark, sf_dir_t2):
    import math

    from generative_ai_vector_db_spark.operators import corpus

    got = corpus.q356_doremi_step(spark, sf_dir_t2).toPandas()
    # shares normalize
    assert got["share_new"].sum() == pytest.approx(1.0, abs=2e-3)
    assert got["share_old"].sum() == pytest.approx(1.0, abs=2e-3)
    # exponentiated-gradient direction: above-average loss -> upweight
    for r in got.itertuples():
        if r.excess_loss > 1e-4:
            assert r.mult > 1.0 - 1e-6, r.source
        elif r.excess_loss < -1e-4:
            assert r.mult < 1.0 + 1e-6, r.source
    # update rule recomputation from the op's own loss column
    z = sum(
        r.share_old * math.exp(corpus.DOREMI_ETA * r.excess_loss)
        for r in got.itertuples()
    )
    for r in got.itertuples():
        w = r.share_old * math.exp(corpus.DOREMI_ETA * r.excess_loss) / z
        assert r.share_new == pytest.approx(w, abs=2e-3)


# --------------------------------------------------------------------------
# q357 — cross-lingual near-dup
# --------------------------------------------------------------------------
def test_q357_pairs_reference(spark, sf_dir_t2):
    import numpy as np

    from generative_ai_vector_db_spark.operators import vector

    got = vector.q357_crosslingual_neardup(spark, sf_dir_t2).toPandas()
    assert len(got) > 0
    assert (got["lang_a"] != got["lang_b"]).all()
    assert (got["cos_sim"] >= vector.XLING_TAU).all()
    assert (got["id_a"] < got["id_b"]).all()
    # every reported pair shares an IVF cell and its cosine is right
    emb = (
        load(spark, sf_dir_t2, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .set_index("vec_id")
    )
    cells = {
        r.vec_id: r.cell
        for r in vector._ivf_assign(
            load(spark, sf_dir_t2, "embeddings").select(
                "vec_id", "embedding"
            )
        ).collect()
    }
    for r in got.head(20).itertuples():
        assert cells[r.id_a] == cells[r.id_b]
        va = np.array(emb.loc[r.id_a, "embedding"], dtype=np.float64)
        vb = np.array(emb.loc[r.id_b, "embedding"], dtype=np.float64)
        cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert r.cos_sim == pytest.approx(round(cos, 4), abs=2e-4)


# --------------------------------------------------------------------------
# q358 — decontamination strictness curve
# --------------------------------------------------------------------------
def test_q358_curve_properties(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import corpus

    got = (
        corpus.q358_decontam_curve(spark, sf_dir_t2)
        .toPandas()
        .sort_values("n")
        .reset_index(drop=True)
    )
    assert list(got["n"]) == corpus.DECONTAM_NS
    # shorter n-grams are strictly easier to match: flagged docs and
    # hit grams must be monotone non-increasing in n
    assert list(got["n_flagged"]) == sorted(got["n_flagged"], reverse=True)
    assert list(got["n_hit_grams"]) == sorted(
        got["n_hit_grams"], reverse=True
    )
    # the gram-universe membership shrinks with n (a doc with fewer
    # than n words yields no n-grams and drops out), so the train-doc
    # count is monotone non-increasing, NOT constant
    assert list(got["n_train_docs"]) == sorted(
        got["n_train_docs"], reverse=True
    )
    # the n=13 row must agree with q119's per-doc audit
    q119 = corpus.q119_ngram_decontam(spark, sf_dir_t2).toPandas()
    flagged_13 = int((q119["n_hits"] > 0).sum())
    assert int(got[got["n"] == 13]["n_flagged"].iloc[0]) == flagged_13


# --------------------------------------------------------------------------
# q359 — mutual-kNN consistency
# --------------------------------------------------------------------------
def test_q359_reference(spark, sf_dir_t2):
    import numpy as np

    from generative_ai_vector_db_spark.operators import vector

    row = vector.q359_mutual_knn(spark, sf_dir_t2).collect()[0]
    emb = (
        load(spark, sf_dir_t2, "embeddings")
        .where(F.col("vec_id") < vector.HUB_A)
        .orderBy("vec_id")
        .toPandas()
    )
    M = np.array(emb["embedding"].tolist(), dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(Mn @ Mn.T, 4)
    np.fill_diagonal(S, -np.inf)
    ids = emb["vec_id"].to_numpy()
    edges = set()
    for i in range(len(ids)):
        order = sorted(
            range(len(ids)), key=lambda j: (-S[i, j], ids[j])
        )[: vector.MUTUAL_K]
        for j in order:
            edges.add((int(ids[i]), int(ids[j])))
    mutual = {(a, b) for (a, b) in edges if (b, a) in edges}
    assert row.n_edges == len(edges)
    assert row.n_mutual == len(mutual)
    assert row.mutual_frac == pytest.approx(
        round(len(mutual) / len(edges), 4)
    )


# --------------------------------------------------------------------------
# q360 — ANN ensemble recall
# --------------------------------------------------------------------------
def test_q360_ensemble_dominates(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector

    row = vector.q360_ann_ensemble_recall(spark, sf_dir_t2).collect()[0]
    # the union is a superset of each index's candidates, so ensemble
    # recall must be >= each individual driver-graded recall
    r_h = vector.q321_hyperplane_recall_eval(spark, sf_dir_t2).collect()[0]
    r_i = vector.q326_ivf_recall_eval(spark, sf_dir_t2).collect()[0]
    assert row.recall >= max(r_h.recall, r_i.recall) - 1e-9
    # union bounds: max(individual) <= n_union <= sum(individual)
    assert max(row.n_hyperplane, row.n_ivf) <= row.n_union
    assert row.n_union <= row.n_hyperplane + row.n_ivf
    assert 0.0 <= row.recall <= 1.0


# --------------------------------------------------------------------------
# q361 — sketch error audit
# --------------------------------------------------------------------------
def test_q361_bounds_hold(spark, sf_dir_t2):
    import math

    from generative_ai_vector_db_spark.operators import scale

    got = scale.q361_sketch_error_audit(spark, sf_dir_t2).toPandas()
    assert len(got) == 5 * 3  # event types x quantiles
    # the DDSketch accuracy contract must hold for every row
    assert got["within_bound"].all()
    lo = math.exp(-1.0 / scale.HIST_SCALE)
    assert (got["shift_ratio"] > lo).all()
    assert (got["shift_ratio"] <= 1.0 + 1e-9).all()
    # sketch values must agree with q168's published sketch quantiles
    q168 = scale.q168_sketch_quantiles(spark, sf_dir_t2).toPandas()
    for _, r in q168.iterrows():
        sub = got[got["event_type"] == r["event_type"]]
        for name in ("p50", "p90", "p99"):
            assert (
                sub[sub["q"] == name]["sketch_v"].iloc[0] == r[name]
            ), (r["event_type"], name)


def test_q347_planted_cluster(spark, tmp_path):
    """On a corpus with REAL cluster structure (the regime graph ANN
    exists for — the fixture tables are isotropic, the worst case),
    the beam search must recover most of the planted neighborhood."""
    import numpy as np

    from generative_ai_vector_db_spark.operators import vector

    rng = np.random.RandomState(7)
    n_bg, n_pl, dim = 480, 19, 64
    bg = rng.standard_normal((n_bg, dim))
    q = rng.standard_normal(dim)
    # planted: query direction + small noise -> the true top-k
    pl = q[None, :] + 0.15 * rng.standard_normal((n_pl, dim))
    M = np.vstack([q[None, :], pl, bg])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    rows = [(i, M[i].tolist(), "x") for i in range(len(M))]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = vector.q347_portable_graph_ann(spark, str(tmp_path)).toPandas()
    planted = set(range(1, n_pl + 1))
    hits = len(set(got["vec_id"]) & planted)
    # measured 10/13 on this seed (int8-quantized dots + finite beam
    # lose a tail member or two); floor set with margin
    assert hits >= 9


# --------------------------------------------------------------------------
# Streaming incremental near-dup (q322's production face)
# --------------------------------------------------------------------------
def _seed_and_batch(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_RESIDUE,
    )

    docs = load(spark, sf_dir_t2, "documents").select("doc_id", "text")
    is_batch = (
        F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_RESIDUE
    )
    return docs.where(~is_batch), docs.where(is_batch)


def _neardup_results(spark, index):
    """The stream's classifications: the index's ``results`` component
    as its latest manifest version lists it."""
    from generative_ai_vector_db_spark import manifest

    m = manifest.latest(spark, index)
    return manifest.read(spark, index, m, "results").select(
        "doc_id", "status", "dup_of", "n_store_matches", "n_batch_matches"
    )


def test_neardup_stream_single_trigger_matches_q322(spark, sf_dir_t2, tmp_path):
    """One micro-batch over the q322 fixture split must reproduce the
    batch operator's classification EXACTLY."""
    from generative_ai_vector_db_spark.operators import dedup
    from generative_ai_vector_db_spark.operators import indexes as ix

    store_docs, batch_docs = _seed_and_batch(spark, sf_dir_t2)
    root = str(tmp_path)
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    ix.create_index(spark, root, "index", "neardup", store_docs)
    batch_docs.coalesce(1).write.parquet(src)
    ix.run_index_stream(spark, root, "index", src, ckpt)

    got = (
        _neardup_results(spark, index)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        dedup.q322_incremental_neardup(spark, sf_dir_t2)
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(want[got.columns.tolist()])


def test_neardup_stream_multibatch_and_replay(spark, sf_dir_t2, tmp_path):
    """Two triggers + full replay: the absorb/merge path must be
    idempotent (at-least-once convergence), and cross-trigger dups
    surface as dup_of_store once the earlier trigger is absorbed."""
    from generative_ai_vector_db_spark.operators import indexes as ix

    store_docs, batch_docs = _seed_and_batch(spark, sf_dir_t2)
    root = str(tmp_path)
    index = str(tmp_path / "index")
    src = str(tmp_path / "src")
    ix.create_index(spark, root, "index", "neardup", store_docs)
    # two files -> two triggers under maxFilesPerTrigger=1
    half = F.col("doc_id") % 20 == 7
    batch_docs.where(half).coalesce(1).write.parquet(src)
    batch_docs.where(~half).coalesce(1).write.mode("append").parquet(src)
    ix.run_index_stream(
        spark, root, "index", src, str(tmp_path / "ck1"), max_files_per_trigger=1
    )
    first = _neardup_results(spark, index).orderBy("doc_id").toPandas()
    bands_before = spark.read.parquet(index + "/bands").count()

    # every batch doc classified exactly once
    assert first["doc_id"].is_unique
    assert len(first) == batch_docs.count()
    assert set(first["status"]) <= {"novel", "dup_of_store", "dup_in_batch"}

    # REPLAY the whole stream with a fresh checkpoint: classifications
    # and index must be byte-identical afterwards
    ix.run_index_stream(
        spark, root, "index", src, str(tmp_path / "ck2"), max_files_per_trigger=1
    )
    second = _neardup_results(spark, index).orderBy("doc_id").toPandas()
    assert second.reset_index(drop=True).equals(first.reset_index(drop=True))
    assert spark.read.parquet(index + "/bands").count() == bands_before


def test_mod_checksum_detects_divergence(spark):
    """A single changed value must flip the modular checksum."""
    from generative_ai_vector_db_spark.operators import store

    a = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "user_id bigint, final_value double"
    )
    b = spark.createDataFrame(
        [(i, float(i) if i != 42 else 99.5) for i in range(100)],
        "user_id bigint, final_value double",
    )
    ck_a = store._mod_checksum(a, "n", "ck").collect()[0]
    ck_b = store._mod_checksum(b, "n", "ck").collect()[0]
    assert ck_a.n == ck_b.n == 100
    assert ck_a.ck != ck_b.ck
    from generative_ai_vector_db_spark.functions.hashing import HASH_MOD

    assert 0 <= ck_a.ck < HASH_MOD
