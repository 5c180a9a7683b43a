"""Round-11 operators: portable hyperplane-LSH ANN (q320/q321),
incremental near-dup vs the persisted store index (q322), band-index
growth (q323), bucket-cap audit (q324) — independent numpy/pandas
reference recomputations and the quality floors the oracle hash
checks weakly (planted-corpus recall, probe completeness, store
parquet roundtrip).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import dedup, store, vector
from generative_ai_vector_db_spark.sources.synthetic import (
    planted_cluster_frame,
    write_planted_embeddings,
)


# --------------------------------------------------------------------------
# q320 portable hyperplane ANN
# --------------------------------------------------------------------------
def _numpy_buckets(X: np.ndarray) -> list[np.ndarray]:
    """Independent recomputation of the per-table sign buckets."""
    mx = np.abs(X).max(axis=1, keepdims=True)
    safe = np.where(mx == 0, 1.0, mx)
    C = np.where(mx == 0, 0.0, np.floor(X * 127.0 / safe + 0.5))
    out = []
    for mat in vector._ann_sign_matrices():
        M = np.array(mat)
        dots = C @ M.T
        out.append(((dots >= 0) << np.arange(vector.ANN_PLANES)).sum(axis=1))
    return out


def test_q320_buckets_match_numpy_reference(spark, sf_dir_t2):
    emb = (
        spark.read.parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .select("vec_id", "embedding")
    )
    got = (
        vector._hyperplane_buckets(emb)
        .toPandas()
        .sort_values(["vec_id", "tbl"])
        .reset_index(drop=True)
    )
    pdf = (
        pd.read_parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype(float)
    ref = _numpy_buckets(X)
    for t in range(vector.ANN_TABLES):
        g = got[got["tbl"] == t].set_index("vec_id")["bucket"]
        r = pd.Series(ref[t], index=pdf["vec_id"].to_numpy())
        assert (g.sort_index().to_numpy() == r.sort_index().to_numpy()).all()


def test_q320_planted_recall_floor(spark):
    """Planted-cluster corpus: recall@13 = 1.000 at ~32% scan — the
    QUALITY.md floor for the hash-graded ANN config."""
    d = tempfile.mkdtemp(prefix="plant320_")
    try:
        write_planted_embeddings(d)
        got = vector.q320_portable_hyperplane_ann(spark, d).toPandas()
        pdf = planted_cluster_frame()
        X = np.stack(pdf["embedding"].to_numpy()).astype(float)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn[0]
        sims[0] = -2
        order = sorted(
            range(len(sims)), key=lambda i: (-round(sims[i], 4), i)
        )[: vector.K]
        recall = len(set(order) & set(got["vec_id"])) / vector.K
        assert recall == 1.0, recall
        # scan fraction stays a FRACTION (the index prunes)
        bucks = _numpy_buckets(X)
        cand: set[int] = set()
        for t in range(vector.ANN_TABLES):
            qb = bucks[t][0]
            probe = {qb ^ f for f in vector.ANN_PROBE_FLIPS}
            cand |= {
                i for i in range(len(X)) if bucks[t][i] in probe and i != 0
            }
        assert len(cand) / len(X) < 0.5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_q321_recall_matches_independent_overlap(spark, sf_dir_t2):
    """q321's graded recall equals an independent numpy overlap of
    multiprobe candidates vs the exact round-4 cosine top-13."""
    got = vector.q321_hyperplane_recall_eval(spark, sf_dir_t2).toPandas()
    pdf = (
        pd.read_parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype(float)
    ids = pdf["vec_id"].to_numpy()
    qi = int(np.where(ids == vector.BINARY_Q_ID)[0][0])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn[qi]
    sims[qi] = -2
    order = sorted(
        range(len(sims)), key=lambda i: (-round(sims[i], 4), ids[i])
    )[: vector.K]
    exact = set(ids[order])
    bucks = _numpy_buckets(X)
    cand: set[int] = set()
    for t in range(vector.ANN_TABLES):
        qb = bucks[t][qi]
        probe = {qb ^ f for f in vector.ANN_PROBE_FLIPS}
        sel = np.isin(bucks[t], list(probe))
        cand |= set(ids[sel]) - {vector.BINARY_Q_ID}
    # ANN top-13 from candidates under the same ranking key
    ann = sorted(
        (i for i in range(len(sims)) if ids[i] in cand),
        key=lambda i: (-round(sims[i], 4), ids[i]),
    )[: vector.K]
    n_common = len(exact & {ids[i] for i in ann})
    assert int(got["n_common"].iloc[0]) == n_common
    assert got["recall"].iloc[0] == pytest.approx(n_common / vector.K)

# --------------------------------------------------------------------------
# q322 incremental near-dup vs the persisted store index
# --------------------------------------------------------------------------
def test_q322_probe_against_persisted_index_matches_inline(spark, sf_dir_t2):
    """The production claim: the batch probes a parquet-PERSISTED
    store index (band rows + shingle index), never the store corpus.
    Persist the store side through operators/store.py, rebuild only
    the batch side, and assert the classification is identical to the
    inline run."""
    docs = (
        spark.read.parquet(os.path.join(sf_dir_t2, "documents.parquet"))
        .select("doc_id", "text")
    )
    is_batch = (
        F.col("doc_id") % dedup.INCR_BATCH_MOD == dedup.INCR_BATCH_RESIDUE
    )
    shingled = dedup._pmh_shingle_sigs(docs).localCheckpoint()
    bands = dedup._pmh_bands(shingled.select("doc_id", "sigs"))
    d = tempfile.mkdtemp(prefix="incr_idx_")
    try:
        # nightly build persists ONLY the store-side index artifacts
        store.append_vectors(bands.where(~is_batch), os.path.join(d, "bands"))
        store.append_vectors(
            shingled.where(~is_batch).select("doc_id", "shingles"),
            os.path.join(d, "shingles"),
        )
        store_bands = store.open_store(spark, os.path.join(d, "bands"))
        store_shingles = store.open_store(spark, os.path.join(d, "shingles"))
        batch_bands = bands.where(is_batch)
        batch_shingles = shingled.where(is_batch).select("doc_id", "shingles")
        probed = (
            dedup._incremental_classify(
                docs.where(is_batch).select("doc_id"),
                store_bands,
                batch_bands,
                store_shingles,
                batch_shingles,
            )
            .orderBy("doc_id")
            .toPandas()
        )
        inline = dedup.q322_incremental_neardup(spark, sf_dir_t2).toPandas()
        pd.testing.assert_frame_equal(probed, inline)
        # and the run is non-trivial: every class appears
        assert set(inline["status"]) == {"dup_of_store", "dup_in_batch", "novel"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_q322_classification_invariants(spark, sf_dir_t2):
    got = dedup.q322_incremental_neardup(spark, sf_dir_t2).toPandas()
    res = dedup.INCR_BATCH_RESIDUE
    mod = dedup.INCR_BATCH_MOD
    assert (got["doc_id"] % mod == res).all()
    novel = got[got["status"] == "novel"]
    assert novel["dup_of"].isna().all()
    assert (novel["n_store_matches"] == 0).all()
    assert (novel["n_batch_matches"] == 0).all()
    dos = got[got["status"] == "dup_of_store"]
    assert (dos["dup_of"] % mod != res).all()
    assert (dos["n_store_matches"] > 0).all()
    dib = got[got["status"] == "dup_in_batch"]
    assert (dib["dup_of"] % mod == res).all()
    assert (dib["dup_of"] < dib["doc_id"]).all()
    assert (dib["n_store_matches"] == 0).all()


def test_q322_agrees_with_q302_truth(spark, sf_dir_t2):
    """Near-dup pairs q302 finds that straddle the batch/store split
    must be classified dup_* by q322 (same bands, same cap, same
    verify threshold)."""
    pairs = dedup.q302_portable_minhash(spark, sf_dir_t2).toPandas()
    got = dedup.q322_incremental_neardup(spark, sf_dir_t2).toPandas()
    res, mod = dedup.INCR_BATCH_RESIDUE, dedup.INCR_BATCH_MOD
    dup_ids = set(got[got["status"] != "novel"]["doc_id"])
    for _, r in pairs.iterrows():
        a, b = int(r["doc_a"]), int(r["doc_b"])
        for probe, other in ((a, b), (b, a)):
            if probe % mod != res:
                continue  # probe not in the batch
            if other % mod == res and other > probe:
                continue  # first-occurrence-wins: the LATER doc dups
            assert probe in dup_ids, (probe, other)


# --------------------------------------------------------------------------
# q323 band-index growth / q324 bucket-cap audit
# --------------------------------------------------------------------------
def test_q323_matches_pandas_recount(spark, sf_dir_t2):
    docs = (
        spark.read.parquet(os.path.join(sf_dir_t2, "documents.parquet"))
        .select("doc_id", "text")
    )
    bands = dedup._pmh_bands(
        dedup._pmh_shingle_sigs(docs).select("doc_id", "sigs")
    ).toPandas()
    bands["is_batch"] = (
        bands["doc_id"] % dedup.INCR_BATCH_MOD == dedup.INCR_BATCH_RESIDUE
    )
    per = (
        bands.groupby(["band", "key"])
        .agg(
            n_store=("is_batch", lambda s: int((~s).sum())),
            n_batch=("is_batch", "sum"),
        )
        .reset_index()
    )
    got = dedup.q323_band_index_growth(spark, sf_dir_t2).toPandas()
    for _, row in got.iterrows():
        p = per[per["band"] == row["band"]]
        assert row["buckets_before"] == int((p["n_store"] > 0).sum())
        assert row["new_buckets"] == int(
            ((p["n_store"] == 0) & (p["n_batch"] > 0)).sum()
        )
        assert row["grown_buckets"] == int(
            ((p["n_store"] > 0) & (p["n_batch"] > 0)).sum()
        )
        assert row["max_size_before"] == int(p["n_store"].max())
        assert row["max_size_after"] == int((p["n_store"] + p["n_batch"]).max())
        assert row["over_cap_after"] == int(
            ((p["n_store"] + p["n_batch"]) > dedup.PMH_BUCKET_CAP).sum()
        )
    assert len(got) == dedup.PMH_BANDS


def test_q324_audit_equals_kept_bands_complement(spark, sf_dir_t2):
    """The observability contract: dropped_band_rows is EXACTLY the
    complement of _pmh_kept_bands, and docs_all_dropped is exactly the
    docs missing from the kept set — the audit sees what the cap
    silently removes from q302/q319 candidate generation."""
    docs = (
        spark.read.parquet(os.path.join(sf_dir_t2, "documents.parquet"))
        .select("doc_id", "text")
    )
    got = (
        dedup.q324_bucket_cap_audit(spark, sf_dir_t2)
        .toPandas()
        .set_index("family")
    )
    for family, bands in (
        ("minhash", dedup._pmh_bands(
            dedup._pmh_shingle_sigs(docs).select("doc_id", "sigs"))),
        ("simhash", dedup._simhash_bands(dedup._simhash_sigs(docs))),
    ):
        bands = bands.localCheckpoint()
        total_rows = bands.count()
        total_docs = bands.select("doc_id").distinct().count()
        kept = dedup._pmh_kept_bands(bands).localCheckpoint()
        kept_rows = kept.count()
        kept_docs = kept.select("doc_id").distinct().count()
        row = got.loc[family]
        assert row["dropped_band_rows"] == total_rows - kept_rows
        assert row["docs_all_dropped"] == total_docs - kept_docs
        assert row["n_docs"] == total_docs
        assert row["max_bucket_size"] >= 1


# --------------------------------------------------------------------------
# q288 graceful degradation past KENDALL_BLOCK_CAP (VERDICT r10 #3)
# --------------------------------------------------------------------------
def test_q288_oversize_source_samples_instead_of_erroring(spark):
    """A source block larger than the cap no longer asserts — it is
    systematic-sampled to <= cap docs, and the SQL twin mirrors the
    sampling rule, so Spark and DuckDB stay row-identical on the
    oversize corpus too."""
    import duckdb

    from generative_ai_vector_db_spark.operators import stats

    cap = stats.KENDALL_BLOCK_CAP
    n_big = cap + 201  # k = 2 -> ceil(n/2) kept
    rng = np.random.RandomState(7)
    big = pd.DataFrame(
        {
            "doc_id": np.arange(n_big, dtype=np.int64),
            "source": "big",
            "n_chars": rng.randint(50, 5000, n_big).astype(np.int64),
        }
    )
    small = pd.DataFrame(
        {
            "doc_id": np.arange(n_big, n_big + 10, dtype=np.int64),
            "source": "small",
            "n_chars": rng.randint(50, 5000, 10).astype(np.int64),
        }
    )
    pdf = pd.concat([big, small], ignore_index=True)
    pdf["text"] = [
        " ".join(["w"] * int(k)) for k in rng.randint(1, 60, len(pdf))
    ]
    d = tempfile.mkdtemp(prefix="kendall_big_")
    try:
        pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
        got = (
            stats.q288_kendall_tau(spark, d)
            .toPandas()
            .sort_values("source")
            .reset_index(drop=True)
        )
        # sampled, not errored: big block reduced below the cap,
        # and the stride column makes the degradation OBSERVABLE
        n_kept = int(got.set_index("source").loc["big", "n"])
        assert n_kept == (n_big + 1) // 2
        assert int(got.set_index("source").loc["big", "stride"]) == 2
        assert int(got.set_index("source").loc["small", "n"]) == 10
        assert int(got.set_index("source").loc["small", "stride"]) == 1
        # cross-engine parity on the SAMPLED path
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(d, 'documents.parquet')}'"
        )
        want = (
            con.sql(stats.Q288_SQL)
            .df()
            .sort_values("source")
            .reset_index(drop=True)
        )
        for c in ("n", "stride", "concordant", "discordant"):
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        assert np.allclose(got["tau_b"], want["tau_b"], atol=5e-5)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------------------------------
# q325 portable IVF ANN / q326 recall eval
# --------------------------------------------------------------------------
def _numpy_cells(X: np.ndarray) -> np.ndarray:
    """Independent recomputation of the argmax-dot cell assignment."""
    mx = np.abs(X).max(axis=1, keepdims=True)
    safe = np.where(mx == 0, 1.0, mx)
    C = np.where(mx == 0, 0.0, np.floor(X * 127.0 / safe + 0.5))
    P = np.array(vector._ivf_pivots())
    dots = C @ P.T
    return dots.argmax(axis=1)  # numpy argmax = first max, same tie-break


def test_q325_cells_match_numpy_reference(spark, sf_dir_t2):
    emb = (
        spark.read.parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .select("vec_id", "embedding")
    )
    got = (
        vector._ivf_assign(emb)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pdf = (
        pd.read_parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype(float)
    assert (got["cell"].to_numpy() == _numpy_cells(X)).all()
    # cells are actually load-balancing (no degenerate single cell)
    assert got["cell"].nunique() > vector.IVF_CELLS // 2


def test_q325_planted_recall(spark):
    """Planted-cluster corpus: 12/13 of the cluster lands in probed
    cells at nprobe=4 (one member straddles a cell boundary; the numpy
    sweep shows nprobe=6 recovers it at 44% scan) — the QUALITY.md
    floor for the portable-IVF config."""
    d = tempfile.mkdtemp(prefix="plant325_")
    try:
        write_planted_embeddings(d)
        got = vector.q325_portable_ivf_ann(spark, d).toPandas()
        pdf = planted_cluster_frame()
        X = np.stack(pdf["embedding"].to_numpy()).astype(float)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn[0]
        sims[0] = -2
        order = sorted(
            range(len(sims)), key=lambda i: (-round(sims[i], 4), i)
        )[: vector.K]
        recall = len(set(order) & set(got["vec_id"])) / vector.K
        assert recall >= 12 / 13, recall
        cells = _numpy_cells(X)
        qc = cells[0]
        dots = np.floor(
            X * 127.0 / np.abs(X).max(axis=1, keepdims=True) + 0.5
        ) @ np.array(vector._ivf_pivots()).T
        probe_order = sorted(
            range(vector.IVF_CELLS), key=lambda c: (-dots[0][c], c)
        )[: vector.IVF_NPROBE]
        assert qc in probe_order
        scanned = np.isin(cells[1:], probe_order).mean()
        assert scanned < 0.6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_q326_recall_matches_independent_overlap(spark, sf_dir_t2):
    got = vector.q326_ivf_recall_eval(spark, sf_dir_t2).toPandas()
    pdf = (
        pd.read_parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype(float)
    ids = pdf["vec_id"].to_numpy()
    qi = int(np.where(ids == vector.BINARY_Q_ID)[0][0])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn[qi]
    sims[qi] = -2
    order = sorted(
        range(len(sims)), key=lambda i: (-round(sims[i], 4), ids[i])
    )[: vector.K]
    exact = set(ids[order])
    cells = _numpy_cells(X)
    mx = np.abs(X).max(axis=1, keepdims=True)
    dots = np.floor(X * 127.0 / np.where(mx == 0, 1, mx) + 0.5) @ np.array(
        vector._ivf_pivots()
    ).T
    probe_order = sorted(
        range(vector.IVF_CELLS), key=lambda c: (-dots[qi][c], c)
    )[: vector.IVF_NPROBE]
    cand_idx = [
        i
        for i in range(len(ids))
        if cells[i] in probe_order and ids[i] != vector.BINARY_Q_ID
    ]
    ann = sorted(
        cand_idx, key=lambda i: (-round(sims[i], 4), ids[i])
    )[: vector.K]
    n_common = len(exact & {ids[i] for i in ann})
    assert int(got["n_common"].iloc[0]) == n_common
    assert got["recall"].iloc[0] == pytest.approx(n_common / vector.K)


# --------------------------------------------------------------------------
# q327-q330 portable sketches (HLL / Count-Min / Bloom / priority sample)
# --------------------------------------------------------------------------
def _mix_np(ids: np.ndarray) -> np.ndarray:
    from generative_ai_vector_db_spark.functions import hashing as H

    ids = ids.astype(np.int64)
    core = (ids % H.PORTABLE_ID_MOD) * H.KNUTH1 + (
        (ids // H.PORTABLE_ID_MOD) % H.PORTABLE_ID_MOD
    ) * H.KNUTH2
    return core % H.HASH_MOD


def _avalanche_np(ids: np.ndarray) -> np.ndarray:
    from generative_ai_vector_db_spark.functions import hashing as H

    h = _mix_np(ids)
    for s, k in zip(H.AVA_SHIFTS, H.AVA_MULTS):
        h = ((h ^ (h >> s)) * k) % H.HASH_MOD
    return h ^ (h >> 16)


def test_q327_hll_matches_numpy_and_error_bound(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import scale

    got = (
        scale.q327_portable_hll(spark, sf_dir_t2).toPandas().set_index("domain")
    )
    for label, table, key in scale.HLL_DOMAINS:
        pdf = pd.read_parquet(os.path.join(sf_dir_t2, f"{table}.parquet"))
        h = _avalanche_np(pdf[key].to_numpy())
        b, w = h % scale.HLL_M, h // scale.HLL_M
        wb = scale.HLL_WBITS
        rho = np.where(w == 0, wb + 1, wb - np.floor(np.log2(np.maximum(w, 1))))
        regs = pd.DataFrame({"b": b, "rho": rho}).groupby("b")["rho"].max()
        s = int(sum(1 << int(wb + 1 - r) for r in regs))
        z = scale.HLL_M - len(regs)
        raw = scale.HLL_NUM / float(s + z * (1 << (wb + 1)))
        est = (
            scale.HLL_M * np.log(scale.HLL_M / z)
            if (raw <= 2.5 * scale.HLL_M and z > 0)
            else raw
        )
        row = got.loc[label]
        assert row["hll_est"] == pytest.approx(est, abs=1e-3), label
        exact = pdf[key].nunique()
        assert row["exact_distinct"] == exact
        # HLL standard error at m=256 is 1.04/16 = 6.5%; allow 3 sigma
        assert abs(row["rel_err"]) < 0.20, (label, row["rel_err"])
        assert row["registers_used"] <= scale.HLL_M


def test_q328_countmin_invariants_and_recount(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import scale

    got = scale.q328_portable_countmin(spark, sf_dir_t2).toPandas()
    assert len(got) == scale.CM_TOPK
    assert (got["overcount"] >= 0).all()  # CM never undercounts
    assert (got["cm_est"] == got["exact_cnt"] + got["overcount"]).all()
    # independent recount for the heaviest key
    pdf = pd.read_parquet(os.path.join(sf_dir_t2, "lineitem.parquet"))
    keys = pdf["l_partkey"].to_numpy().astype(np.int64)
    top = got.iloc[0]
    tk = int(top["l_partkey"])
    ests = []
    for i in range(scale.CM_ROWS):
        cells = _avalanche_np(keys * 8 + i) % scale.CM_WIDTH
        tcell = int(
            _avalanche_np(np.array([tk * 8 + i]))[0] % scale.CM_WIDTH
        )
        ests.append(int((cells == tcell).sum()))
    assert int(top["cm_est"]) == min(ests)
    assert int(top["exact_cnt"]) == int((keys == tk).sum())
    # row INDEPENDENCE (the r11 self-review defect): pairs colliding in
    # row 0 must mostly NOT collide in row 1
    uk = np.unique(keys)
    c0 = _avalanche_np(uk * 8 + 0) % scale.CM_WIDTH
    c1 = _avalanche_np(uk * 8 + 1) % scale.CM_WIDTH
    rng = np.random.RandomState(3)
    ii = rng.randint(0, len(uk), 4000)
    jj = rng.randint(0, len(uk), 4000)
    m = ii != jj
    both = (c0[ii[m]] == c0[jj[m]]) & (c1[ii[m]] == c1[jj[m]])
    r0 = c0[ii[m]] == c0[jj[m]]
    if r0.sum() >= 5:
        assert both.sum() / r0.sum() < 0.3  # was 1.0 with the salt bug


def test_q329_bloom_no_false_negatives(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import scale

    got = scale.q329_portable_bloom(spark, sf_dir_t2).toPandas().iloc[0]
    # every true member passes the filter (no false negatives)
    assert got["bloom_positive"] == got["true_member"] + got["false_positive"]
    assert got["bits_set"] <= scale.BLOOM_BITS
    assert 0 <= got["fp_rate"] <= 1
    # with INDEPENDENT per-position hashes the realized fp rate sits in
    # the binomial band around (bits_set/m)^k — the pre-fix correlated
    # positions needed a 4x-or-5% crutch here (r11 self-review)
    n_tn = got["n_probe"] - got["true_member"]
    theo = got["theoretical_fpr"]
    sigma = np.sqrt(max(theo * (1 - theo), 1e-9) / max(n_tn, 1))
    assert abs(got["fp_rate"] - theo) < 4 * sigma + 0.005, (
        got["fp_rate"],
        theo,
    )
    assert got["false_positive"] < n_tn


def test_q330_priority_sample_reproducible_and_uniformish(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import scale

    got = scale.q330_priority_sample(spark, sf_dir_t2).toPandas()
    pdf = pd.read_parquet(os.path.join(sf_dir_t2, "documents.parquet"))
    pdf["priority"] = _mix_np(pdf["doc_id"].to_numpy())
    for src, g in got.groupby("source"):
        ref = (
            pdf[pdf["source"] == src]
            .sort_values(["priority", "doc_id"])
            .head(scale.SAMPLE_N)
        )
        assert list(g.sort_values("rn")["doc_id"]) == list(ref["doc_id"]), src
    # per-source sample size == min(SAMPLE_N, group size)
    sizes = pdf.groupby("source").size()
    want = sizes.clip(upper=scale.SAMPLE_N).sort_index()
    have = got.groupby("source").size().sort_index()
    assert (want == have).all()


# --------------------------------------------------------------------------
# q331-q334 (JSD, temperature mixture, assortativity, Neyman)
# --------------------------------------------------------------------------
def test_q331_jsd_matches_pandas_and_bounds(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import text as text_ops

    got = text_ops.q331_js_divergence(spark, sf_dir_t2).toPandas()
    assert (got["jsd"] >= 0).all()
    assert (got["jsd"] <= np.log(2) + 1e-9).all()
    pdf = pd.read_parquet(os.path.join(sf_dir_t2, "documents.parquet"))
    srcs = sorted(pdf["source"].unique())
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    # independent recomputation for the first pair
    toks = pdf.assign(tok=pdf["text"].str.lower().str.split(" ")).explode(
        "tok"
    )
    toks = toks[toks["tok"].str.len() > 0]
    vc = toks.groupby("tok").size()
    vocab = list(
        vc.reset_index(name="n")
        .sort_values(["n", "tok"], ascending=[False, True])
        .head(text_ops.JSD_VOCAB)["tok"]
    )
    sm, V = text_ops.JSD_SMOOTH, text_ops.JSD_VOCAB
    sa, sb = got.iloc[0]["src_a"], got.iloc[0]["src_b"]

    def dist(src):
        c = (
            toks[(toks["source"] == src) & (toks["tok"].isin(vocab))]
            .groupby("tok")
            .size()
            .reindex(vocab, fill_value=0)
        )
        return (c + sm) / (c.sum() + sm * V)

    p, q = dist(sa).to_numpy(), dist(sb).to_numpy()
    m = (p + q) / 2
    want = 0.5 * (p * np.log(p / m)).sum() + 0.5 * (q * np.log(q / m)).sum()
    assert got.iloc[0]["jsd"] == pytest.approx(want, abs=1e-3)


def test_q332_temperature_mixture_properties(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import corpus

    got = corpus.q332_temperature_mixture(spark, sf_dir_t2).toPandas()
    assert got["raw_share"].sum() == pytest.approx(1.0, abs=0.01)
    assert got["temp_share"].sum() == pytest.approx(1.0, abs=0.01)
    # temperature flattens: smallest source gains, biggest loses
    small = got.loc[got["n_tokens"].idxmin()]
    big = got.loc[got["n_tokens"].idxmax()]
    if small["n_tokens"] < big["n_tokens"]:
        assert small["epoch_mult"] >= big["epoch_mult"]
    # pandas recompute
    t = got["n_tokens"].to_numpy(dtype=float)
    want = t**corpus.MIX_TAU / (t**corpus.MIX_TAU).sum()
    assert np.allclose(got["temp_share"], want, atol=5e-4)


def test_q333_assortativity_matches_numpy(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import graph

    got = graph.q333_degree_assortativity(spark, sf_dir_t2).toPandas().iloc[0]
    edges = graph._covisit_edges(spark, sf_dir_t2).toPandas()
    deg = edges.groupby("src").size()
    x = deg.reindex(edges["src"]).to_numpy(dtype=float)
    y = deg.reindex(edges["dst"]).to_numpy(dtype=float)
    r = np.corrcoef(x, y)[0, 1]
    assert got["assortativity"] == pytest.approx(r, abs=1e-3)
    assert got["n_edges"] == len(edges) // 2
    assert got["n_nodes"] == edges["src"].nunique()
    assert -1 <= got["assortativity"] <= 1


def test_q334_neyman_matches_pandas(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import stats

    got = stats.q334_neyman_allocation(spark, sf_dir_t2).toPandas()
    pdf = pd.read_parquet(os.path.join(sf_dir_t2, "documents.parquet"))
    g = pdf.groupby("source")["n_chars"]
    ns = g.size() * g.std(ddof=1)
    share = (ns / ns.sum()).sort_index()
    have = got.sort_values("source")
    assert np.allclose(have["neyman_share"], share.to_numpy(), atol=5e-4)
    assert (have["neyman_n"] <= stats.SAMPLE_BUDGET).all()
    assert have["neyman_n"].sum() <= stats.SAMPLE_BUDGET
    # deltas sum to ~0 (both share vectors are normalized)
    assert have["delta_vs_proportional"].sum() == pytest.approx(0, abs=0.01)


# --------------------------------------------------------------------------
# q335-q337 (idempotent replay, weighted sample, rebalance audit)
# --------------------------------------------------------------------------
def test_q335_replay_is_idempotent(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import store as store_ops

    got = store_ops.q335_idempotent_replay(spark, sf_dir_t2).toPandas().iloc[0]
    assert got["diff_rows"] == 0
    assert got["n_keys_once"] == got["n_keys_twice"] > 0
    assert bool(got["checksum_match"])


def test_q336_weighted_sample_matches_pandas_and_favors_long_docs(
    spark, sf_dir_t2
):
    from generative_ai_vector_db_spark.functions import hashing as H
    from generative_ai_vector_db_spark.operators import scale

    got = scale.q336_weighted_priority_sample(spark, sf_dir_t2).toPandas()
    pdf = pd.read_parquet(os.path.join(sf_dir_t2, "documents.parquet"))
    u = (_mix_np(pdf["doc_id"].to_numpy()) + 1) / float(H.HASH_MOD + 1)
    pdf = pdf.assign(key=np.log(u) / pdf["n_chars"].to_numpy())
    want = pdf.sort_values(["key", "doc_id"], ascending=[False, True]).head(
        scale.WSAMPLE_N
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    # weighted: sampled docs skew long vs the corpus median
    assert got["n_chars"].median() > pdf["n_chars"].median()


def test_q337_rebalance_fractions(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import scale

    got = scale.q337_rebalance_audit(spark, sf_dir_t2).toPandas().iloc[0]
    # mod-N resharding moves ~4/5 of keys (stay iff k%40 < 8)...
    assert got["mod_moved_frac"] == pytest.approx(0.8, abs=0.02)
    # ...rendezvous moves ~ the 2/10 the new shards win (3 sigma slack)
    n = got["n_keys"]
    sigma = np.sqrt(0.2 * 0.8 / n)
    assert abs(got["rdv_moved_frac"] - 0.2) < 4 * sigma + 0.01, got[
        "rdv_moved_frac"
    ]
    assert got["rdv_theoretical_frac"] == pytest.approx(0.2)


# --------------------------------------------------------------------------
# q338/q339 (containment pairs, near-dup family eval)
# --------------------------------------------------------------------------
def test_q338_containment_invariants_and_subset_tier(spark, sf_dir_t2):
    got = dedup.q338_containment_pairs(spark, sf_dir_t2).toPandas()
    assert (got["containment_a"] <= 1.0 + 1e-9).all()
    assert (got["containment_b"] <= 1.0 + 1e-9).all()
    # jaccard <= min(containment): |A∩B|/|A∪B| <= |A∩B|/max(|A|,|B|)
    assert (
        got["jaccard"]
        <= got[["containment_a", "containment_b"]].min(axis=1) + 1e-6
    ).all()
    # every q302 pair (jaccard >= 0.5) also passes the containment gate
    truth = dedup.q302_portable_minhash(spark, sf_dir_t2).toPandas()
    t = set(zip(truth["doc_a"], truth["doc_b"]))
    g = set(zip(got["doc_a"], got["doc_b"]))
    assert t <= g


def test_q338_finds_planted_subset_dup_that_jaccard_misses(spark):
    """The operator's reason to exist: a short doc fully CONTAINED in a
    long one has low Jaccard (q302 misses it) but containment 1.0.
    Plant one and assert only q338 reports the pair. (The sf fixtures
    contain symmetric template copies only — no subset tier — so the
    asymmetric claim needs a planted corpus.)"""
    rng = np.random.RandomState(11)
    vocab = [f"tok{i}" for i in range(500)]
    long_words = [vocab[i] for i in rng.randint(0, 500, 400)]
    docs = []
    docs.append((0, " ".join(long_words)))          # the container
    docs.append((1, " ".join(long_words[:120])))    # contained prefix
    for i in range(2, 30):                          # unrelated noise
        docs.append((i, " ".join(vocab[j] for j in rng.randint(0, 500, 150))))
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "s0"
    pdf["n_chars"] = pdf["text"].str.len()
    d = tempfile.mkdtemp(prefix="contain_")
    try:
        pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
        got = dedup.q338_containment_pairs(spark, d).toPandas()
        pair = got[(got["doc_a"] == 0) & (got["doc_b"] == 1)]
        assert len(pair) == 1
        assert pair.iloc[0]["containment_b"] > 0.9  # B inside A
        assert pair.iloc[0]["jaccard"] < dedup.PMH_JMIN
        truth = dedup.q302_portable_minhash(spark, d).toPandas()
        assert not (
            (truth["doc_a"] == 0) & (truth["doc_b"] == 1)
        ).any()  # q302 misses it
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_q339_family_eval_consistent_with_pair_sets(spark, sf_dir_t2):
    got = dedup.q339_neardup_family_eval(spark, sf_dir_t2).toPandas().iloc[0]
    truth = dedup.q302_portable_minhash(spark, sf_dir_t2).toPandas()
    sim = dedup.q319_portable_simhash(spark, sf_dir_t2).toPandas()
    t = set(zip(truth["doc_a"], truth["doc_b"]))
    s = set(zip(sim["doc_a"], sim["doc_b"]))
    assert got["n_truth"] == len(t)
    assert got["n_simhash"] == len(s)
    assert got["n_common"] == len(t & s)
    assert got["recall_of_truth"] == pytest.approx(len(t & s) / len(t), abs=1e-3)


# --------------------------------------------------------------------------
# q340-q343 (BM25 PRF, quantization stability, negatives, watermark sweep)
# --------------------------------------------------------------------------
def test_q340_prf_expansion_changes_and_contains_base_signal(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import retrieval

    base = retrieval.q83_bm25_topk(spark, sf_dir_t2).toPandas()
    prf = retrieval.q340_bm25_prf(spark, sf_dir_t2).toPandas()
    assert len(prf) == retrieval.K
    assert prf["rn"].tolist() == list(range(1, retrieval.K + 1))
    # expansion only ADDS score: every doc's prf >= its base bm25
    merged = prf.merge(base, on="doc_id", how="inner")
    assert (merged["prf_score"] >= merged["bm25"] - 1e-6).all()
    # and the expansion actually matters: the two rankings differ OR
    # scores strictly grew for at least one shared doc
    assert (prf["doc_id"].tolist() != base["doc_id"].tolist()) or (
        (merged["prf_score"] > merged["bm25"] + 1e-6).any()
    )


def test_q341_overlap_matches_numpy(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector as v

    got = (
        v.q341_quantization_rank_stability(spark, sf_dir_t2)
        .toPandas()
        .set_index("anchor_id")
    )
    pdf = (
        pd.read_parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype(float)
    ids = pdf["vec_id"].to_numpy()
    mx = np.abs(X).max(axis=1, keepdims=True)
    C = np.floor(X * 127.0 / np.where(mx == 0, 1, mx) + 0.5)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    for a in v.QRS_ANCHORS:
        ai = int(np.where(ids == a)[0][0])
        sf_, s8 = Xn @ Xn[ai], Cn @ Cn[ai]
        sf_[ai] = s8[ai] = -2

        def topk(s):
            return set(
                ids[
                    sorted(
                        range(len(s)),
                        key=lambda i: (-round(s[i], 4), ids[i]),
                    )[: v.QRS_K]
                ]
            )

        want = len(topk(sf_) & topk(s8))
        assert int(got.loc[a, "n_overlap"]) == want, a
        # int8 keeps most of the neighborhood
        assert got.loc[a, "overlap_frac"] >= 0.5, (a, got.loc[a])


def test_q342_negatives_deterministic_and_label_safe(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector as v

    got = v.q342_contrastive_negatives(spark, sf_dir_t2).toPandas()
    pdf = pd.read_parquet(os.path.join(sf_dir_t2, "embeddings.parquet"))
    labels = pdf.set_index("vec_id")["label"]
    for a in v.QRS_ANCHORS:
        g = got[got["anchor_id"] == a]
        assert len(g) == v.QRS_K
        # no negative shares the anchor's label (no false negatives)
        assert (g["neg_label"] != labels.loc[a]).all()
        # hash-priority selection recomputed in numpy
        cand = pdf[pdf["label"] != labels.loc[a]]
        pri = _mix_np(cand["vec_id"].to_numpy() * 8 + a)
        want = (
            cand.assign(p=pri)
            .sort_values(["p", "vec_id"])
            .head(v.QRS_K)["vec_id"]
            .tolist()
        )
        assert g.sort_values("rn")["neg_id"].tolist() == want


def test_q343_sweep_monotone_and_consistent_with_q147(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import temporal

    got = temporal.q343_watermark_sweep(spark, sf_dir_t2).toPandas()
    # drops shrink as the watermark delay grows, per type
    for t, g in got.groupby("event_type"):
        g = g.sort_values("delay_ms")
        assert (g["dropped"].diff().dropna() <= 0).all(), t
    # per-type totals agree with q147's profile
    prof = (
        temporal.q147_late_arrival_profile(spark, sf_dir_t2)
        .toPandas()
        .set_index("event_type")
    )
    for t, g in got.groupby("event_type"):
        assert (g["n_events"] == prof.loc[t, "n_events"]).all()
        # dropped at any delay <= total late events
        assert (g["dropped"] <= prof.loc[t, "n_late"]).all()


# --------------------------------------------------------------------------
# q344/q345 (SemDeDup threshold curve, l-diversity audit)
# --------------------------------------------------------------------------
def test_q344_curve_monotone_and_matches_pairs(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import vector as v

    got = v.q344_semdedup_threshold_curve(spark, sf_dir_t2).toPandas()
    assert list(got["tau"]) == v.SEMDEDUP_TAUS
    # monotone: higher tau -> fewer pairs, fewer removals
    assert (got["n_pairs"].diff().dropna() <= 0).all()
    assert (got["docs_removed"].diff().dropna() <= 0).all()
    # the tau=COS_TAU row agrees with q42's pair set
    q42 = v.q42_cosine_neardup(spark, sf_dir_t2).toPandas()
    row = got[got["tau"] == v.COS_TAU].iloc[0]
    assert int(row["n_pairs"]) == len(q42)
    assert int(row["docs_removed"]) == q42["id_b"].nunique()


def test_q345_ldiversity_pandas_recount(spark, sf_dir_t2):
    from generative_ai_vector_db_spark.operators import quality

    got = quality.q345_ldiversity_audit(spark, sf_dir_t2).toPandas()
    ev = pd.read_parquet(os.path.join(sf_dir_t2, "events.parquet"))
    ev["iso_dow"] = ev["ts"].dt.dayofweek + 1
    ev["hour"] = ev["ts"].dt.hour
    g = ev.groupby(["event_type", "iso_dow", "hour"]).agg(
        sz=("user_id", "size"), div=("user_id", "nunique")
    )
    for l in quality.LDIV_LS:
        row = got[got["l"] == l].iloc[0]
        assert row["n_classes"] == len(g)
        assert row["n_low_diversity"] == int((g["div"] < l).sum())
        assert row["n_records_exposed"] == int(g.loc[g["div"] < l, "sz"].sum())
    # monotone in l
    assert (got.sort_values("l")["n_low_diversity"].diff().dropna() >= 0).all()
