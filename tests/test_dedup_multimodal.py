from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import dedup, multimodal, pandas_udfs

from .oracle_utils import compare_query


@pytest.mark.parametrize(
    "mod,name",
    [
        ("multimodal", "q43_multimodal_decode"),
        ("multimodal", "q66_multimodal_framesample"),
        ("multimodal", "q152_multimodal_resize"),
        ("multimodal", "q173_patch_grid"),
        ("multimodal", "q174_audio_windows"),
        ("pandas_udfs", "q35_pandas_udf_zscore"),
    ],
)
def test_udf_paths_match_oracle(spark, sf_dir, mod, name):
    m = {"multimodal": multimodal, "pandas_udfs": pandas_udfs}[mod]
    compare_query(spark, sf_dir, m.QUERIES[name], m.ORACLE[name], name)


def _planted_docs(spark):
    """20 distinct docs + 3 planted near-duplicates of doc 0."""
    base = [
        (i, " ".join(f"tok{i}w{j}" for j in range(60)))
        for i in range(20)
    ]
    d0 = base[0][1]
    near1 = (100, d0.replace("tok0w3", "tok0w3x"))          # 1 word changed
    near2 = (101, d0 + " extra trailing words here now")     # appended
    near3 = (102, d0.replace("tok0w10", "CHANGED", 1))       # 1 word changed
    return spark.createDataFrame(base + [near1, near2, near3], "doc_id long, text string")


def test_minhash_finds_planted_neardups(spark):
    docs = _planted_docs(spark)
    cand = dedup.minhash_candidates(docs)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    pairs = (
        cand.select("id_a", "id_b", (inter / union).alias("j"))
        .where(F.col("j") >= dedup.MINHASH_VERIFY_TAU)
        .toPandas()
    )
    found = {(int(a), int(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert {(0, 100), (0, 101), (0, 102)} <= found, found
    # distinct docs share no shingles -> no false positives survive verify
    assert all(a in (0, 100, 101, 102) and b in (0, 100, 101, 102) for a, b in found)


def test_simhash_planted_neardups(spark):
    docs = _planted_docs(spark)
    sigs = dedup.with_simhash(docs).select("doc_id", F.col("simhash").alias("sh")).toPandas()
    by_id = dict(zip(sigs["doc_id"], sigs["sh"]))
    ham = lambda a, b: bin((by_id[a] ^ by_id[b]) & (2**64 - 1)).count("1")
    # near-dups are close in Hamming space; distinct docs are far
    assert ham(0, 100) < 16
    assert ham(0, 102) < 16
    assert ham(1, 2) > 20


def test_q45_bands_signature_into_four_quarters(spark, sf_dir):
    """q45 bands its 64-bit signature into 4 16-bit quarters, q_idx
    0..3. With q319's 8-band constant in their place, quarters 4-7
    shift by 64..112 bits, which Java takes mod 64: they repeat 0-3 and
    double the exploded rows and the self-join matches."""
    plan = dedup.q45_simhash_neardup(spark, sf_dir)._jdf.queryExecution()
    q_idx = re.findall(r"q_idx, (\d+)", plan.analyzed().toString())
    assert sorted(set(q_idx)) == ["0", "1", "2", "3"]


def test_dedup_clusters_match_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        dedup.QUERIES["q76_dedup_clusters"],
        dedup.ORACLE["q76_dedup_clusters"],
        "q76",
    )


def test_connected_components_transitive(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = (
        dedup.connected_components(edges)
        .toPandas()
        .set_index("node")["cluster_id"]
        .to_dict()
    )
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_minhash_deterministic(spark, sf_dir):
    a = dedup.q44_minhash_neardup(spark, sf_dir).toPandas()
    b = dedup.q44_minhash_neardup(spark, sf_dir).toPandas()
    assert a.equals(b)


def test_connected_components_bounded_plan(spark):
    """A 13-node chain forces many label-propagation rounds; the
    per-round localCheckpoint must keep the RESULT plan shallow (no
    geometric lineage growth), and labels must still converge."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 13)], "id_a long, id_b long"
    )
    labels = dedup.connected_components(edges)
    comp = labels.toPandas().set_index("node")["cluster_id"].to_dict()
    assert set(comp.values()) == {1}
    assert len(comp) == 13
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    # checkpointed labels resolve to an ExistingRDD scan — the 12 rounds
    # of joins must NOT be stacked in the final plan
    assert plan.count("Join") == 0, plan


def test_q215_fuzzy_dedup_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        dedup.QUERIES["q215_fuzzy_blocked_dedup"],
        dedup.ORACLE["q215_fuzzy_blocked_dedup"],
        "q215_fuzzy_blocked_dedup",
    )


def _lev(a: str, b: str) -> int:
    """Reference Levenshtein (pure python DP) for spot-checking the
    engines' built-ins."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_q215_fuzzy_dedup_invariants(spark, sf_dir):
    pdf = dedup.q215_fuzzy_blocked_dedup(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    # pair canonicalization, threshold, and positive multiplicities
    assert (pdf["name_a"] < pdf["name_b"]).all()
    assert pdf["dist"].between(1, dedup.FUZZY_MAX_DIST).all()
    assert (pdf["row_pairs"] >= 1).all()
    # Spark's levenshtein agrees with the reference DP on every pair
    for r in pdf.itertuples():
        assert _lev(r.name_a, r.name_b) == r.dist, (r.name_a, r.name_b)


def test_q223_fuzzy_survivorship_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        dedup.QUERIES["q223_fuzzy_survivorship"],
        dedup.ORACLE["q223_fuzzy_survivorship"],
        "q223_fuzzy_survivorship",
    )


def test_q223_survivorship_invariants(spark, sf_dir):
    pdf = dedup.q223_fuzzy_survivorship(spark, sf_dir).toPandas()
    # every (type, name) appears exactly once
    assert not pdf.duplicated(["p_type", "p_name"]).any()
    # the canonical name is itself a member of its own cluster (same
    # type), and its multiplicity is the cluster max
    by_name = pdf.set_index(["p_type", "p_name"])
    for (pt, _), r in by_name.iterrows():
        assert (pt, r["canonical_name"]) in by_name.index
    for (pt, canon), grp in pdf.groupby(["p_type", "canonical_name"]):
        canon_n = int(by_name.loc[(pt, canon)]["n_rows"])
        assert canon_n == grp["n_rows"].max()
    # every q215 matched pair landed in one cluster
    pairs = dedup.q215_fuzzy_blocked_dedup(spark, sf_dir).toPandas()
    canon_of = by_name["canonical_name"].to_dict()
    for r in pairs.itertuples():
        assert canon_of[(r.p_type, r.name_a)] == canon_of[(r.p_type, r.name_b)]
