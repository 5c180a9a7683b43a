"""Round-14 operator tests: streaming maintenance for the remaining
ANN families (hyperplane buckets, NN-descent graph — VERDICT r13 item
3), the unified persisted-index catalog (item 5), the de-weaked
SemDeDup default path (item 1), and regression locks for the r14
ADVICE fixes (duplicate vec_ids within a micro-batch; q368 zero-range
reference guard)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.tables import load


def test_vector_index_batch_dedupes_within_microbatch(
    spark, sf_dir_t2, tmp_path
):
    """A vec_id duplicated WITHIN one micro-batch must land exactly one
    code row (r14 advice): before the fix, both copies survived the
    anti-join against the code store and the duplicate code occupied
    two shortlist slots at query time, breaking stream==batch."""
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    seed, late = emb.where(~is_late), emb.where(is_late)

    root = str(tmp_path)
    index = str(tmp_path / "vindex")
    src = str(tmp_path / "vsrc")
    ix.create_index(spark, root, "vindex", "ivfpq", seed)
    # duplicate every late row inside the single source file: one
    # availableNow trigger sees both copies in the same micro-batch
    late.unionAll(late).coalesce(1).write.parquet(src)
    ix.run_index_stream(spark, root, "vindex", src, str(tmp_path / "ck"))

    codes = spark.read.parquet(index + "/codes")
    assert codes.count() == emb.count()
    assert codes.select("vec_id").distinct().count() == emb.count()

    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    got = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ist.KINDS["ivfpq"].query(
            spark, index, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in vector.q362_portable_ivfpq_ann(spark, sf_dir_t2).collect()
    ]
    assert got == want


def test_q368_zero_range_reference_is_defined(spark, tmp_path):
    """With a zero-range reference window (all reference-week values
    identical) the clamped denominator must yield finite log_e and a
    0/1 rejected on BOTH engines — not NULL (r14 advice)."""
    import duckdb

    from generative_ai_vector_db_spark.operators import stats

    rows = [
        # 7 reference days, constant value -> r_ref would be 0
        *[(f"2024-01-{d:02d}T00:00:00", 1.0) for d in range(1, 8)],
        # monitored days drift upward
        ("2024-01-08T00:00:00", 5.0),
        ("2024-01-09T00:00:00", 9.0),
    ]
    df = spark.createDataFrame(
        [(i, "view", v, t) for i, (t, v) in enumerate(rows)],
        "event_id long, event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)
    got = stats.q368_drift_edetector(spark, str(tmp_path)).collect()
    assert len(got) == 2
    assert all(r["log_e"] is not None for r in got)
    assert all(r["rejected"] in (0, 1) for r in got)

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    want = con.sql(stats.Q368_SQL).fetchall()
    assert [(r["day"], r["n_t"], r["log_e"], r["rejected"]) for r in got] == [
        tuple(w) for w in want
    ]


# --------------------------------------------------------------------------
# Streaming hyperplane index (VERDICT r13 item 3): order-independent
# structure, so stream-built == batch q320 EXACTLY, at both scales.
# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_hyperplane_stream_equals_batch_both_scales(spark, sf, tmp_path):
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    seed, late = emb.where(~is_late), emb.where(is_late)

    root = str(tmp_path)
    index = str(tmp_path / "hindex")
    src = str(tmp_path / "hsrc")
    ix.create_index(spark, root, "hindex", "hyperplane", seed)
    # duplicate the late rows within the single micro-batch: the
    # absorb-side dedup must make this a no-op
    late.unionAll(late).coalesce(1).write.parquet(src)
    ix.run_index_stream(spark, root, "hindex", src, str(tmp_path / "ck1"))

    buckets = spark.read.parquet(index + "/buckets")
    assert buckets.count() == 2 * emb.count()  # 2 tables per vector
    assert buckets.select("vec_id").distinct().count() == emb.count()

    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    got = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ist.KINDS["hyperplane"].query(
            spark, index, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in vector.q320_portable_hyperplane_ann(spark, sf).collect()
    ]
    assert got == want

    # replay with a fresh checkpoint: absorb must be idempotent
    ix.run_index_stream(spark, root, "hindex", src, str(tmp_path / "ck2"))
    assert spark.read.parquet(index + "/buckets").count() == 2 * emb.count()


# --------------------------------------------------------------------------
# Streaming graph index (VERDICT r13 item 3): incremental absorb is
# deterministic, replay-idempotent, keeps every absorbed node
# reachable, and holds a pinned recall floor vs exact.
# --------------------------------------------------------------------------
def _exact_topk_ids(spark, emb, q_id, k):
    from pyspark.sql import Window

    from generative_ai_vector_db_spark.functions import vectors as V

    qv = emb.where(F.col("vec_id") == q_id).select(
        F.col("embedding").alias("q_emb")
    )
    w = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return {
        r["vec_id"]
        for r in emb.where(F.col("vec_id") != q_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                V.cosine(F.col("q_emb"), F.col("embedding")), 4
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .collect()
    }


def test_graph_index_incremental_absorb(spark, sf_dir_t2, tmp_path):
    """Seed 90%, stream 10%: absorb must be replay-idempotent and
    deterministic, every absorbed node must have out-edges and be
    beam-reachable, and the query answer over the maintained store
    must keep a recall floor vs exact brute force."""
    from generative_ai_vector_db_spark.operators.graph_ann import (
        GRAPH_DEGREE,
    )
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    seed, late = emb.where(~is_late), emb.where(is_late)

    root = str(tmp_path)
    index = str(tmp_path / "gindex")
    src = str(tmp_path / "gsrc")
    ix.create_index(spark, root, "gindex", "graph", seed)
    late.coalesce(1).write.parquet(src)
    ix.run_index_stream(spark, root, "gindex", src, str(tmp_path / "ck1"))

    edges = ist._graph_index_edges(spark, index)
    late_ids = {r["vec_id"] for r in late.select("vec_id").collect()}
    srcs = {r["src"] for r in edges.select("src").distinct().collect()}
    assert late_ids <= srcs  # every absorbed node has out-edges
    # read-side degree bound holds
    degmax = (
        edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert degmax <= GRAPH_DEGREE + 2

    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    got = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ist.query_graph_index(
            spark, index, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    exact = _exact_topk_ids(spark, emb, vector.BINARY_Q_ID, vector.K)
    recall = len({v for v, _, _ in got} & exact) / vector.K
    # deterministic fixture floor; measured 1.0 at sf0.01 AND sf0.1
    # (QUALITY.md round-14 section) — 0.6 leaves headroom for future
    # fixture regenerations, not for the algorithm
    assert recall >= 0.6

    # replay with a fresh checkpoint: byte-identical edge store + answer
    n_edges = spark.read.parquet(index + "/edges").count()
    ix.run_index_stream(spark, root, "gindex", src, str(tmp_path / "ck2"))
    assert spark.read.parquet(index + "/edges").count() == n_edges
    again = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ist.query_graph_index(
            spark, index, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    assert again == got


# --------------------------------------------------------------------------
# Unified index catalog (VERDICT r13 item 5): the four faces behind
# one create/append/query/open/describe/list contract.
# --------------------------------------------------------------------------
def test_index_catalog_roundtrip_all_kinds(spark, sf_dir_t2, tmp_path):
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "indexroot")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    docs = load(spark, sf_dir_t2, "documents").select("doc_id", "text")
    is_late = F.col("vec_id") % 10 == 3
    seed, late = emb.where(~is_late), emb.where(is_late)

    ix.create_index(spark, root, "vec_ivfpq", "ivfpq", seed)
    ix.create_index(spark, root, "vec_planes", "hyperplane", seed)
    ix.create_index(spark, root, "vec_graph", "graph", seed)
    ix.create_index(spark, root, "doc_neardup", "neardup", docs)

    listed = {
        (r["name"], r["kind"]) for r in ix.list_indexes(spark, root).collect()
    }
    assert listed == {
        ("vec_ivfpq", "ivfpq"),
        ("vec_planes", "hyperplane"),
        ("vec_graph", "graph"),
        ("doc_neardup", "neardup"),
    }

    # append the held-out batch through the catalog, then query: the
    # order-independent kinds must equal their batch ops exactly
    for name in ("vec_ivfpq", "vec_planes", "vec_graph"):
        ix.append_index(spark, root, name, late)
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    got_ivf = [
        (r["vec_id"], r["rn"])
        for r in ix.query_index(
            spark, root, "vec_ivfpq", q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    want_ivf = [
        (r["vec_id"], r["rn"])
        for r in vector.q362_portable_ivfpq_ann(spark, sf_dir_t2).collect()
    ]
    assert got_ivf == want_ivf
    got_hp = [
        (r["vec_id"], r["rn"])
        for r in ix.query_index(
            spark, root, "vec_planes", q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    want_hp = [
        (r["vec_id"], r["rn"])
        for r in vector.q320_portable_hyperplane_ann(
            spark, sf_dir_t2
        ).collect()
    ]
    assert got_hp == want_hp
    # the graph face answers with a recall floor (order-dependent)
    got_g = {
        r["vec_id"]
        for r in ix.query_index(
            spark, root, "vec_graph", q_emb, vector.BINARY_Q_ID
        ).collect()
    }
    exact = _exact_topk_ids(spark, emb, vector.BINARY_Q_ID, vector.K)
    assert len(got_g & exact) / vector.K >= 0.6

    # describe: every declared component present with sane counts, at
    # the manifest version create + one append committed, with the
    # parquet files and bytes its listed subdirectories hold on disk
    rows = ix.describe_index(spark, root, "vec_planes").collect()
    desc = {r["component"]: r["n_rows"] for r in rows}
    assert desc["vectors"] == emb.count()
    assert desc["buckets"] == 2 * emb.count()
    for r in rows:
        assert r["version"] == 2
        on_disk = [
            os.path.join(d, f)
            for d, _, fs in os.walk(f"{root}/vec_planes/{r['component']}")
            for f in fs
            if f.endswith(".parquet")
        ]
        assert r["files"] == len(on_disk) > 0
        assert r["bytes"] == sum(os.path.getsize(f) for f in on_disk)
    comps = ix.open_index(spark, root, "doc_neardup")
    assert set(comps) >= {"bands", "shingles"}

    # neardup has no vector query face by design
    with pytest.raises(ValueError):
        ix.query_index(spark, root, "doc_neardup", q_emb, 0)
    # unknown names/kinds fail loudly
    with pytest.raises(ValueError):
        ix.open_index(spark, root, "nope")
    with pytest.raises(ValueError):
        ix.create_index(spark, root, "x", "btree", emb)
    # re-create refuses to clobber — same kind AND cross-kind (a
    # cross-kind overwrite would orphan the old components on disk)
    with pytest.raises(ValueError, match="already exists"):
        ix.create_index(spark, root, "vec_ivfpq", "ivfpq", emb)
    with pytest.raises(ValueError, match="already exists"):
        ix.create_index(spark, root, "vec_ivfpq", "hyperplane", emb)


# --------------------------------------------------------------------------
# Bench revival rule (VERDICT r13 item 7): the regression tripwire is
# itself tested — a synthetic slow row must revive, in-band rows must
# not, and every retired row must carry a band.
# --------------------------------------------------------------------------
def test_bench_revival_rule():
    import bench

    # every retired row has a recorded band (the rule can always fire)
    assert set(bench.RETIRED) == set(bench.RETIRED_BANDS)

    bands = {"qa": 1.0, "qb": 0.5}
    # in-band and at-threshold rows stay retired; a slow row revives
    assert bench.revived_queries({"qa": 0.9, "qb": 0.74}, bands) == []
    assert bench.revived_queries({"qa": 1.5, "qb": 0.75}, bands) == []
    assert bench.revived_queries({"qa": 1.51, "qb": 0.76}, bands) == [
        "qa",
        "qb",
    ]
    # a row with no band never revives silently wrong (ignored)
    assert bench.revived_queries({"qz": 99.0}, bands) == []
    # the real bands: a synthetic hiccup on q38 (its observed 4.6 s
    # one-off) trips the rule exactly as BASELINE.md documents
    assert bench.revived_queries({"q38_text_quality": 4.6}) == [
        "q38_text_quality"
    ]
    assert bench.revived_queries({"q38_text_quality": 1.8}) == []


def test_index_compaction_preserves_answers(spark, sf_dir_t2, tmp_path):
    """compact_index rewrites each component to its read-side-canonical
    view: row counts shrink (duplicated vectors, superseded graph
    edges), the query answer is byte-identical before/after, and a
    near-dup index keeps the identical results, bands and shingles
    rows (they are unique by construction; only files merge). A crash
    before the compaction's manifest commit is
    test_compact_crash_before_commit_keeps_prior_version."""
    from generative_ai_vector_db_spark import manifest
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    seed, late = emb.where(~is_late), emb.where(is_late)

    for name, kind in (("g", "graph"), ("p", "hyperplane"), ("v", "ivfpq")):
        ix.create_index(spark, root, name, kind, seed)
        ix.append_index(spark, root, name, late)
    docs = load(spark, sf_dir_t2, "documents").select("doc_id", "text")
    is_late_doc = F.col("doc_id") % 10 == 3
    ix.create_index(spark, root, "d", "neardup", docs.where(~is_late_doc))
    ix.append_index(spark, root, "d", docs.where(is_late_doc))

    def neardup_rows():
        comps = ix.open_index(spark, root, "d")
        return {
            c: sorted(tuple(r) for r in comps[c].collect())
            for c in ("results", "bands", "shingles")
        }

    neardup_before = neardup_rows()
    assert neardup_before["results"]  # the absorb classified its batch

    # absorb grows the graph edge store past its read-side view
    raw_edges = spark.read.parquet(root + "/g/edges").count()
    pruned_edges = ist._graph_index_edges(spark, root + "/g").count()
    assert raw_edges > pruned_edges

    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    before = {
        name: [
            (r["vec_id"], r["cos_sim"], r["rn"])
            for r in ix.query_index(
                spark, root, name, q_emb, vector.BINARY_Q_ID
            ).collect()
        ]
        for name in ("g", "p", "v")
    }
    stats = {
        (r["name"], r["component"]): (r["rows_before"], r["rows_after"])
        for name in ("g", "p", "v", "d")
        for r in ix.compact_index(spark, root, name).collect()
    }
    assert stats[("g", "edges")] == (raw_edges, pruned_edges)
    assert neardup_rows() == neardup_before
    compacted = manifest.latest(spark, os.path.join(root, "d"))
    assert all(len(dirs) == 1 for dirs in compacted.components.values())
    # every component's after-count is canonical (<= before)
    assert all(a <= b for b, a in stats.values())
    after = {
        name: [
            (r["vec_id"], r["cos_sim"], r["rn"])
            for r in ix.query_index(
                spark, root, name, q_emb, vector.BINARY_Q_ID
            ).collect()
        ]
        for name in ("g", "p", "v")
    }
    assert after == before
    # compacting a compacted store is a fixpoint
    again = {
        (r["name"], r["component"]): (r["rows_before"], r["rows_after"])
        for r in ix.compact_index(spark, root, "g").collect()
    }
    assert all(b == a for b, a in again.values())


def test_new_query_faces_plan_shapes(spark, sf_dir_t2, tmp_path):
    """The hyperplane face answers on the driver: its result is a
    LocalTableScan, and at a stable version an ask runs exactly one
    Spark job (the collect of the query row). The graph store's
    read-side degree prune keeps WindowGroupLimit (rank pushdown)."""
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.plans.audit import plan_of
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    root = str(tmp_path / "root")
    gidx = str(tmp_path / "root" / "g")
    ix.create_index(spark, root, "h", "hyperplane", emb)
    ix.create_index(spark, root, "g", "graph", emb)
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)

    hits = ix.query_index(spark, root, "h", q_emb, vector.BINARY_Q_ID)
    assert "LocalTableScan" in plan_of(hits)
    sc = spark.sparkContext
    group = "hyperplane-ask-at-stable-version"
    sc.setJobGroup(group, "query_index")
    try:
        ix.query_index(spark, root, "h", q_emb, vector.BINARY_Q_ID)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    gplan = plan_of(ist._graph_index_edges(spark, gidx))
    assert "WindowGroupLimit" in gplan


def test_events_decade_grows_distinct_value_domain():
    """The events decade generator must GROW the distinct-value domain
    with rows (whole-unit per-epoch offsets), not saturate it at the
    fixture's domain: the distributed-prefix family's cost scales with
    the distinct-value domain (the fixture grows it ~N^0.43), so a
    plain value bootstrap would measure the wrong workload at 10x.
    Value-agnostic columns must be untouched by the offset, and
    cent-integerization (the q367/q368 exactness contract) must
    survive it."""
    import numpy as np
    import pyarrow.parquet as pq

    from generative_ai_vector_db_spark.sources.synthetic import (
        synthetic_events_frame,
    )

    src_dir = "/root/testdata/sf0.01"
    src = pq.read_table(src_dir + "/events.parquet").to_pandas()
    pdf = synthetic_events_frame(src_dir, factor=4, seed=17)

    assert len(pdf) == 4 * len(src)
    # domain grows well past the fixture's (saturation would cap it)
    assert pdf["value"].nunique() > 2 * src["value"].nunique()
    # cent-exactness survives the whole-unit stride
    cents = pdf["value"].to_numpy() * 100.0
    assert np.allclose(cents, np.round(cents), atol=1e-6)
    # per-epoch shape preserved exactly: mod the stride recovers a
    # subset of the fixture's value multiset
    stride = float(
        np.floor(src["value"].max()) - np.floor(src["value"].min()) + 1.0
    )
    rec = np.round(pdf["value"].to_numpy() % stride, 2)
    assert np.isin(rec, np.round(src["value"].unique(), 2)).all()
    # deterministic (the probe regenerates on demand)
    assert pdf.equals(synthetic_events_frame(src_dir, factor=4, seed=17))


# --------------------------------------------------------------------------
# Restart recovery: resume the maintenance stream from the SAME
# checkpoint after new files arrive. The replay tests above prove a
# FRESH-checkpoint rerun is absorbed idempotently; this proves the
# other half of exactly-once — a resumed query processes only the
# files that arrived since the last run, and the final index equals
# the all-at-once build.
# --------------------------------------------------------------------------
def test_index_stream_resume_same_checkpoint(spark, sf_dir_t2, tmp_path):
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    ck = str(tmp_path / "ck")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    docs = load(spark, sf_dir_t2, "documents").select("doc_id", "text")
    n_emb, n_docs = emb.count(), docs.count()

    cases = [
        ("ivfpq", emb, "vec_id", "codes", 1),
        ("hyperplane", emb, "vec_id", "buckets", 2),
        ("graph", emb, "vec_id", "vectors", 1),
        ("neardup", docs, "doc_id", "results", 1),
    ]
    for kind, corpus, key, comp, per_row in cases:
        phase_a = F.col(key) % 10 == 3
        phase_b = F.col(key) % 10 == 7
        seed = corpus.where(~phase_a & ~phase_b)
        src = str(tmp_path / f"src_{kind}")
        ix.create_index(spark, root, kind, kind, seed)

        corpus.where(phase_a).coalesce(1).write.mode("append").parquet(src)
        ix.run_index_stream(spark, root, kind, src, f"{ck}_{kind}")
        # new file lands AFTER the first run; SAME checkpoint resumes
        corpus.where(phase_b).coalesce(1).write.mode("append").parquet(src)
        ix.run_index_stream(spark, root, kind, src, f"{ck}_{kind}")

        total = n_emb if key == "vec_id" else n_docs
        comp_df = spark.read.parquet(f"{root}/{kind}/{comp}")
        if kind == "neardup":
            # results cover exactly the two streamed phases, once each
            absorbed = corpus.where(phase_a | phase_b).count()
            assert comp_df.count() == absorbed
            assert comp_df.select(key).distinct().count() == absorbed
        else:
            # phase-A rows absorbed once (not re-processed on resume),
            # phase-B rows absorbed by the resumed query
            assert comp_df.count() == per_row * total
            assert comp_df.select(key).distinct().count() == total

    # the order-independent vector kinds must answer exactly like
    # their batch twins over the full corpus
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    for kind, batch_fn in (
        ("ivfpq", vector.q362_portable_ivfpq_ann),
        ("hyperplane", vector.q320_portable_hyperplane_ann),
    ):
        got = [
            (r["vec_id"], r["rn"])
            for r in ix.query_index(
                spark, root, kind, q_emb, vector.BINARY_Q_ID
            ).collect()
        ]
        want = [
            (r["vec_id"], r["rn"])
            for r in batch_fn(spark, sf_dir_t2).collect()
        ]
        assert got == want


# --------------------------------------------------------------------------
# Streaming anytime-valid monitors: the q367/q368 e-processes
# maintained per micro-batch. E-processes exist for exactly this
# deployment (valid at any stopping rule = read after every trigger);
# integer partials merge associatively, so stream==batch is EXACT.
# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_monitor_streams_equal_batch(spark, sf, tmp_path):
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.operators import stats
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    ev = load(spark, sf, "events")
    root = str(tmp_path)

    cases = [
        (
            "ab",
            "ab_monitor",
            ist.KINDS["ab_monitor"].read,
            stats.q367_anytime_ab_monitor,
            ("day", "n_t", "k_t", "log_e", "rejected"),
        ),
        (
            "drift",
            "drift_monitor",
            ist.KINDS["drift_monitor"].read,
            stats.q368_drift_edetector,
            ("day", "n_t", "log_e", "rejected"),
        ),
    ]
    for name, kind, read_fn, batch_fn, cols in cases:
        src = str(tmp_path / f"src_{name}")
        mon = str(tmp_path / f"mon_{name}")
        ck = str(tmp_path / f"ck_{name}")
        ix.create_index(spark, root, f"mon_{name}", kind, ev.limit(0))
        # slices interleave DAYS across micro-batches (the hard case:
        # every day's counts must merge across triggers)
        for s in (0, 1):
            ev.where(F.col("event_id") % 3 == s).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        ix.run_index_stream(
            spark, root, f"mon_{name}", src, ck, max_files_per_trigger=1
        )
        # a later file resumes the SAME checkpoint (restart recovery)
        ev.where(F.col("event_id") % 3 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        ix.run_index_stream(
            spark, root, f"mon_{name}", src, ck, max_files_per_trigger=1
        )

        got = [
            tuple(r[c] for c in cols) for r in read_fn(spark, mon).collect()
        ]
        want = [
            tuple(r[c] for c in cols) for r in batch_fn(spark, sf).collect()
        ]
        assert got == want and len(want) > 0, name

        # replay the whole stream under a FRESH checkpoint: partials
        # re-append under the same batch_ids; the read-side dedup
        # must keep the monitor identical
        ix.run_index_stream(
            spark, root, f"mon_{name}", src, str(tmp_path / f"ck2_{name}")
        )
        got2 = [
            tuple(r[c] for c in cols) for r in read_fn(spark, mon).collect()
        ]
        assert got2 == want, name


def test_index_catalog_drop(spark, sf_dir_t2, tmp_path):
    """drop_index removes the index from the catalog AND disk, fails
    loudly on unknown names, and frees the name for re-create."""
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    ix.create_index(spark, root, "a", "hyperplane", emb)
    ix.create_index(spark, root, "b", "ivfpq", emb)

    ix.drop_index(spark, root, "a")
    listed = {r["name"] for r in ix.list_indexes(spark, root).collect()}
    assert listed == {"b"}
    import os as _os

    assert not _os.path.exists(str(tmp_path / "root" / "a"))
    with pytest.raises(ValueError):
        ix.open_index(spark, root, "a")
    with pytest.raises(ValueError):
        ix.drop_index(spark, root, "a")  # already gone -> loud
    # the name is free again, and the survivor is untouched
    ix.create_index(spark, root, "a", "graph", emb)
    listed = {
        (r["name"], r["kind"]) for r in ix.list_indexes(spark, root).collect()
    }
    assert listed == {("a", "graph"), ("b", "ivfpq")}


def test_monitor_stream_before_first_matching_event(spark, tmp_path):
    """A monitor deployed before any matching event arrives must stay
    readable: a micro-batch with zero click/purchase rows appends a
    zero-row (schema-preserving) partial and the monitor reads as
    empty rather than throwing; matching events in a later file then
    populate it through the same checkpoint."""
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.operators import stats
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    ev = load(spark, "/root/testdata/sf0.001", "events")
    root = str(tmp_path)
    src = str(tmp_path / "src")
    mon = str(tmp_path / "mon")
    ck = str(tmp_path / "ck")

    ix.create_index(spark, root, "mon", "ab_monitor", ev.limit(0))
    ev.where(F.col("event_type") == "view").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ix.run_index_stream(spark, root, "mon", src, ck)
    assert ist.KINDS["ab_monitor"].read(spark, mon).count() == 0

    ev.where(F.col("event_type") != "view").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ix.run_index_stream(spark, root, "mon", src, ck)
    got = [
        (r["day"], r["n_t"], r["k_t"], r["log_e"], r["rejected"])
        for r in ist.KINDS["ab_monitor"].read(spark, mon).collect()
    ]
    want = [
        (r["day"], r["n_t"], r["k_t"], r["log_e"], r["rejected"])
        for r in stats.q367_anytime_ab_monitor(
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == want and len(want) > 0
