"""Equivalence lock for the driver-side index probe.

The ``ivfpq`` and ``hyperplane`` query faces (``KINDS[kind].query``,
one driver probe with a candidate rule per kind) answer an ask on
the driver from numpy arrays cached per committed subdirectory. The two
``spark_query_*`` functions below are the Spark plans those faces ran
before, kept verbatim (imports made absolute) as the frozen reference:
the driver answer must equal theirs row for row, bit for bit. The
cache-coherence tests pin the other half of the contract: appends,
compactions and drop + re-create are served at once, and the cache
holds exactly what the latest manifest lists.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generative_ai_vector_db_spark import manifest
from generative_ai_vector_db_spark.operators import indexes as ix
from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.streaming import ingest_stream as ist
from generative_ai_vector_db_spark.streaming.ingest_stream import _vectors
from generative_ai_vector_db_spark.tables import load

from .conftest import _jobs

# ---------------------------------------------------------------------------
# The frozen reference: the Spark-plan faces, verbatim.
# ---------------------------------------------------------------------------
def spark_query_vector_index(
    spark: SparkSession, index_path: str, q_emb: DataFrame, q_id: int
) -> DataFrame:
    """q362's probe pipeline against the PERSISTED index: probe the
    IVF_NPROBE nearest pinned cells, ADC-score the cells' PQ codes
    against the broadcast query table, exact-re-rank the shortlist.
    Floats are fetched from the vector store only for the shortlist;
    the corpus is never re-encoded."""
    from pyspark.sql import Window

    from generative_ai_vector_db_spark.functions import vectors as V
    from generative_ai_vector_db_spark.operators.vector import (
        IVF_NPROBE,
        K,
        PPQ_M,
        PPQ_SHORTLIST,
        _int8_codes,
        _ivf_dots,
        _pq_qtable,
    )

    m = manifest.latest(spark, index_path)
    idx = manifest.read(spark, index_path, m, "codes")
    store_emb = _vectors(spark, index_path, m)
    qc = _int8_codes(q_emb).select("vec_id", "code")
    qdots = qc.select(
        F.posexplode(_ivf_dots(F.col("code"))).alias("cell", "qdot")
    )
    w = Window.orderBy(F.col("qdot").desc(), "cell")
    probed = (
        qdots.withColumn("pr", F.row_number().over(w))
        .where(F.col("pr") <= IVF_NPROBE)
        .select(F.col("cell").cast("bigint").alias("cell"))
    )
    qt = _pq_qtable(qc)
    adc_col = None
    for m in range(PPQ_M):
        term = F.element_at(
            F.element_at("qt", m + 1),
            (F.element_at("pqc", m + 1) + F.lit(1)).cast("int"),
        )
        adc_col = term if adc_col is None else adc_col + term
    ws = Window.orderBy(F.col("adc").asc(), "vec_id")
    shortlist = (
        idx.where(F.col("vec_id") != q_id)
        .join(F.broadcast(probed), "cell")
        .crossJoin(F.broadcast(qt))
        .select("vec_id", adc_col.cast("bigint").alias("adc"))
        .withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= PPQ_SHORTLIST)
        .select("vec_id")
    )
    qv = q_emb.select(F.col("embedding").alias("q_emb"))
    exact = (
        shortlist.join(store_emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        exact.withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


def spark_query_hyperplane_index(
    spark: SparkSession, index_path: str, q_emb: DataFrame, q_id: int
) -> DataFrame:
    """q320's probe pipeline against the PERSISTED bucket table: the
    query vector's own buckets expand to the pinned flip neighborhood,
    candidates come from a broadcast probe join against the persisted
    buckets, and only the candidate set fetches floats for the exact
    cosine re-rank."""
    from pyspark.sql import Window

    from generative_ai_vector_db_spark.functions import vectors as V
    from generative_ai_vector_db_spark.operators.vector import (
        ANN_PROBE_FLIPS,
        K,
        _hyperplane_buckets,
    )

    m = manifest.latest(spark, index_path)
    idx = manifest.read(spark, index_path, m, "buckets")
    store_emb = _vectors(spark, index_path, m)
    probes = _hyperplane_buckets(q_emb).select(
        F.col("tbl").alias("p_tbl"),
        F.explode(
            F.array(
                *[
                    F.col("bucket").bitwiseXOR(F.lit(f))
                    for f in ANN_PROBE_FLIPS
                ]
            )
        ).alias("probe"),
    )
    cand = (
        idx.where(F.col("vec_id") != q_id)
        .join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe"))
            & (F.col("tbl") == F.col("p_tbl")),
        )
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    qv = q_emb.select(F.col("embedding").alias("q_emb"))
    scored = (
        cand.join(store_emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# Driver answer == Spark reference
# ---------------------------------------------------------------------------
KINDS = {
    "ivfpq": (ist.KINDS["ivfpq"].query, spark_query_vector_index),
    "hyperplane": (ist.KINDS["hyperplane"].query, spark_query_hyperplane_index),
}


def _answer(df: DataFrame) -> list[tuple]:
    return [(r["vec_id"], r["cos_sim"], r["rn"]) for r in df.collect()]


@pytest.mark.parametrize("scale", ["sf0.01", "sf0.1"])
def test_driver_probe_equals_spark_reference(spark, sf_dir_t2, scale, tmp_path):
    """Seed 90% and absorb the rest (two subdirectories per component),
    then 20 asks per kind must answer exactly as the Spark plan does."""
    sf = os.path.join(os.path.dirname(sf_dir_t2), scale)
    root = str(tmp_path / "root")
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    for kind in KINDS:
        ix.create_index(spark, root, kind, kind, emb.where(~is_late))
        ix.append_index(spark, root, kind, emb.where(is_late))
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    for kind, (face, ref) in KINDS.items():
        path = os.path.join(root, kind)
        for q in ids[:: len(ids) // 20][:20]:
            q_emb = emb.where(F.col("vec_id") == q)
            got = _answer(face(spark, path, q_emb, q))
            assert got == _answer(ref(spark, path, q_emb, q)), (kind, q)


def _frame(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


def test_driver_probe_edge_cases_equal_spark_reference(spark, tmp_path):
    """A seed corpus with a duplicated vec_id and an all-zero vector,
    plus an absorb of only seen ids (an empty committed subdirectory).
    The zero vector scores null and sorts last; the Spark reference
    runs with ANSI off, since its ANSI division raised on a zero norm
    where the driver probe scores null."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, vector.EMB_DIM)).astype(np.float32)
    zero = np.zeros(vector.EMB_DIM, dtype=np.float32)
    corpus = list(enumerate(vecs)) + [(5, vecs[5]), (99, zero)]
    emb = _frame(spark, corpus)
    root = str(tmp_path / "root")
    for kind in KINDS:
        ix.create_index(spark, root, kind, kind, emb)
        ix.append_index(spark, root, kind, _frame(spark, corpus[:3]))
        m = manifest.latest(spark, os.path.join(root, kind))
        assert len(m.components["vectors"]) == 2  # the second is empty

    # asks picked so that every case shows: the zero vector among the
    # candidates of both kinds (2, 8, 11), the duplicated vec_id 5 in
    # an ivfpq answer (6), and a zero query, where every score is null
    # and every cell dot ties (the probe takes the lowest cells)
    queries = [(q, _frame(spark, [(q, vecs[q])])) for q in (2, 6, 8, 11)]
    queries.append((-1, _frame(spark, [(-1, zero)])))
    saw_null, saw_repeat = set(), set()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for kind, (face, ref) in KINDS.items():
            path = os.path.join(root, kind)
            for q, q_emb in queries:
                got = _answer(face(spark, path, q_emb, q))
                assert got == _answer(ref(spark, path, q_emb, q))
                sims = [s for _, s, _ in got]
                nulls = sims.count(None)
                assert None not in sims[: len(sims) - nulls], (kind, q)
                if nulls and q != -1:
                    saw_null.add(kind)
                if len({i for i, _, _ in got}) < len(got):
                    saw_repeat.add(kind)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert saw_null == set(KINDS)
    assert saw_repeat == {"ivfpq"}  # code rows are not deduped

    # the graph face takes its query row the same way
    ix.create_index(spark, root, "graph", "graph", _frame(spark, corpus[:40]))
    faces = {kind: face for kind, (face, _) in KINDS.items()}
    faces["graph"] = ist.query_graph_index
    for kind, face in faces.items():
        path = os.path.join(root, kind)
        empty = face(spark, path, emb.limit(0), 0)
        assert empty.collect() == []
        assert empty.schema.simpleString() == (
            "struct<vec_id:bigint,cos_sim:double,rn:bigint>"
        )
        with pytest.raises(ValueError):
            face(spark, path, emb.where(F.col("vec_id") < 2), 0)


def test_round4_is_sparks_round(spark):
    """Fixture cosines almost never sit on a decimal tie, so the rule
    is pinned directly: HALF_UP on the shortest decimal (0.00015 is
    just below the tie in binary), and a negative that rounds to zero
    comes back as 0.0, not -0.0."""
    import math

    xs = [0.00015, -0.00015, 0.12345, 0.99995, -0.99995, 1e-05, -4e-05,
          0.26755, 1 / 3, -2 / 3, 1.0, 0.0]
    want = [
        r[0]
        for r in spark.createDataFrame([(x,) for x in xs], "x double")
        .select(F.round("x", 4))
        .collect()
    ]
    got = [ist._round4(x) for x in xs]
    assert [(v, math.copysign(1, v)) for v in got] == [
        (v, math.copysign(1, v)) for v in want
    ]


# ---------------------------------------------------------------------------
# Cache coherence
# ---------------------------------------------------------------------------
def _ids(spark, root, name, q_emb, q_id):
    hits = ix.query_index(spark, root, name, q_emb, q_id)
    return [r["vec_id"] for r in hits.collect()]


def test_query_after_append_serves_appended_members(spark, sf_dir_t2, tmp_path):
    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    late_id = emb.where(is_late).agg(F.min("vec_id")).first()[0]
    q_emb = emb.where(F.col("vec_id") == late_id)
    for kind in KINDS:
        ix.create_index(spark, root, kind, kind, emb.where(~is_late))
        assert late_id not in _ids(spark, root, kind, q_emb, -1)
        ix.append_index(spark, root, kind, emb.where(is_late))
        assert _ids(spark, root, kind, q_emb, -1)[0] == late_id


def _cached(path):
    prefix = os.path.join(path, "")
    return {k for k in ist._PROBE_CACHE if k.startswith(prefix)}


def test_cache_keys_equal_listed_subdirectories_after_compactions(
    spark, sf_dir, tmp_path
):
    root = str(tmp_path / "root")
    path = os.path.join(root, "v")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    ix.create_index(spark, root, "v", "ivfpq", emb.where(F.col("vec_id") % 6 != 0))
    for cycle in range(5):
        ix.append_index(spark, root, "v", emb.where(F.col("vec_id") % 30 == 6 * cycle))
        before = _ids(spark, root, "v", q_emb, vector.BINARY_Q_ID)
        ix.compact_index(spark, root, "v")
        assert _ids(spark, root, "v", q_emb, vector.BINARY_Q_ID) == before
    m = manifest.latest(spark, path)
    listed = {d for c in m.components for d in manifest.paths(path, m, c)}
    assert _cached(path) == listed


def test_drop_and_recreate_serves_new_rows(spark, sf_dir, tmp_path):
    root = str(tmp_path / "root")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    for kind in KINDS:
        ix.create_index(spark, root, kind, kind, emb.where(F.col("vec_id") % 2 == 0))
        assert all(i % 2 == 0 for i in _ids(spark, root, kind, q_emb, -1))
        ix.drop_index(spark, root, kind)
        assert not _cached(os.path.join(root, kind))
        ix.create_index(spark, root, kind, kind, emb.where(F.col("vec_id") % 2 == 1))
        got = _ids(spark, root, kind, q_emb, -1)
        assert got and all(i % 2 == 1 for i in got)


def test_cache_fill_runs_one_job_per_subdirectory(spark, sf_dir, tmp_path):
    """After a compaction every component is one new subdirectory. The
    first ask then runs the collect of its query row plus one job per
    component it decodes (codes, vectors), and the first near-dup
    absorb its batch collect plus one job per component (bands,
    shingles, results); a fill reads with the component's DDL, so no
    schema inference job runs."""
    root = str(tmp_path / "root")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    ix.create_index(spark, root, "v", "ivfpq", emb.where(F.col("vec_id") % 2 == 0))
    ix.append_index(spark, root, "v", emb.where(F.col("vec_id") % 2 == 1))
    want = _ids(spark, root, "v", q_emb, -1)
    ix.compact_index(spark, root, "v")
    got = []
    assert _jobs(spark, "ivfpq-ask-after-compaction",
                 lambda: got.extend(_ids(spark, root, "v", q_emb, -1))) == 3
    assert got == want

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phase = F.col("doc_id") % 10
    ix.create_index(spark, root, "d", "neardup", docs.where(phase < 8))
    ix.append_index(spark, root, "d", docs.where(phase == 8))
    ix.compact_index(spark, root, "d")
    batch = docs.where(phase == 9)
    assert _jobs(spark, "neardup-absorb-after-compaction",
                 lambda: ix.append_index(spark, root, "d", batch)) == 4


def test_np_column_refuses_ragged_lists():
    import pyarrow as pa

    with pytest.raises(ValueError):
        ist._np_column(pa.chunked_array([pa.array([[1, 2, 3], [4]])]))
    square = ist._np_column(pa.chunked_array([pa.array([[1, 2], [3, 4]])]))
    assert square.tolist() == [[1, 2], [3, 4]]
