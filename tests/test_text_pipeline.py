from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import chunker, ingest, text
from generative_ai_vector_db_spark.tables import load

from .oracle_utils import compare_query

ALL = [
    *(("chunker", k) for k in sorted(chunker.ORACLE)),
    *(("ingest", k) for k in sorted(ingest.ORACLE)),
    *(("text", k) for k in sorted(text.ORACLE)),
]
MODS = {"chunker": chunker, "ingest": ingest, "text": text}


@pytest.mark.parametrize("mod,name", ALL)
def test_text_pipeline_matches_oracle(spark, sf_dir, mod, name):
    m = MODS[mod]
    compare_query(spark, sf_dir, m.QUERIES[name], m.ORACLE[name], name)


# ---- recursive chunker properties (SURVEY §5.2) ----
TEXTS = [
    "",
    "   ",
    "short text",
    "word " * 500,
    ("para one. " * 30 + "\n\n") * 5,
    ("line\n" * 40 + "\n\n") * 3,
    "x" * 3000,  # no separators at all -> char stride
    "a b\n\nc d\n\n" + "e" * 1500 + "\n\nf g",
]


@pytest.mark.parametrize("i", range(len(TEXTS)))
def test_recursive_chunker_invariants(i):
    t = TEXTS[i]
    chunks = chunker.recursive_chunks(t, size=100, overlap=20)
    assert all(len(c) <= 100 for c in chunks), [len(c) for c in chunks]
    assert all(c.strip() for c in chunks)  # blank-chunk filter (ref :127)
    assert all(c in t for c in chunks)  # every chunk is a contiguous span
    if t.strip() and len(t) <= 100:
        assert chunks == [t]


def test_recursive_chunker_coverage():
    t = "word{} ".format(0) * 1 + " ".join(f"word{i}" for i in range(400))
    chunks = chunker.recursive_chunks(t, size=100, overlap=20)
    # every word appears in at least one chunk
    joined = " ".join(chunks)
    for i in range(400):
        assert f"word{i}" in joined


def test_ingest_pipeline_output(spark, sf_dir):
    # the raw pipeline still carries the embedding array ...
    raw = ingest.ingest_pipeline(spark, sf_dir).toPandas()
    assert len(raw) > 0
    # only odd doc_ids survive the anti-join against the even-id store
    assert (raw["doc_id"] % 2 == 1).all()
    assert (raw["user"] == "user@example.com").all()
    assert raw["embedding"].map(len).eq(ingest.EMBED_DIM).all()
    assert raw["file_hash"].str.len().eq(64).all()
    # ... while the q50 driver surface flattens it to digest + dim
    pdf = ingest.q50_ingest_pipeline(spark, sf_dir).toPandas()
    assert len(pdf) == len(raw)
    assert "embedding" not in pdf.columns
    assert pdf["embedding_digest"].str.len().eq(64).all()
    assert (pdf["embedding_dim"] == ingest.EMBED_DIM).all()


def test_embed_expr_equals_one_column_per_feature(spark, sf_dir):
    """``embed_expr`` is one transform over a 0..dim-1 sequence; the
    reference is the form it replaced, one xxhash64 column per feature.
    Every document's vector must come out bit-identical, with the same
    type."""

    def one_column_per_feature(col, dim=ingest.EMBED_DIM):
        return F.array(*[
            (F.xxhash64(col, F.lit(i)) / F.lit(float(2**63))).cast("float")
            for i in range(dim)
        ])

    docs = load(spark, sf_dir, "documents")
    out = docs.select(
        "doc_id",
        ingest.embed_expr(F.col("text")).alias("got"),
        one_column_per_feature(F.col("text")).alias("want"),
    )
    assert out.schema["got"].dataType == out.schema["want"].dataType
    rows = out.collect()
    assert len(rows) == docs.count() > 0
    for r in rows:
        got = np.array(r["got"], dtype=np.float32)
        want = np.array(r["want"], dtype=np.float32)
        assert got.tobytes() == want.tobytes(), r["doc_id"]


def test_lang_id_mostly_english(spark, sf_dir):
    pdf = text.q37_lang_id(spark, sf_dir).toPandas()
    # fixture texts are English-ish word salad; heuristic should not
    # misfire to other languages on a majority of docs
    assert (pdf["predicted_lang"].isin(["en", "unknown"])).mean() > 0.9


def test_bigrams_and_shingles_short_docs(spark):
    """ADVICE r01: size-1 word arrays used to hit element_at(words, 0)
    ('SQL array indices start at 1') via sequence(0, -1); short docs
    must yield EMPTY gram sets, matching the DuckDB generate_series
    twins."""
    from pyspark.sql import functions as F

    from generative_ai_vector_db_spark.operators.dedup import with_shingles
    from generative_ai_vector_db_spark.operators.text import _bigrams, _words

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "three word text")],
        "doc_id long, text string",
    )
    grams = (
        docs.select("doc_id", _words(F.col("text")).alias("words"))
        .select("doc_id", _bigrams(F.col("words")).alias("grams"))
        .toPandas()
        .set_index("doc_id")["grams"]
        .map(list)
        .to_dict()
    )
    assert grams[1] == []  # split("") -> [""] -> one word -> no bigram
    assert grams[2] == []
    assert grams[3] == ["two words"]
    assert grams[4] == ["three word", "word text"]

    sh = (
        with_shingles(docs)
        .toPandas()
        .set_index("doc_id")["shingles"]
        .map(list)
        .to_dict()
    )
    assert sh[1] == [] and sh[2] == [] and sh[3] == []
    assert sh[4] == ["three word text"]


def test_q145_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_distinct); norm_entropy in [0, 1]; single-word
    docs (if any) pin both to 0."""
    import numpy as np

    from generative_ai_vector_db_spark.operators import text

    pdf = text.QUERIES["q145_token_entropy"](spark, sf_dir).toPandas()
    assert (pdf["entropy"] >= 0).all()
    cap = np.log(pdf["n_distinct"].astype(float)).round(4)
    assert (pdf["entropy"] <= cap + 1e-9).all()
    assert pdf["norm_entropy"].between(0.0, 1.0).all()
    assert (pdf["n_distinct"] <= pdf["n_words"]).all()
