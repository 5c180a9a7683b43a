"""Chunking operators — reference R9 (SURVEY §2.A):
``RecursiveCharacterTextSplitter(chunk_size=1000, chunk_overlap=200)
.split_documents(docs)`` + blank-chunk filter,
``helper/multiple_document_upload.py:121-127``.

Two implementations:

* **Stride chunker (Q24)** — fixed-size character windows with overlap,
  expressed ENTIRELY in built-in expressions (``sequence`` → ``explode``
  → ``substr``): zero Python, whole-stage codegen, and exactly
  SQL-expressible for the DuckDB oracle. This is the 100 TB workhorse:
  a narrow per-row expansion with no shuffle at all.
* **Recursive chunker** — our deterministic reimplementation of the
  reference's recursive separator cascade (``\\n\\n`` → ``\\n`` → space
  → char), greedy merge up to ``size`` with an ``overlap`` tail. Exposed
  as an Arrow-batched UDF + ``posexplode``; property-tested in
  tests/test_chunker_properties.py (every chunk ≤ size, non-blank, a substring of
  the source). Driver check is rows-only (a Python algorithm has no pure
  SQL twin).

Fixture texts are ≤553 chars, so the t2 query uses size=120/overlap=30
to actually produce multiple chunks; the ingest pipeline (ingest.py)
uses the reference's 1000/200.
"""

from __future__ import annotations

import pandas as pd  # module-global: pandas_udf resolves string hints

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import load

# t2 parameters (reference uses 1000/200; fixture texts are too short)
SIZE = 120
STRIDE = 90  # overlap 30


# ---------------------------------------------------------------------------
# Q24 — stride chunker, pure built-ins.
# n_chunks = floor((len-1)/stride) + 1  (every chunk starts at i*stride < len)
# ---------------------------------------------------------------------------
def q24_chunk_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_chunks = (F.floor((F.length("text") - 1) / STRIDE) + 1).cast("int")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"),
        )
        .select(
            "doc_id",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            F.col("text")
            .substr(F.col("chunk_index") * STRIDE + 1, F.lit(SIZE))
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
        .where(F.trim("chunk_text") != "")  # reference's blank-chunk filter, :127
        .orderBy("doc_id", "chunk_index")
    )


Q24_SQL = f"""
WITH expanded AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(floor((length(text) - 1) / {STRIDE}) AS BIGINT))) AS chunk_index
  FROM documents
)
SELECT doc_id,
       CAST(chunk_index AS BIGINT) AS chunk_index,
       substring(text, CAST(chunk_index * {STRIDE} + 1 AS INTEGER), {SIZE}) AS chunk_text,
       CAST(length(substring(text, CAST(chunk_index * {STRIDE} + 1 AS INTEGER), {SIZE})) AS BIGINT) AS chunk_len
FROM expanded
WHERE trim(substring(text, CAST(chunk_index * {STRIDE} + 1 AS INTEGER), {SIZE})) != ''
ORDER BY doc_id, chunk_index
"""


# ---------------------------------------------------------------------------
# Recursive chunker — deterministic reimplementation of R9's algorithm
# shape (separator cascade + greedy merge + overlap tail). This is OUR
# documented algorithm (SURVEY §7 watch-list item 2): we match the
# reference's parameters and separator cascade, not LangChain's exact
# merge bit-behavior.
# ---------------------------------------------------------------------------
SEPARATORS = ("\n\n", "\n", " ", "")


def recursive_chunks(
    text: str,
    size: int = 1000,
    overlap: int = 200,
    separators: tuple[str, ...] = SEPARATORS,
) -> list[str]:
    """Split ``text`` into chunks of at most ``size`` chars.

    Algorithm (deterministic): pick the first separator present in the
    text; split; greedily merge consecutive pieces while the joined
    length stays <= size; when a chunk closes, seed the next chunk with
    the longest suffix of whole pieces totalling <= overlap chars.
    Pieces longer than ``size`` recurse with the remaining separators
    (character-stride at the "" base case). Blank chunks are dropped
    (reference :127).
    """
    if not text or not text.strip():
        return []
    if len(text) <= size:
        return [text]

    sep = ""
    for s in separators:
        if s and s in text:
            sep = s
            break
    if sep == "":
        stride = max(size - overlap, 1)
        return [
            text[i : i + size]
            for i in range(0, len(text), stride)
            if text[i : i + size].strip()
        ]

    rest = separators[separators.index(sep) + 1 :] or ("",)
    chunks: list[str] = []
    cur: list[str] = []
    cur_len = 0  # len(sep.join(cur)), kept as pieces come and go

    def close() -> None:
        if cur:
            joined = sep.join(cur)
            if joined.strip():
                chunks.append(joined)

    for p in text.split(sep):
        if len(p) > size:
            close()
            cur, cur_len = [], 0
            chunks.extend(recursive_chunks(p, size, overlap, rest))
            continue
        if cur and cur_len + len(sep) + len(p) > size:
            close()
            # the tail cur[start:] grows backwards while its joined
            # length stays <= overlap
            start, tail_len = len(cur), 0
            while start:
                longer = len(cur[start - 1]) + (
                    tail_len + len(sep) if start < len(cur) else 0
                )
                if longer > overlap:
                    break
                start, tail_len = start - 1, longer
            # the overlap seed plus the incoming piece may itself exceed
            # size (short text, overlap-sized seed): drop seed pieces
            # oldest-first until the chunk bound holds
            while start < len(cur) and tail_len + len(sep) + len(p) > size:
                start += 1
                tail_len = tail_len - len(cur[start - 1]) - len(sep) if start < len(cur) else 0
            cur, cur_len = cur[start:], tail_len
        cur_len = cur_len + len(sep) + len(p) if cur else len(p)
        cur.append(p)
    close()
    return chunks


def chunk_udf(size: int = 1000, overlap: int = 200):
    """Arrow-batched chunker UDF (round-5 advice): the algorithm is
    necessarily Python, but the OLD ``@F.udf`` form paid per-row pickle
    serialization on the ingest hot path (q48, operators/ingest.py,
    streaming/ingest_stream.py). A scalar ``pandas_udf`` runs the
    IDENTICAL ``recursive_chunks`` per Arrow batch — same outputs (the
    property tests pin the scalar fn and this wrapper agree), but the
    Python worker receives columnar Arrow batches instead of pickled
    rows: at 100 TB ingest that is the difference between
    Python-worker saturation and Arrow-bound throughput."""

    @F.pandas_udf(returnType=T.ArrayType(T.StringType()))
    def _chunks(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: recursive_chunks(t or "", size, overlap)
        )

    return _chunks


def q48_chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver check; invariants property-tested in pytest."""
    docs = load(spark, sf_dir, "documents")
    udf = chunk_udf(size=SIZE, overlap=30)
    return (
        docs.select("doc_id", F.posexplode(udf("text")).alias("chunk_index", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            "chunk_text",
            F.length("chunk_text").cast("bigint").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_index")
    )


# ---------------------------------------------------------------------------
# Python UDTF form (Spark 4): the declared UDTF surface (SURVEY §2.A
# "UDAF/UDTF surface beyond R9"). Same stride algorithm as Q24, consumed
# via a LATERAL join — hash-matches the SAME oracle SQL, proving the
# UDTF path computes identically to the pure-expression path.
# Scale: UDTFs run in the Arrow python worker per partition — use for
# 1:N expansions whose logic genuinely needs Python; prefer the
# built-in expression form (q24) when expressible.
# ---------------------------------------------------------------------------
def _stride_chunk_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_index: bigint, chunk_text: string")
    class StrideChunk:
        def eval(self, text: str, size: int, stride: int):
            if not text:
                return
            i, idx = 0, 0
            while i < len(text):
                yield idx, text[i : i + size]
                idx += 1
                i += stride

    return StrideChunk


def q75_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("stride_chunk", _stride_chunk_udtf())
    out = spark.sql(
        f"""
        SELECT doc_id, chunk_index, chunk_text
        FROM _udtf_docs, LATERAL stride_chunk(text, {SIZE}, {STRIDE})
        """
    )
    return (
        out.withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
        .where(F.trim("chunk_text") != "")
        .orderBy("doc_id", "chunk_index")
    )


QUERIES = {
    "q24_chunk_stride": q24_chunk_stride,
    "q48_chunk_recursive": q48_chunk_recursive,
    "q75_chunk_udtf": q75_chunk_udtf,
}

ORACLE = {
    "q24_chunk_stride": Q24_SQL,
    "q75_chunk_udtf": Q24_SQL,  # identical semantics, independent engine path
}
