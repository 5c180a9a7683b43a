"""Ingest pipeline — reference §3.1 (``POST /upload-pdf``) re-expressed
as one batch job: route → chunk → hash → dedup → stamp → embed → append.

Q29 replicates the reference's reject routing with its EXACT reason
strings and precedence (``helper/multiple_document_upload.py:77-176``):

1. extension not in the 12-entry allow-list  -> "Unsupported file type" (:85)
2. loader raised                             -> "Loader error: ..."     (:107)
3. loader returned no docs                   -> "No readable content found" (:116)
4. all chunks blank                          -> "No valid text chunks
   (scanned / image-based / text-box document)" (:134)
5. file_hash already in store                -> "File already exists"   (:147)
6. else indexed (reason NULL)

(The ":95" branch — loader factory returning None — is unreachable:
every allow-listed extension has a loader. We preserve that invariant.)

Scale: routing is a CASE expression over a file manifest (binaryFile
listing at 100 TB) — a narrow projection. The dedup probe (R11) is a
left-anti join on ``file_hash`` — a uniform 32-byte key shuffle, or a
broadcast of the new batch's hashes when the batch is small relative to
the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from .chunker import SIZE as STRIDE_SIZE
from .chunker import STRIDE, chunk_udf

SUPPORTED_EXTENSIONS = [  # helper/multiple_document_upload.py:24-30
    "pdf", "txt", "md", "csv", "doc", "docx",
    "xls", "xlsx", "ppt", "pptx", "html", "htm",
]

REASON_UNSUPPORTED = "Unsupported file type"
REASON_NO_CONTENT = "No readable content found"
REASON_NO_CHUNKS = "No valid text chunks (scanned / image-based / text-box document)"
REASON_DUPLICATE = "File already exists"

# Fixture manifest: all 12 supported extensions, the reject paths, and
# unsupported files. (filename, load_error, has_content, has_chunks, is_dup)
INGEST_FIXTURE = [
    ("report.pdf", None, True, True, False),
    ("notes.txt", None, True, True, False),
    ("readme.md", None, True, True, False),
    ("data.csv", None, True, True, False),
    ("letter.doc", None, True, True, False),
    ("letter2.docx", None, True, True, False),
    ("sheet.xls", None, True, True, False),
    ("sheet2.xlsx", None, True, True, False),
    ("deck.ppt", None, True, True, False),
    ("deck2.pptx", None, True, True, False),
    ("page.html", None, True, True, False),
    ("page2.htm", None, True, True, False),
    ("UPPER.PDF", None, True, True, False),  # lower-cased ext parse, :77
    ("archive.zip", None, True, True, False),
    ("binary.exe", None, True, True, False),
    ("noextension", None, True, True, False),
    ("weird.tar.gz", None, True, True, False),  # last segment wins -> gz
    ("corrupt.pdf", "EOF marker not found", True, True, False),
    ("empty.txt", None, False, True, False),
    ("scanned.pdf", None, True, False, False),
    ("dup.txt", None, True, True, True),
    ("Dup2.MD", None, True, True, True),
]

FIXTURE_SCHEMA = "filename string, load_error string, has_content boolean, has_chunks boolean, is_dup boolean"


def q29_ingest_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = spark.createDataFrame(INGEST_FIXTURE, schema=FIXTURE_SCHEMA)
    ext = F.element_at(F.split(F.lower("filename"), "\\."), -1)
    supported = ext.isin(SUPPORTED_EXTENSIONS)
    reason = (
        F.when(~supported, F.lit(REASON_UNSUPPORTED))
        .when(F.col("load_error").isNotNull(), F.concat(F.lit("Loader error: "), "load_error"))
        .when(~F.col("has_content"), F.lit(REASON_NO_CONTENT))
        .when(~F.col("has_chunks"), F.lit(REASON_NO_CHUNKS))
        .when(F.col("is_dup"), F.lit(REASON_DUPLICATE))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        files.select(
            "filename",
            ext.alias("ext"),
            reason.isNull().alias("indexed"),
            reason.alias("reason"),
        )
        .orderBy("filename")
    )


def _fixture_values_sql() -> str:
    rows = []
    for fn, err, content, chunks, dup in INGEST_FIXTURE:
        err_sql = "NULL" if err is None else "'" + err.replace("'", "''") + "'"
        rows.append(
            f"('{fn}', {err_sql}, {str(content).upper()}, {str(chunks).upper()}, {str(dup).upper()})"
        )
    return ",\n    ".join(rows)


Q29_SQL = f"""
WITH files(filename, load_error, has_content, has_chunks, is_dup) AS (
  VALUES
    {_fixture_values_sql()}
),
routed AS (
  SELECT filename,
         string_split(lower(filename), '.')[-1] AS ext,
         CASE
           WHEN string_split(lower(filename), '.')[-1] NOT IN
                ({", ".join("'" + e + "'" for e in SUPPORTED_EXTENSIONS)})
             THEN '{REASON_UNSUPPORTED}'
           WHEN load_error IS NOT NULL THEN 'Loader error: ' || load_error
           WHEN NOT has_content THEN '{REASON_NO_CONTENT}'
           WHEN NOT has_chunks THEN '{REASON_NO_CHUNKS}'
           WHEN is_dup THEN '{REASON_DUPLICATE}'
           ELSE NULL
         END AS reason
  FROM files
)
SELECT filename, ext, reason IS NULL AS indexed, reason
FROM routed
ORDER BY filename
"""


# ---------------------------------------------------------------------------
# Full ingest pipeline over the documents table (rows-only driver check;
# unit-tested in tests/test_ingest.py). Mirrors §3.1: chunk (R9) →
# sha2 content hash (R10) → anti-join dedup against a fixture stand-in
# for the store (R11) → metadata stamp (R12) → deterministic embed
# stand-in (R13) — the output is what R14 would append to the
# embeddings table.
# ---------------------------------------------------------------------------
EMBED_DIM = 16


def embed_expr(col, dim: int = EMBED_DIM):
    """Deterministic hash-projection embedding stand-in (R13).

    Arrow-free and JVM-side: feature i = xxhash64(text, i) scaled to
    [-1, 1]. The real model (MiniLM et al.) slots in behind the same
    column contract via mapInPandas — see sources/embedding_stage.py.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (F.xxhash64(col, i) / F.lit(float(2**63))).cast("float"),
    )


def ingest_pipeline(
    spark: SparkSession,
    sf_dir: str,
    user_email: str = "user@example.com",
    size: int = 1000,
    overlap: int = 200,
) -> DataFrame:
    """documents → chunk → hash → dedup → stamp → embed.

    The dedup keeps the lowest ``doc_id`` of each in-batch ``file_hash``
    and then drops every ``doc_id`` found in a fixture stand-in for the
    store, the even-id half of ``sf_dir/embeddings``; it does not read a
    real store.
    """
    docs = load(spark, sf_dir, "documents")
    # Stand-in for the existing store: the even-id half of the embeddings
    # table (at sf0.01 the store covers EVERY doc_id, which would make the
    # anti-join trivially empty; halving keeps the dedup path observable).
    store = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 2 == 0)

    chunks = docs.select(
        "doc_id",
        "source",
        F.sha2("text", 256).alias("file_hash"),  # R10, :15-18
        F.posexplode(chunk_udf(size, overlap)("text")).alias("chunk_index", "chunk_text"),
    ).where(F.trim("chunk_text") != "")

    # R11 dedup: drop whole documents whose hash already exists in-batch
    # (keep min doc_id). A window min avoids the self-join-on-own-lineage
    # pattern (Spark resolves both sides to the same attributes and the
    # hash equality degenerates to a trivially-true predicate).
    keep_id = F.min("doc_id").over(Window.partitionBy("file_hash"))
    deduped = (
        chunks.withColumn("_keep_id", keep_id)
        .where(F.col("doc_id") == F.col("_keep_id"))
        .drop("_keep_id")
    )
    fresh = deduped.join(store, deduped.doc_id == store.vec_id, "left_anti")

    return fresh.select(
        F.concat_ws("_", "doc_id", "chunk_index").alias("chunk_id"),
        "doc_id",
        F.col("chunk_index").cast("bigint").alias("chunk_index"),
        "chunk_text",
        # R12 metadata stamp, :152-158
        F.lower("source").alias("source"),
        F.lit(user_email).alias("user"),
        F.element_at(F.split(F.lower("source"), "\\."), -1).alias("type"),
        "file_hash",
        embed_expr(F.col("chunk_text")).alias("embedding"),
    )


def q50_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver check (the recursive chunker is a Python
    algorithm with no SQL twin). The raw embedding array is reduced to a
    scalar digest + dim so the output is flat-sortable; array values are
    exercised by unit tests and by q78's oracle-matched twin."""
    out = ingest_pipeline(spark, sf_dir)
    return (
        out.select(
            "chunk_id",
            "doc_id",
            "chunk_index",
            "chunk_text",
            "source",
            "user",
            "type",
            "file_hash",
            F.sha2(F.to_json("embedding"), 256).alias("embedding_digest"),
            F.size("embedding").cast("bigint").alias("embedding_dim"),
        )
        .orderBy("doc_id", "chunk_index")
    )


# ---------------------------------------------------------------------------
# q78 — the SAME pipeline shape with the stride chunker (Q24), which IS
# SQL-expressible, so the whole route→chunk→hash→dedup→stamp pass gets a
# full DuckDB hash-match (q50 keeps the recursive chunker, rows-only).
# ---------------------------------------------------------------------------
def q78_ingest_pipeline_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    store = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 2 == 0)

    n_chunks = (F.floor((F.length("text") - 1) / STRIDE) + 1).cast("int")
    chunks = (
        docs.select(
            "doc_id",
            "source",
            F.sha2("text", 256).alias("file_hash"),
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"),
        )
        .select(
            "doc_id",
            "source",
            "file_hash",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            F.col("text")
            .substr(F.col("chunk_index").cast("int") * STRIDE + 1, F.lit(STRIDE_SIZE))
            .alias("chunk_text"),
        )
        .where(F.trim("chunk_text") != "")
    )
    keep_id = F.min("doc_id").over(Window.partitionBy("file_hash"))
    deduped = (
        chunks.withColumn("_keep_id", keep_id)
        .where(F.col("doc_id") == F.col("_keep_id"))
        .drop("_keep_id")
    )
    fresh = deduped.join(store, deduped.doc_id == store.vec_id, "left_anti")
    return fresh.select(
        F.concat_ws("_", "doc_id", "chunk_index").alias("chunk_id"),
        "doc_id",
        "chunk_index",
        "chunk_text",
        F.lower("source").alias("source"),
        F.lit("user@example.com").alias("user"),
        F.element_at(F.split(F.lower("source"), "\\."), -1).alias("type"),
        "file_hash",
    ).orderBy("doc_id", "chunk_index")


Q78_SQL = f"""
WITH chunks AS (
  SELECT doc_id, source, sha256(text) AS file_hash,
         CAST(chunk_index AS BIGINT) AS chunk_index,
         substring(text, CAST(chunk_index * {STRIDE} + 1 AS INTEGER), {STRIDE_SIZE}) AS chunk_text
  FROM (
    SELECT doc_id, source, text,
           unnest(generate_series(0, CAST(floor((length(text) - 1) / {STRIDE}) AS BIGINT))) AS chunk_index
    FROM documents
  )
  WHERE trim(substring(text, CAST(chunk_index * {STRIDE} + 1 AS INTEGER), {STRIDE_SIZE})) != ''
),
deduped AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY file_hash) AS keep_id FROM chunks
  ) WHERE doc_id = keep_id
),
fresh AS (
  SELECT d.* FROM deduped d
  WHERE NOT EXISTS (
    SELECT 1 FROM embeddings e WHERE e.vec_id % 2 = 0 AND e.vec_id = d.doc_id
  )
)
SELECT doc_id || '_' || chunk_index AS chunk_id,
       doc_id,
       chunk_index,
       chunk_text,
       lower(source) AS source,
       'user@example.com' AS "user",
       string_split(lower(source), '.')[-1] AS type,
       file_hash
FROM fresh
ORDER BY doc_id, chunk_index
"""


QUERIES = {
    "q29_ingest_routing": q29_ingest_routing,
    "q50_ingest_pipeline": q50_ingest_pipeline,
    "q78_ingest_pipeline_stride": q78_ingest_pipeline_stride,
}

ORACLE = {
    "q29_ingest_routing": Q29_SQL,
    "q78_ingest_pipeline_stride": Q78_SQL,
}
