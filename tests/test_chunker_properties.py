"""Hypothesis property tests for the recursive chunker (SURVEY §5.2:
"chunker property tests ... rather than chasing LangChain
bit-compatibility")."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from generative_ai_vector_db_spark.operators.chunker import SEPARATORS, recursive_chunks

text_strategy = st.text(
    alphabet=st.sampled_from("ab \n"),
    max_size=2000,
)


def reference_recursive_chunks(
    text: str,
    size: int = 1000,
    overlap: int = 200,
    separators: tuple[str, ...] = SEPARATORS,
) -> list[str]:
    """The chunker as it was before its merge loop kept a running
    length: it re-sums the open chunk for every piece and rebuilds the
    overlap tail as lists. Frozen here as the reference the linear
    ``recursive_chunks`` must equal."""
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
    pieces = text.split(sep)
    chunks: list[str] = []
    cur: list[str] = []

    def cur_len(extra: str | None = None) -> int:
        items = cur + ([extra] if extra is not None else [])
        if not items:
            return 0
        return sum(len(p) for p in items) + len(sep) * (len(items) - 1)

    def close() -> None:
        if cur:
            joined = sep.join(cur)
            if joined.strip():
                chunks.append(joined)

    for p in pieces:
        if len(p) > size:
            close()
            cur = []
            chunks.extend(reference_recursive_chunks(p, size, overlap, rest))
            continue
        if cur and cur_len(p) > size:
            close()
            tail: list[str] = []
            for q in reversed(cur):
                cand = [q] + tail
                if sum(len(x) for x in cand) + len(sep) * (len(cand) - 1) > overlap:
                    break
                tail = cand
            cur = tail
            while cur and cur_len(p) > size:
                cur.pop(0)
        cur.append(p)
    close()
    return chunks


# separators of every level, empty pieces (doubled separators), short
# words and words longer than every size below
token_text = st.lists(
    st.sampled_from(
        ["\n\n", "\n", " ", "  ", "a", "bc", "word", "x" * 9, "y" * 47, "z" * 130]
    ),
    max_size=300,
).map("".join)

# (size, overlap): overlap 0, small, the usual fifth, equal to size and
# above it
SIZE_OVERLAP = [
    (1, 0), (5, 2), (10, 0), (10, 3), (10, 10), (10, 25),
    (40, 8), (40, 40), (40, 90), (120, 30), (120, 119), (120, 500),
]


@settings(max_examples=400, deadline=None)
@given(t=token_text, so=st.sampled_from(SIZE_OVERLAP))
def test_recursive_chunks_equals_frozen_reference(t, so):
    size, overlap = so
    assert recursive_chunks(t, size, overlap) == reference_recursive_chunks(
        t, size, overlap
    )


def test_recursive_chunks_equals_frozen_reference_on_fixture_documents(sf_dir_t2):
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{sf_dir_t2}/documents.parquet", columns=["text"])
    for t in texts["text"].to_pylist():
        for size, overlap in ((120, 30), (60, 60), (1000, 200), (25, 80)):
            assert recursive_chunks(t or "", size, overlap) == (
                reference_recursive_chunks(t or "", size, overlap)
            )


@settings(max_examples=200, deadline=None)
@given(t=text_strategy, size=st.integers(20, 200))
def test_chunks_bounded_and_contiguous(t, size):
    overlap = size // 5
    chunks = recursive_chunks(t, size=size, overlap=overlap)
    for c in chunks:
        assert len(c) <= size
        assert c.strip()  # blank-chunk filter (reference :127)
        assert c in t  # every chunk is a contiguous span of the input


@settings(max_examples=200, deadline=None)
@given(t=text_strategy)
def test_short_text_is_single_chunk(t):
    chunks = recursive_chunks(t, size=5000, overlap=100)
    if t.strip():
        assert chunks == [t]
    else:
        assert chunks == []


@settings(max_examples=100, deadline=None)
@given(words=st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), max_size=200))
def test_word_coverage(words):
    t = " ".join(f"{w}{i}" for i, w in enumerate(words))
    chunks = recursive_chunks(t, size=80, overlap=16)
    joined = " ".join(chunks)
    for i, w in enumerate(words):
        assert f"{w}{i}" in joined


def test_pandas_udf_path_equals_scalar(spark, sf_dir):
    """The Arrow-batched chunk_udf must produce exactly the scalar
    recursive_chunks output for every fixture document (the round-5
    advice swap is a serialization change, not a semantic one)."""
    from generative_ai_vector_db_spark.operators import chunker
    from generative_ai_vector_db_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        r["doc_id"]: r["chunks"]
        for r in docs.select(
            "doc_id", chunker.chunk_udf(chunker.SIZE, 30)("text").alias("chunks")
        ).collect()
    }
    for r in docs.collect():
        want = chunker.recursive_chunks(r["text"] or "", chunker.SIZE, 30)
        assert got[r["doc_id"]] == want, r["doc_id"]
