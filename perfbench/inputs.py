"""Seeded workload inputs, generated here (numpy + pyarrow, no Spark and
no program code) and cached on disk by (workload, seed, size).

The program only ever sees the files written here. Generation runs
before the session starts, so its time is in no metric.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "it", "for", "on"]
EXTENSIONS = ["pdf", "txt", "md", "csv", "docx", "html", "pptx", "xlsx"]

# ingest: upload batches against a seeded near-dup index, plus a
# fixed curation corpus
SEED_DOCS = 200
BATCH_DOCS = 200
N_BATCHES = 40
EXACT_PER_BATCH = 10
NEAR_PER_BATCH = 20
STORED_PER_BATCH = 8  # doc ids the store already holds (half of them even)
CURATE_DOCS = 2000

# search: planted clusters around each question, plus background. Each
# question's exact top-13 is its 9 seeded members and the 4 closer ones
# the append plants, well clear of the background, so recall@13 falls
# only when an index misses members or has not absorbed the append.
BACKGROUND = 5000
QUESTIONS = 48
MEMBERS = 9
APPEND_PER_QUESTION = 4
APPEND_ROWS = 200
APPEND_PLANTED = QUESTIONS * APPEND_PER_QUESTION  # the rest is background
N_APPENDS = 1  # the search workload's warm-up makes one append


def _vocab() -> tuple[np.ndarray, np.ndarray]:
    """Stopwords first, then content words and a few numeric tokens;
    Zipf-like frequencies."""
    words = STOPWORDS + [f"w{i:04d}" for i in range(3000)] + [
        f"v{i}" for i in range(10, 60)
    ] + [str(1900 + i) for i in range(100)]
    p = 1.0 / np.arange(1, len(words) + 1) ** 0.9
    return np.array(words), p / p.sum()


class _Words:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words, self.p = _vocab()
        self.content = np.arange(len(STOPWORDS), len(self.words))

    def doc(self, n: int, stopwords: bool = True) -> list[str]:
        if stopwords:
            idx = self.rng.choice(len(self.words), n, p=self.p)
        else:
            idx = self.rng.choice(self.content, n)
        return list(self.words[idx])

    def mutate(self, words: list[str]) -> list[str]:
        """A near duplicate: about one word in 100 replaced."""
        out = list(words)
        k = max(1, len(out) // 100)
        for pos in self.rng.choice(len(out), k, replace=False):
            out[pos] = str(self.rng.choice(self.words[len(STOPWORDS):]))
        return out


def _write_docs(path: str, ids: list[int], texts: list[str],
                rng: np.random.Generator) -> None:
    n = len(ids)
    src = [
        f"src{k}.{EXTENSIONS[k % len(EXTENSIONS)]}"
        for k in rng.integers(0, 20, n)
    ]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(src, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def _write_vectors(path: str, ids, vecs: np.ndarray, texts=None) -> None:
    cols = {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
    }
    if texts is None:
        cols["label"] = pa.array(np.zeros(len(ids), dtype=np.int32))
    else:
        cols["chunk_text"] = pa.array(texts, pa.string())
    pq.write_table(pa.table(cols), path)


def _cached(cache_root: str, key: str, build) -> str:
    """Directory for ``key``, built by ``build(tmp_dir)`` on a miss and
    renamed into place, so a killed run never leaves a partial entry."""
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def ingest_inputs(cache_root: str, seed: int) -> str:
    """Layout:
    seed/documents.parquet       docs the near-dup index is seeded with
    batches/bNNN/documents.parquet, embeddings.parquet
                                 one upload; ``embeddings`` lists doc ids
                                 the store already holds
    curate/documents.parquet     the curation corpus
    manifest.json                per batch: exact / near / stored ids
    """
    key = (f"ingest-s{seed}-d{SEED_DOCS}-b{BATCH_DOCS}x{N_BATCHES}"
           f"-c{CURATE_DOCS}")

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 1])
        w = _Words(rng)
        os.makedirs(os.path.join(out, "seed"))
        seed_words = [w.doc(int(n)) for n in rng.integers(40, 300, SEED_DOCS)]
        seed_texts = [" ".join(x) for x in seed_words]
        _write_docs(os.path.join(out, "seed", "documents.parquet"),
                    list(range(SEED_DOCS)), seed_texts, rng)

        manifest = []
        next_id = 1_000_000
        for b in range(N_BATCHES):
            ids = list(range(next_id, next_id + BATCH_DOCS))
            next_id += BATCH_DOCS
            kinds = ["unique"] * BATCH_DOCS
            slots = rng.permutation(np.arange(1, BATCH_DOCS))
            exact = sorted(slots[:EXACT_PER_BATCH].tolist())
            near = sorted(slots[EXACT_PER_BATCH:EXACT_PER_BATCH + NEAR_PER_BATCH].tolist())
            for i in exact:
                kinds[i] = "exact"
            for i in near:
                kinds[i] = "near"
            texts: list[str] = []
            for i, kind in enumerate(kinds):
                if kind == "near":
                    base = seed_words[rng.integers(SEED_DOCS)]
                    texts.append(" ".join(w.mutate(base)))
                elif kind == "exact":
                    # a copy of a unique doc: earlier in this batch or seeded
                    earlier = [j for j in range(i) if kinds[j] == "unique"]
                    if earlier and rng.random() < 0.5:
                        texts.append(texts[earlier[rng.integers(len(earlier))]])
                    else:
                        texts.append(seed_texts[rng.integers(SEED_DOCS)])
                else:
                    texts.append(" ".join(w.doc(int(rng.integers(40, 300)))))
            d = os.path.join(out, "batches", f"b{b:03d}")
            os.makedirs(d)
            _write_docs(os.path.join(d, "documents.parquet"), ids, texts, rng)
            stored = sorted(rng.choice(ids, STORED_PER_BATCH, replace=False).tolist())
            _write_vectors(os.path.join(d, "embeddings.parquet"), stored,
                           rng.standard_normal((len(stored), DIM)))
            manifest.append({
                "dir": os.path.relpath(d, out),
                "exact": [ids[i] for i in exact],
                "near": [ids[i] for i in near],
                "stored": stored,
                "text_bytes": sum(len(t.encode()) for t in texts),
            })

        # curation corpus: exact and near duplicates, short docs and
        # stopword-free docs (both fail the quality filter), numbers
        c_words: list[list[str]] = []
        for i in range(CURATE_DOCS):
            r = rng.random()
            if i > 10 and r < 0.04:
                c_words.append(c_words[rng.integers(i)])
            elif i > 10 and r < 0.10:
                c_words.append(w.mutate(c_words[rng.integers(i)]))
            elif r < 0.14:
                c_words.append(w.doc(int(rng.integers(3, 10))))
            elif r < 0.18:
                c_words.append(w.doc(int(rng.integers(10, 40)), stopwords=False))
            else:
                c_words.append(w.doc(int(rng.integers(20, 80))))
        os.makedirs(os.path.join(out, "curate"))
        _write_docs(os.path.join(out, "curate", "documents.parquet"),
                    list(range(CURATE_DOCS)), [" ".join(x) for x in c_words], rng)
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump({
                "seed_text_bytes": sum(len(t.encode()) for t in seed_texts),
                "batches": manifest,
            }, f)

    return _cached(cache_root, key, build)


def search_inputs(cache_root: str, seed: int) -> str:
    """Layout (the program-independent half of the search corpus; the
    planted members are placed around the questions' embeddings at run
    time, since those come from the program's embedding stage):
    questions.json   question texts and the ask order
    background.npy   BACKGROUND random unit vectors
    noise.npy        QUESTIONS x MEMBERS member offsets
    appends.npz      per append batch: background, planted offsets and
                     the questions they are planted around
    """
    key = (f"search-s{seed}-bg{BACKGROUND}-q{QUESTIONS}x{MEMBERS}t"
           f"-a{APPEND_ROWS}x{N_APPENDS}p{APPEND_PER_QUESTION}")

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 2])
        w = _Words(rng)
        questions = [
            "what does the corpus say about " + " ".join(w.doc(int(n), stopwords=False))
            for n in rng.integers(5, 10, QUESTIONS)
        ]
        order = rng.permutation(QUESTIONS).tolist()
        bg = rng.standard_normal((BACKGROUND, DIM))
        bg /= np.linalg.norm(bg, axis=1, keepdims=True)
        np.save(os.path.join(out, "background.npy"), bg.astype(np.float32))
        # offset scale s gives cos(member, question) ~ 1/sqrt(1 + s^2)
        noise = rng.standard_normal((QUESTIONS, MEMBERS, DIM)) / np.sqrt(DIM)
        noise *= rng.uniform(0.05, 0.2, (QUESTIONS, MEMBERS, 1))
        np.save(os.path.join(out, "noise.npy"), noise.astype(np.float32))
        a_bg = rng.standard_normal((N_APPENDS, APPEND_ROWS - APPEND_PLANTED, DIM))
        a_bg /= np.linalg.norm(a_bg, axis=2, keepdims=True)
        a_noise = rng.standard_normal((N_APPENDS, APPEND_PLANTED, DIM)) / np.sqrt(DIM)
        a_noise *= rng.uniform(0.01, 0.04, (N_APPENDS, APPEND_PLANTED, 1))
        # each append plants new members around every question
        a_q = np.tile(np.repeat(np.arange(QUESTIONS), APPEND_PER_QUESTION),
                      (N_APPENDS, 1))
        np.savez(os.path.join(out, "appends.npz"), bg=a_bg.astype(np.float32),
                 noise=a_noise.astype(np.float32), q=a_q)
        words = [" ".join(w.doc(12)) for _ in range(512)]
        with open(os.path.join(out, "questions.json"), "w") as f:
            json.dump({"questions": questions, "order": order,
                       "passages": words}, f)

    return _cached(cache_root, key, build)
