"""Equivalence lock for the driver-side near-dup absorb.

``streaming/ingest_stream.py::_neardup_batch`` classifies and absorbs a
batch on the driver from the decoded components the driver cache holds.
``spark_neardup_batch`` below is the Spark body it replaced, kept
verbatim (imports made absolute) as the frozen reference: it runs q322's
classifier ``operators/dedup.py::_incremental_classify`` and the
doc_id anti-joins. Both absorbs run on copies of one index, and every
component must hold the same rows afterwards.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from generative_ai_vector_db_spark import manifest
from generative_ai_vector_db_spark.operators import dedup
from generative_ai_vector_db_spark.operators import indexes as ix
from generative_ai_vector_db_spark.streaming import ingest_stream as ist
from generative_ai_vector_db_spark.tables import load

from .conftest import _jobs


# ---------------------------------------------------------------------------
# The frozen reference: the Spark absorb, verbatim.
# ---------------------------------------------------------------------------
def spark_neardup_batch(batch: DataFrame, index_path: str) -> None:
    from generative_ai_vector_db_spark.operators.dedup import (
        _incremental_classify,
        _pmh_bands,
        _pmh_shingle_sigs,
    )

    spark = batch.sparkSession
    docs = batch.select("doc_id", "text")
    shingled = _pmh_shingle_sigs(docs).localCheckpoint()
    bands_b = _pmh_bands(shingled.select("doc_id", "sigs"))
    m = manifest.latest(spark, index_path)
    store_bands = manifest.read(
        spark, index_path, m, "bands", "doc_id bigint, band int, key bigint"
    )
    store_sh = manifest.read(
        spark, index_path, m, "shingles", "doc_id bigint, shingles array<bigint>"
    )

    results = _incremental_classify(
        docs.select("doc_id"),
        store_bands,
        bands_b,
        store_sh,
        shingled.select("doc_id", "shingles"),
    ).localCheckpoint()

    # --- absorb: append ONLY unseen doc_ids (replay-idempotent); the
    #     results keep the first classification of each doc_id and
    #     land in the SAME commit as its bands and shingles ---
    seen = store_bands.select("doc_id").distinct()
    prior = manifest.read(spark, index_path, m, "results", "doc_id bigint")
    manifest.write(spark, index_path, "neardup", m, {
        "bands": bands_b.join(seen, "doc_id", "left_anti"),
        "shingles": shingled.select("doc_id", "shingles").join(
            seen, "doc_id", "left_anti"
        ),
        "results": results.join(prior.select("doc_id"), "doc_id", "left_anti"),
    })


# ---------------------------------------------------------------------------
# Driver absorb == Spark reference
# ---------------------------------------------------------------------------
def _rows(spark, path):
    m = manifest.latest(spark, path)
    return {
        c: sorted(tuple(r) for r in manifest.read(spark, path, m, c).collect())
        for c in ("bands", "shingles", "results")
    }


def _absorb_both(spark, root, batches):
    """Seeded index ``root/driver`` and its copy ``root/spark`` absorb
    each batch, the one on the driver and the other by the reference;
    every component must then hold the same rows. Returns the results
    by doc_id."""
    driver, ref = os.path.join(root, "driver"), os.path.join(root, "spark")
    shutil.copytree(driver, ref)
    for step, batch in enumerate(batches):
        ix.append_index(spark, root, "driver", batch)
        spark_neardup_batch(batch, ref)
        got, want = _rows(spark, driver), _rows(spark, ref)
        for comp in want:
            assert got[comp] == want[comp], (step, comp)
    return {r[0]: r[1:] for r in got["results"]}


def test_driver_absorb_equals_spark_reference_on_stream_fixtures(
    spark, sf_dir_t2, tmp_path
):
    """The round-12/13 fixtures: q322's split, its batch absorbed as two
    triggers, then the whole batch replayed."""
    root = str(tmp_path)
    docs = load(spark, sf_dir_t2, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % dedup.INCR_BATCH_MOD == dedup.INCR_BATCH_RESIDUE
    half = F.col("doc_id") % 20 == 7
    ix.create_index(spark, root, "driver", "neardup", docs.where(~is_batch))
    results = _absorb_both(spark, root, [
        docs.where(is_batch & half),
        docs.where(is_batch & ~half),
        docs.where(is_batch),
    ])
    statuses = {status for status, *_ in results.values()}
    assert statuses == {"novel", "dup_of_store", "dup_in_batch"}


def test_driver_absorb_equals_spark_reference_on_edge_cases(spark, tmp_path):
    """Buckets at and above PMH_BUCKET_CAP over store + batch rows, a
    replayed doc that counts on both sides of the cap, an in-batch
    exact copy, a doc shorter than PMH_SHINGLE_W words, and a replayed
    batch."""
    rng = np.random.default_rng(11)
    vocab = ["".join(rng.choice(list("abcdefghij"), 6)) for _ in range(400)]

    def text(n):
        return " ".join(rng.choice(vocab, n))

    t0, t1, t2 = text(30), text(30), text(30)
    cap = dedup.PMH_BUCKET_CAP

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    seed = (
        [(i, t0) for i in range(cap - 5)]  # 45 copies of t0
        + [(100 + i, t2) for i in range(cap)]  # 50 copies of t2
        + [(200 + i, text(40)) for i in range(20)]
    )
    first = (
        [(300 + i, t0) for i in range(5)]  # t0's bucket reaches the cap
        + [(310, t1), (311, t1)]  # an in-batch exact copy
        + [(320, "too short to shingle")]
        + [(100, t2)]  # a replay: 50 stored + 1 in the batch
        + [(330 + i, text(40)) for i in range(5)]
    )
    second = [(340, t0)] + first  # t0 above the cap; `first` replayed
    root = str(tmp_path)
    ix.create_index(spark, root, "driver", "neardup", frame(seed))
    results = _absorb_both(spark, root, [frame(first), frame(second)])

    assert results[300] == ("dup_of_store", 0, cap - 5, 0)
    assert results[304] == ("dup_of_store", 0, cap - 5, 4)
    assert results[311] == ("dup_in_batch", 310, 0, 1)
    assert results[320][0] == "novel"
    assert results[100][0] == "novel"  # its bucket counts it twice: 51
    assert results[340][0] == "novel"  # 50 stored copies + 6 in the batch


def test_neardup_append_runs_one_spark_job(spark, sf_dir, tmp_path):
    """At a stable cache an absorb runs the batch collect and nothing
    else: the classify is numpy and the three components are written
    from the driver."""
    root = str(tmp_path / "root")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phase = F.col("doc_id") % 10
    ix.create_index(spark, root, "docs", "neardup", docs.where(phase < 8))
    ix.append_index(spark, root, "docs", docs.where(phase == 8))
    batch = docs.where(phase == 9)
    assert _jobs(spark, "neardup-append-at-stable-cache",
                 lambda: ix.append_index(spark, root, "docs", batch)) == 1


# ---------------------------------------------------------------------------
# Absorb cost does not grow with the store
# ---------------------------------------------------------------------------
def _synthetic_cache(rng, n_docs, copies, n_parts=5):
    """Decoded bands/shingles/results parts of ``n_docs`` stored docs
    with random band keys and shingle sets, plus ``copies`` (doc_id ->
    text) stored as exact copies."""
    ids = np.arange(n_docs, dtype=np.int64)
    keys = rng.integers(0, dedup.PMH_P, (n_docs, dedup.PMH_BANDS))
    sets = [np.unique(rng.integers(0, dedup.PMH_P, 60)) for _ in range(n_docs)]
    for i, t in copies.items():
        sh, sigs = dedup._pmh_shingle(t)
        keys[i] = dedup._pmh_band_keys(sigs[None, :])[0]
        sets[i] = sh
    parts = {"bands": [], "shingles": [], "results": []}
    for chunk in np.array_split(ids, n_parts):
        parts["bands"].append(ist._band_index(pa.table({
            "doc_id": np.repeat(chunk, dedup.PMH_BANDS),
            "band": np.tile(np.arange(dedup.PMH_BANDS, dtype=np.int32), len(chunk)),
            "key": keys[chunk].ravel(),
        })))
        parts["shingles"].append(ist._shingle_index(pa.table({
            "doc_id": chunk,
            "shingles": pa.array([sets[i] for i in chunk], pa.list_(pa.int64())),
        })))
        parts["results"].append(ist._id_index(pa.table({"doc_id": chunk})))
    return parts


def test_absorb_cost_is_flat_from_5k_to_50k_stored_docs():
    rng = np.random.default_rng(5)
    vocab = ["".join(rng.choice(list("abcdefghijklmnop"), 5)) for _ in range(3000)]
    texts = [" ".join(rng.choice(vocab, rng.integers(60, 200))) for _ in range(200)]
    ids = np.arange(10**6, 10**6 + 200, dtype=np.int64)
    copies = {7 * i: texts[i] for i in range(20)}  # 20 batch docs are stored

    def median_s(n_docs):
        parts = _synthetic_cache(rng, n_docs, copies)
        times, out = [], None
        for _ in range(5):
            t = time.perf_counter()
            out = ist._neardup_absorb(
                ids, texts, parts["bands"], parts["shingles"], parts["results"]
            )
            times.append(time.perf_counter() - t)
        status = out["results"].column("status").to_pylist()
        assert status.count("dup_of_store") == len(copies)
        return statistics.median(times)

    t5k, t50k = median_s(5_000), median_s(50_000)
    print(f"driver classify of 200 docs: {t5k * 1e3:.1f} ms at 5k stored,"
          f" {t50k * 1e3:.1f} ms at 50k stored")
    assert t50k <= 2 * t5k + 0.05
