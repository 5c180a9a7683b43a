"""Unified persisted-index catalog (r14, VERDICT r13 item 5): named
indexes under a store root — the R14/R15 create-or-append / open
analog (reference ``helper/multiple_document_upload.py:161-168``,
``app.py:70-79``) for INDEX structures instead of the vector store.

Every index is named under a root and reached only through these
faces, so they compose and test as one surface:

    create_index(spark, root, "prod", "ivfpq", emb)   # seed/backfill
    append_index(spark, root, "prod", batch)          # incremental absorb
    run_index_stream(spark, root, "prod", src, ck)    # continuous absorb
    query_index(spark, root, "prod", q_emb, q_id)     # top-K probe
    open_index / describe_index / list_indexes        # catalog surface
    compact_index(spark, root, "prod")                # offline rewrite
    drop_index(spark, root, "prod")                   # R22 analog

Kinds and their persisted components (append-only parquet; Delta/
Iceberg at production — an environment binding, not a design change):

    ivfpq      codes(vec_id, cell, pqc)     + vectors   (q362 family)
    hyperplane buckets(vec_id, tbl, bucket) + vectors   (q320 family)
    graph      edges(src, dst, sim)         + vectors   (q214/q347 family)
    neardup    bands(doc_id, band, key) + shingles      (q302/q322 family)
               + results(doc_id, status, dup_of, ..)
    ab_monitor     daily_partials(src_file, day, n, k)     (q367 family)
    drift_monitor  daily_partials(src_file, day, n, s, ..) (q368 family)

Index state lives in one versioned JSON manifest per index
(``manifest.py``). Create, append and compact each commit version n+1
with one manifest write (temp file, no-overwrite rename); garbage
collection after the commit deletes every tagged subdirectory that
neither n+1 nor n lists, unless it targets a later version. Every call
below reads the manifest through Hadoop FileSystem calls — no Spark
job — and opens only the subdirectories it lists, so a reader racing
an append or a compaction sees one committed version and a crash at
any point leaves the previous version readable.

``query_index`` on ``ivfpq`` and ``hyperplane`` answers on the driver
in numpy from a cache keyed by manifest subdirectory
(``streaming/ingest_stream.py``, driver-side probe): each committed
subdirectory is decoded once, and at a stable version an ask runs one
Spark job, the collect of its query row. ``graph`` asks stay a Spark
plan: q214's beam search (``operators/graph_ann.py::beam_search``)
over the persisted edges.

``neardup`` is a document index: its absorb classifies AND absorbs
(its classifications append to the ``results`` component, keep-first
by doc_id, in the same commit as its bands and shingles), and
``query_index`` is undefined for it by design — probing without
absorbing is the batch op q322. The absorb runs on the driver from the
same cache (``streaming/ingest_stream.py::_neardup_absorb``, the numpy
twin of q322's classifier ``operators/dedup.py::_incremental_classify``);
at a stable cache it runs 1 Spark job, the batch collect, and writes
its three components from the driver. The two monitor kinds (r15, VERDICT
r14 item 4) are EVENT indexes: their absorb reduces a micro-batch of
events to per-day integer partials, and their read face is
``read_index`` — the full anytime e-process table (q367/q368) over
everything absorbed so far; ``query_index`` is undefined for them.

Each kind is one row of ``streaming/ingest_stream.py::KINDS``: its
stream source schema, seed, absorb, and query or read face. Every
face below looks the kind up in that table; none branches on it. The
rows share their bodies: the vector kinds one seed, ``ivfpq`` and
``hyperplane`` one absorb and one driver probe, each bound to a
``VectorKind`` (payload component and DDL, encoder, candidate rule),
and the monitor kinds one absorb and one read, each bound to a
``MonitorKind`` (partials DDL, day-frame reduce, per-day merge,
e-process table).

Scale: the absorbs are O(batch) per trigger with read-side dedup /
degree bounds. The near-dup absorb looks each batch bucket and doc_id
up in the cached, sorted band, shingle and result arrays (searchsorted
per committed subdirectory), so no stored row is regrouped or
rescanned; the cache holds the decoded index in driver memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import manifest
from ..fsutil import _hadoop_path_and_fs, parquet_stats
from ..fsutil import path_exists as _path_exists
from ..streaming import ingest_stream as ist


def _index_path(root: str, name: str) -> str:
    return os.path.join(root, name)


def _manifest(spark: SparkSession, root: str, name: str) -> manifest.Manifest:
    m = manifest.latest(spark, _index_path(root, name))
    if m is None:
        raise ValueError(f"index {name!r} does not exist under {root!r}")
    return m


def index_kind(spark: SparkSession, root: str, name: str) -> str:
    return _manifest(spark, root, name).kind


def create_index(
    spark: SparkSession, root: str, name: str, kind: str, df: DataFrame
) -> None:
    """Seed index ``name`` of ``kind`` from an existing corpus ``df``
    (embeddings for the vector kinds, documents for neardup). The
    one-time backfill before append/stream maintenance takes over."""
    if kind not in ist.KINDS:
        raise ValueError(f"unknown index kind {kind!r}")
    # Refuse to clobber: growing an existing index is append_index /
    # run_index_stream — the reference's create-or-append
    # (helper/multiple_document_upload.py:161-168) is that explicit
    # caller decision, not a silent overwrite.
    path = _index_path(root, name)
    if manifest.latest(spark, path) is not None:
        raise ValueError(
            f"index {name!r} already exists under {root!r}; use"
            " append_index / run_index_stream to grow it"
        )
    # A directory WITHOUT a manifest is invisible garbage by the drop
    # contract (drop deletes _meta first, so a crash mid-drop leaves
    # exactly this state). Clear it before seeding so stale components
    # from the half-dropped index can't leak into the new one (r14
    # advice).
    hpath, fs = _hadoop_path_and_fs(spark, path)
    fs.delete(hpath, True)
    ist.KINDS[kind].seed(df, path)


def append_index(
    spark: SparkSession, root: str, name: str, batch: DataFrame
) -> None:
    """Incremental absorb of one batch into index ``name`` — the same
    code path the streaming trigger runs, callable directly."""
    k = ist.KINDS[index_kind(spark, root, name)]
    k.absorb(batch, _index_path(root, name))


def run_index_stream(
    spark: SparkSession,
    root: str,
    name: str,
    src_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous maintenance of index ``name`` over a file stream:
    each micro-batch of the parquet files in ``src_dir`` that the
    checkpoint has not seen runs the kind's absorb."""
    k = ist.KINDS[index_kind(spark, root, name)]
    path = _index_path(root, name)
    ist._run_stream(
        spark, src_dir, k.schema, path, checkpoint_dir, k.absorb,
        max_files_per_trigger,
    )


def query_index(
    spark: SparkSession, root: str, name: str, q_emb: DataFrame, q_id: int
) -> DataFrame:
    """Top-K probe of a vector index against its PERSISTED structure
    (never re-encodes the corpus). ``q_emb`` holds one (vec_id,
    embedding) row: no row gives an empty answer and more than one
    raises ValueError, for every kind. ``ivfpq`` and ``hyperplane``
    answer on the driver from the cached decoded components and return
    a local frame; ``graph`` returns q214's beam search as a Spark
    plan. Output shape matches the family's batch op: (vec_id,
    cos_sim, rn)."""
    kind = index_kind(spark, root, name)
    k = ist.KINDS[kind]
    if k.query is None:
        use = (
            "its read face is read_index (the anytime e-process table)"
            if k.read
            else "probe-and-absorb via append_index (q322 is the batch probe)"
        )
        raise ValueError(f"index kind {kind!r} has no vector query face; {use}")
    return k.query(spark, _index_path(root, name), q_emb, q_id)


def read_index(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Monitor read face (r15): the full anytime e-process table
    (q367 for ``ab_monitor``, q368 for ``drift_monitor``) over
    everything absorbed so far. Empty — not an error — before the
    first matching event (cold-start contract). Undefined for the
    vector/document kinds, whose read faces are query_index /
    open_index."""
    kind = index_kind(spark, root, name)
    k = ist.KINDS[kind]
    if k.read is None:
        raise ValueError(
            f"index kind {kind!r} has no monitor read face; use"
            " query_index / open_index"
        )
    return k.read(spark, _index_path(root, name))


def open_index(
    spark: SparkSession, root: str, name: str
) -> dict[str, DataFrame]:
    """R15 analog: open every committed component of a named index
    (for neardup, ``results`` too once a batch has been absorbed)."""
    m = _manifest(spark, root, name)
    path = _index_path(root, name)
    return {comp: manifest.read(spark, path, m, comp) for comp in m.components}


def describe_index(spark: SparkSession, root: str, name: str) -> DataFrame:
    """One row per component: (name, kind, component, n_rows, version,
    files, bytes), all read at one committed manifest version
    (``version``); ``files``/``bytes`` are the parquet files the
    component's listed subdirectories hold."""
    m = _manifest(spark, root, name)
    path = _index_path(root, name)
    rows = []
    for comp in sorted(m.components):
        n_rows = manifest.read(spark, path, m, comp).count()
        files, size = parquet_stats(spark, *manifest.paths(path, m, comp))
        rows.append((name, m.kind, comp, n_rows, m.version, files, size))
    return spark.createDataFrame(
        rows,
        "name string, kind string, component string, n_rows bigint,"
        " version bigint, files bigint, bytes bigint",
    )


def list_indexes(spark: SparkSession, root: str) -> DataFrame:
    """Catalog listing: every named index under ``root``."""
    rows = []
    if _path_exists(spark, root):
        hpath, fs = _hadoop_path_and_fs(spark, root)
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            m = st.isDirectory() and manifest.latest(spark, _index_path(root, name))
            if m:
                rows.append((name, m.kind))
    return spark.createDataFrame(
        sorted(rows), "name string, kind string"
    )


def compact_index(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Offline compaction of an append-only index (the q202 discipline
    the absorb faces defer to): rewrite each component to its
    READ-SIDE-CANONICAL view — vectors/codes/buckets deduped by key,
    graph edges pruned to the per-src degree bound that queries already
    apply — into fresh subdirectories, then commit ONE manifest version
    that lists only those. A crash before the commit leaves the
    previous version served and the staged rows unread, for the next
    commit's garbage collection. Query results are unchanged by
    construction (the rewrite IS the read-side view); only storage and
    probe-scan width shrink. Near-dup ``results`` rows are unique by
    doc_id by construction (keep-first on absorb), so their rewrite
    only merges files. Returns one row per compacted component:
    (name, component, rows_before, rows_after).

    Scale: one shuffle per component on its key — the same cost as one
    absorb over the whole store, scheduled offline (nightly / when the
    append tail exceeds a fraction of the base), never per trigger."""
    m = _manifest(spark, root, name)
    path = _index_path(root, name)
    dedup_keys = {
        "vectors": ["vec_id"],
        "codes": ["vec_id"],
        "buckets": ["vec_id", "tbl"],
        "bands": ["doc_id", "band"],
        "shingles": ["doc_id"],
        "results": ["doc_id"],
        "daily_partials": ["src_file", "day"],
    }
    before = {c: manifest.read(spark, path, m, c) for c in sorted(m.components)}
    n_before = {c: df.count() for c, df in before.items()}
    canonical = {
        c: ist._graph_index_edges(spark, path, m)
        if c == "edges"
        else df.dropDuplicates(dedup_keys[c])
        for c, df in before.items()
    }
    done = manifest.write(spark, path, m.kind, m, canonical, replace=True)
    rows = [
        (name, c, n, manifest.read(spark, path, done, c).count())
        for c, n in n_before.items()
    ]
    return spark.createDataFrame(
        rows,
        "name string, component string, rows_before bigint,"
        " rows_after bigint",
    )


def drop_index(spark: SparkSession, root: str, name: str) -> None:
    """R22 analog for indexes: remove index ``name`` and every
    component under it. Fails loudly on an unknown name (the
    create-side contract: silent no-ops hide typos that leave the
    real index growing unmaintained). Deletes through the Hadoop
    FileSystem API so it works on any Spark-reachable scheme, and
    deletes ``_meta`` FIRST — a crash mid-drop then leaves a
    directory the catalog no longer lists (invisible garbage, never
    a half-readable index). The driver cache lets go of the index's
    decoded arrays."""
    # raises ValueError on unknown names
    index_kind(spark, root, name)
    path = _index_path(root, name)
    mpath, fs = _hadoop_path_and_fs(spark, os.path.join(path, manifest.META))
    fs.delete(mpath, True)
    hpath, fs = _hadoop_path_and_fs(spark, path)
    fs.delete(hpath, True)
    ist._evict(os.path.join(path, ""))
