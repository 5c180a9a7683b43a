"""The index manifest (manifest.py): catalog lookups read one small
JSON file through the Hadoop FileSystem API and start no Spark job,
and a reader pinned to a committed version keeps answering from it
while appends and compactions commit newer ones."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark import manifest
from generative_ai_vector_db_spark.operators import indexes as ix
from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.tables import load


def _embeddings(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_catalog_lookups_start_no_spark_job(spark, sf_dir, tmp_path):
    root = str(tmp_path / "root")
    ix.create_index(spark, root, "vec", "hyperplane", _embeddings(spark, sf_dir))

    sc = spark.sparkContext
    group = "catalog-lookups-start-no-spark-job"
    sc.setJobGroup(group, "index_kind + list_indexes")
    try:
        kind = ix.index_kind(spark, root, "vec")
        listed = ix.list_indexes(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert kind == "hyperplane"
    assert [tuple(r) for r in listed.collect()] == [("vec", "hyperplane")]


def test_manifest_commit_refuses_a_taken_version(spark, sf_dir, tmp_path):
    """Two writers that read the same version race for the next one:
    the loser's commit fails instead of overwriting, and its staged
    rows are collected by the winner's next commit."""
    root = str(tmp_path / "root")
    path = os.path.join(root, "vec")
    emb = _embeddings(spark, sf_dir)
    ix.create_index(spark, root, "vec", "ivfpq", emb)
    base = manifest.latest(spark, path)
    none = {"codes": manifest.read(spark, path, base, "codes").limit(0)}
    won = manifest.write(spark, path, "ivfpq", base, none)
    with pytest.raises(FileExistsError):
        manifest.write(spark, path, "ivfpq", base, none)
    assert manifest.latest(spark, path) == won
    lost = [
        d
        for d in os.listdir(os.path.join(path, "codes"))
        if d not in won.components["codes"]
    ]
    assert len(lost) == 1
    manifest.write(spark, path, "ivfpq", won, none)
    assert not os.path.exists(os.path.join(path, "codes", lost[0]))


def test_reader_keeps_its_version_across_append_and_compact(
    spark, sf_dir, tmp_path
):
    """A query frame built at version n, collected only after an
    append and a compaction committed n+1 and n+2, returns the
    version-n answer; a fresh query returns the grown index's answer."""
    root = str(tmp_path / "root")
    emb = _embeddings(spark, sf_dir)
    is_late = F.col("vec_id") % 10 == 3
    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    ix.create_index(spark, root, "vec", "ivfpq", emb.where(~is_late))

    def answer(frame):
        return [(r["vec_id"], r["rn"]) for r in frame.collect()]

    want_n = answer(ix.query_index(spark, root, "vec", q_emb, vector.BINARY_Q_ID))
    pinned = ix.query_index(spark, root, "vec", q_emb, vector.BINARY_Q_ID)

    ix.append_index(spark, root, "vec", emb.where(is_late))
    ix.compact_index(spark, root, "vec")
    assert manifest.latest(spark, os.path.join(root, "vec")).version == 3

    assert answer(pinned) == want_n
    fresh = answer(ix.query_index(spark, root, "vec", q_emb, vector.BINARY_Q_ID))
    want_full = answer(vector.q362_portable_ivfpq_ann(spark, sf_dir))
    assert fresh == want_full
    assert fresh != want_n  # the late rows do change this answer


def test_read_treats_a_manifest_deleted_after_listing_as_absent(spark, tmp_path):
    """Garbage collection may delete a manifest after a reader saw it
    and before the reader opens it: ``_read`` then answers None (so
    ``latest`` looks again) instead of raising."""
    from generative_ai_vector_db_spark.fsutil import _hadoop_path_and_fs

    gone = str(tmp_path / manifest.META / "v00000001.json")
    hpath, fs = _hadoop_path_and_fs(spark, gone)

    class DeletedAfterExists:
        """The real filesystem, except that ``exists`` still answers
        True: the file was there when asked."""

        def exists(self, _path):
            return True

        def __getattr__(self, name):
            return getattr(fs, name)

    assert manifest._read(hpath, DeletedAfterExists()) is None


def test_neardup_absorb_is_all_or_nothing(spark, sf_dir, tmp_path, monkeypatch):
    """A near-dup absorb commits its results in the same manifest
    version as its bands and shingles, or not at all: an absorb killed
    before its manifest rename, and one that loses the race for a
    version, leave every component at its prior-version rows."""
    root = str(tmp_path / "root")
    path = os.path.join(root, "docs")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phase = F.col("doc_id") % 10
    ix.create_index(spark, root, "docs", "neardup", docs.where(~phase.isin(3, 7, 9)))
    ix.append_index(spark, root, "docs", docs.where(phase == 3))
    base = manifest.latest(spark, path)

    def rows():
        comps = ix.open_index(spark, root, "docs")
        return {
            c: sorted(tuple(r) for r in comps[c].collect())
            for c in ("results", "bands", "shingles")
        }

    prior = rows()
    assert prior["results"]

    def crash(*_args):
        raise RuntimeError("injected crash before the manifest rename")

    monkeypatch.setattr(manifest, "_publish", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        ix.append_index(spark, root, "docs", docs.where(phase == 7))
    monkeypatch.undo()
    assert manifest.latest(spark, path) == base
    assert rows() == prior

    # two absorbs from one base: the winner commits base+1; the loser
    # reads the same base, fails its commit and adds no rows
    ix.append_index(spark, root, "docs", docs.where(phase == 7))
    won = manifest.latest(spark, path)
    assert won.version == base.version + 1
    want = rows()
    assert len(want["results"]) > len(prior["results"])
    monkeypatch.setattr(manifest, "latest", lambda *_args: base)
    with pytest.raises(FileExistsError):
        ix.append_index(spark, root, "docs", docs.where(phase == 9))
    monkeypatch.undo()
    assert manifest.latest(spark, path) == won
    assert rows() == want


def _neardup_rows(spark, root, name):
    comps = ix.open_index(spark, root, name)
    return {c: sorted(tuple(r) for r in comps[c].collect()) for c in comps}


def test_neardup_replay_commits_nothing(spark, sf_dir, tmp_path):
    """A replayed batch holds no doc_id the index lacks: it commits no
    version and stages no subdirectory or file."""
    root = str(tmp_path / "root")
    path = os.path.join(root, "docs")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phase = F.col("doc_id") % 10
    ix.create_index(spark, root, "docs", "neardup", docs.where(phase < 8))
    batch = docs.where(phase >= 8)
    ix.append_index(spark, root, "docs", batch)

    def state():
        m = manifest.latest(spark, path)
        files = {r["component"]: r["files"]
                 for r in ix.describe_index(spark, root, "docs").collect()}
        listed = {c: sorted(os.listdir(os.path.join(path, c))) for c in m.components}
        return m, files, listed

    before = state()
    ix.append_index(spark, root, "docs", batch)
    assert state() == before


def test_neardup_crash_while_staging_keeps_prior_version(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An absorb that dies writing ``shingles`` from the driver, after
    ``bands`` is staged, leaves the prior version served; the next
    absorb's garbage collection deletes the orphaned ``bands``
    subdirectory."""
    root = str(tmp_path / "root")
    path = os.path.join(root, "docs")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phase = F.col("doc_id") % 10
    ix.create_index(spark, root, "docs", "neardup", docs.where(phase < 7))
    ix.append_index(spark, root, "docs", docs.where(phase == 7))
    base = manifest.latest(spark, path)
    prior = _neardup_rows(spark, root, "docs")

    write_table = manifest._write_table

    def crash_on_shingles(spark_, subdir, table):
        if os.path.basename(os.path.dirname(subdir)) == "shingles":
            raise RuntimeError("injected crash while staging shingles")
        write_table(spark_, subdir, table)

    monkeypatch.setattr(manifest, "_write_table", crash_on_shingles)
    with pytest.raises(RuntimeError, match="injected crash"):
        ix.append_index(spark, root, "docs", docs.where(phase == 8))
    monkeypatch.undo()
    assert manifest.latest(spark, path) == base
    assert _neardup_rows(spark, root, "docs") == prior
    bands = os.path.join(path, "bands")
    orphans = [d for d in os.listdir(bands) if d not in base.components["bands"]]
    assert len(orphans) == 1 and orphans[0].startswith(f"v={base.version + 1:08d}-")

    ix.append_index(spark, root, "docs", docs.where(phase == 8))
    assert manifest.latest(spark, path).version == base.version + 1
    assert orphans[0] not in os.listdir(bands)
    grown = _neardup_rows(spark, root, "docs")
    assert len(grown["results"]) > len(prior["results"])


def test_plain_parquet_read_returns_every_committed_row(spark, sf_dir, tmp_path):
    """A plain parquet read of a near-dup component directory, over
    subdirectories Spark wrote (seed, compaction) and the driver wrote
    (absorbs), returns the committed rows with the DDL's column types."""
    from generative_ai_vector_db_spark.streaming.ingest_stream import _NEARDUP_PARTS

    root = str(tmp_path / "root")
    path = os.path.join(root, "docs")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phase = F.col("doc_id") % 10
    ix.create_index(spark, root, "docs", "neardup", docs.where(phase < 6))
    ix.append_index(spark, root, "docs", docs.where(phase == 6))
    ix.compact_index(spark, root, "docs")
    ix.append_index(spark, root, "docs", docs.where(phase == 7))
    m = manifest.latest(spark, path)

    for comp, (ddl, _) in _NEARDUP_PARTS.items():
        listed = manifest.paths(path, m, comp)
        assert len(listed) == 2, comp  # the compacted rows + the driver's
        plain = spark.read.parquet(os.path.join(path, comp)).drop("v")
        want_schema = spark.createDataFrame([], ddl).schema
        assert [(f.name, f.dataType) for f in plain.schema] == [
            (f.name, f.dataType) for f in want_schema
        ], comp
        committed = []
        for d in listed:
            committed += spark.read.schema(ddl).parquet(d).collect()
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, committed)), comp

    absorbed = docs.where(phase.isin(6, 7)).select("doc_id").collect()
    results = spark.read.parquet(os.path.join(path, "results")).collect()
    assert sorted(r["doc_id"] for r in results) == sorted(r[0] for r in absorbed)


def test_describe_reads_one_version_while_appends_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``describe_index`` reports every column of a row at the one
    version it names, even when an append commits a newer version
    after each manifest lookup it makes."""
    from generative_ai_vector_db_spark.fsutil import parquet_stats

    root = str(tmp_path / "root")
    path = os.path.join(root, "vec")
    emb = _embeddings(spark, sf_dir)
    slot = F.col("vec_id") % 10
    ix.create_index(spark, root, "vec", "ivfpq", emb.where(slot % 2 == 0))
    late = [emb.where(slot == r) for r in (1, 3, 5, 7)]

    latest = manifest.latest
    seen = {}
    appending = []

    def racing_latest(*args):
        m = latest(*args)
        seen[m.version] = m
        if late and not appending:
            appending.append(True)
            ix.append_index(spark, root, "vec", late.pop(0))
            appending.clear()
        return m

    monkeypatch.setattr(manifest, "latest", racing_latest)
    rows = ix.describe_index(spark, root, "vec").collect()
    monkeypatch.undo()

    assert {r["component"] for r in rows} == {"codes", "vectors"}
    assert manifest.latest(spark, path).version > rows[0]["version"]
    for r in rows:
        m = seen[r["version"]]
        comp = r["component"]
        assert r["n_rows"] == manifest.read(spark, path, m, comp).count(), comp
        stats = parquet_stats(spark, *manifest.paths(path, m, comp))
        assert (r["files"], r["bytes"]) == stats, comp
