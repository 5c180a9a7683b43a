"""The worker daemon entry (``_bootstrap``) and its zip-cache rule.

Before each task a reused Python worker calls
``importlib.invalidate_caches()``; before CPython 3.12 that re-reads the
central directory of every zip archive once per zipimporter. The daemon
that ``get_session`` names on a local master installs a rule that
re-reads an archive only when it changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from generative_ai_vector_db_spark import _bootstrap


def test_worker_rereads_no_unchanged_zip_per_task(spark):
    """Inside a worker of a ``get_session`` session, ``invalidate_caches()``
    reads no zip directory: the archives (pyspark.zip, py4j, the package's
    ``addPyFile`` zip) are unchanged. The stock rule reads one per
    zipimporter, 16 or more for pyspark.zip alone."""
    _bootstrap.ensure_worker_imports(spark)

    def count_reads(_rows):
        import importlib as il
        import sys as s
        import zipimport as zi

        read = zi._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        importers = [v for v in s.path_importer_cache.values()
                     if isinstance(v, zi.zipimporter)]
        yield len(reads), len(importers)

    for _ in range(2):
        reads, importers = (
            spark.sparkContext.parallelize([0], 1).mapPartitions(count_reads).collect()[0]
        )
        assert importers > 0
        assert reads == 0, f"{reads} zip directory reads for {importers} zipimporters"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_rewritten_zip_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    """A zip rewritten in place (a new module: new size and mtime) is read
    again after ``invalidate_caches()`` and its new module imports; an
    unchanged zip is not read again. On CPython 3.12+ nothing is patched
    and the stdlib's own rule serves the same import."""
    archive = str(tmp_path / "gavd_zip_cache_rule.zip")
    _write_zip(archive, {"gavd_zc_first": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("gavd_zc_first", "gavd_zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gavd_zc_first").VALUE == 1

    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    _bootstrap.install_zip_cache_rule()
    patched = zipimport.zipimporter.invalidate_caches is not stock
    assert patched == (sys.version_info < (3, 12))

    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"gavd_zc_first": 1, "gavd_zc_second": 2})
    importlib.invalidate_caches()
    assert importlib.import_module("gavd_zc_second").VALUE == 2
    assert reads.count(archive) == 1

    importlib.invalidate_caches()
    assert reads.count(archive) == 1
