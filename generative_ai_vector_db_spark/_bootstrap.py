"""Worker-side import bootstrap and the Python worker daemon entry.

UDF closures defined in this package are pickled BY REFERENCE
(module.attr); Spark's Python workers then ``import
generative_ai_vector_db_spark``. On a ``local`` master
``session.get_session`` puts the package's parent directory on the
workers' ``PYTHONPATH``; on any other master the workers see only what
the job ships to them.

``ensure_worker_imports(spark)`` zips the package once per process and
``addPyFile``s it, which puts it on every worker's sys.path — the same
mechanism used to ship job code to a real cluster, so this is also the
100 TB deployment story (one zip broadcast, no per-node installs).

Run as ``python -m generative_ai_vector_db_spark._bootstrap`` (what
``spark.python.daemon.module`` names on a local master), this module is
the worker daemon: it installs the zip-cache rule below and then runs
``pyspark.daemon.manager()``, so every worker the daemon forks inherits
the rule. Before each task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12 that
makes every ``zipimporter`` re-read its archive's whole central
directory, and there is one importer per package directory imported
from a zip: a bare one-task job reads 16 directories per task, 12 of
them ``pyspark.zip``'s, and the ``addPyFile`` zip adds more once a
worker imports this package. ``_zip_cache_rule`` re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since its last
read, so a rewritten zip is still seen and an unchanged one costs one
``stat``. CPython 3.12 (gh-103200) made the re-read lazy and once per
archive instead; there the daemon installs nothing.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

_SENTINEL = "_gavd_spark_pkg_shipped"


def ensure_worker_imports(spark) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL, False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="gavd_pkg_"), f"{pkg_name}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    setattr(sc, _SENTINEL, True)


def _zip_cache_rule():
    """A ``zipimporter.invalidate_caches`` that re-reads an archive's
    directory only when the archive's ``(st_mtime_ns, st_size, st_ino)``
    differs from the stamp taken before its last read by this rule, and
    otherwise takes the directory in ``zipimport._zip_directory_cache``.
    An archive that cannot be stat'ed or read is dropped from the cache,
    as the stock method does."""
    cache = zipimport._zip_directory_cache
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            if stamps.get(archive) != stamp or archive not in cache:
                cache[archive] = zipimport._read_directory(archive)
                stamps[archive] = stamp
            self._files = cache[archive]
        except (OSError, zipimport.ZipImportError):
            cache.pop(archive, None)
            stamps.pop(archive, None)
            self._files = {}

    return invalidate_caches


def install_zip_cache_rule() -> None:
    """Replace ``zipimporter.invalidate_caches`` with ``_zip_cache_rule``
    in this process and stamp every archive an importer already holds (one
    read each), so forked workers start stamped. Changes nothing on
    CPython 3.12+."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = _zip_cache_rule()
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install_zip_cache_rule()
    daemon.manager()
