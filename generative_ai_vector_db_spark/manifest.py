"""One versioned JSON manifest per persisted index: the one place its
state lives.

    <index>/_meta/v00000003.json              committed manifests
    <index>/<component>/v=00000003-1f2e3d4c/  rows staged for version 3

A manifest holds the kind, the version and, per component, the data
subdirectories committed so far. Every writer (seed, absorb,
compaction) reads version n, writes each component's new rows into a
fresh subdirectory tagged n+1, then commits n+1 with ONE manifest
write: a temp file renamed into place without overwrite. Of two
writers racing for n+1 exactly one wins, and a multi-component absorb
is all-or-nothing with no write-order rule. Readers take the highest
committed manifest through Hadoop FileSystem calls (no Spark job) and
open only the listed subdirectories, so staged, crashed or
half-written files are never read. The data subdirectories are named
Hive-style, so a plain parquet reader pointed at a component directory
still reads it as one table (plus a string column ``v``); only the
manifest says which of those rows are committed.

A component is staged in one of two ways, by what the writer holds:
a distributed ``DataFrame`` by a Spark parquet write, and a
``pyarrow.Table`` already on the driver as one parquet file that
pyarrow serializes in memory and the same Hadoop FileSystem that
publishes the manifest writes (no Spark job; a 0-row table stages and
lists nothing).

Garbage collection runs after every commit, with no time threshold:
at version n it keeps what n and n-1 list (a reader still holding n-1
can finish) and anything tagged above n (a live writer's staging),
and deletes every other tagged subdirectory, temp file and manifest.
"""

from __future__ import annotations

import io
import json
import os
import re
import uuid
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from .fsutil import _hadoop_path_and_fs, read_parquet

META = "_meta"
_MANIFEST = re.compile(r"v(\d{8})\.json")
_TAGGED = re.compile(r"v=?(\d{8})[-.]")


@dataclass(frozen=True)
class Manifest:
    kind: str
    version: int
    components: dict  # component -> [subdirectory name, ...]


def _name(version: int) -> str:
    return f"v{version:08d}.json"


def _read(hpath, fs) -> Manifest | None:
    """The manifest at ``hpath``; None when it is absent, including
    when a racing GC deleted it after the caller listed it."""
    try:
        stream = fs.open(hpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return None
        raise
    try:
        return Manifest(**json.loads(bytes(stream.readAllBytes())))
    finally:
        stream.close()


def latest(spark: SparkSession, index_path: str) -> Manifest | None:
    """The highest committed version; None before the first commit."""
    meta, fs = _hadoop_path_and_fs(spark, os.path.join(index_path, META))
    if not fs.exists(meta):
        return None
    found = {}
    for st in fs.listStatus(meta):
        if m := _MANIFEST.fullmatch((hpath := st.getPath()).getName()):
            found[int(m.group(1))] = hpath
    if not found:
        return None
    # a racing GC may have deleted it after newer commits: look again
    return _read(found[max(found)], fs) or latest(spark, index_path)


def paths(index_path: str, m: Manifest | None, comp: str) -> list[str]:
    dirs = m.components.get(comp, []) if m else []
    return [os.path.join(index_path, comp, d) for d in dirs]


def read(
    spark: SparkSession, index_path: str, m: Manifest | None, comp: str, schema=None
) -> DataFrame:
    """Component ``comp`` as committed in ``m`` (``fsutil.read_parquet``:
    no Spark job); an empty frame of ``schema`` when nothing is
    committed for it yet."""
    listed = paths(index_path, m, comp)
    if listed or schema is None:
        return read_parquet(spark, *listed)
    return spark.createDataFrame([], schema)


def write(
    spark: SparkSession,
    index_path: str,
    kind: str,
    base: Manifest | None,
    frames: dict[str, DataFrame | pa.Table],
    replace: bool = False,
) -> Manifest:
    """Stage each frame into a fresh subdirectory tagged base+1, then
    commit base+1 listing them after ``base``'s subdirectories (or,
    with ``replace``, instead of them). A ``pyarrow.Table`` is written
    from the driver, and skipped when it has no rows."""
    if base is not None and base.kind != kind:
        raise ValueError(f"{index_path!r} is a {base.kind!r} index, not {kind!r}")
    version = base.version + 1 if base else 1
    comps = {} if replace or base is None else dict(base.components)
    for comp, df in frames.items():
        is_table = isinstance(df, pa.Table)
        if is_table and not df.num_rows:
            continue
        d = f"v={version:08d}-{uuid.uuid4().hex[:8]}"
        if is_table:
            _write_table(spark, os.path.join(index_path, comp, d), df)
        else:
            df.write.parquet(os.path.join(index_path, comp, d))
        comps[comp] = comps.get(comp, []) + [d]
    m = Manifest(kind, version, comps)
    commit(spark, index_path, m)
    return m


def _write_table(spark: SparkSession, subdir: str, table: pa.Table) -> None:
    """``table`` as the one parquet file of the new ``subdir``."""
    buf = io.BytesIO()
    # no dictionary pages: Spark's writer drops a dictionary that does
    # not shrink the column, pyarrow's keeps it (+27% on a batch's
    # shingle hashes)
    pq.write_table(table, buf, use_dictionary=False)
    name = f"part-00000-{uuid.uuid4()}.parquet"
    hpath, fs = _hadoop_path_and_fs(spark, os.path.join(subdir, name))
    out = fs.create(hpath, False)
    try:
        out.write(buf.getvalue())
    finally:
        out.close()


def commit(spark: SparkSession, index_path: str, m: Manifest) -> None:
    """Publish ``m``, then collect garbage. Raises FileExistsError when
    another writer already committed ``m.version``."""
    meta = os.path.join(index_path, META)
    tmp_name = f"v{m.version:08d}.{uuid.uuid4().hex[:8]}.tmp"
    tmp, fs = _hadoop_path_and_fs(spark, os.path.join(meta, tmp_name))
    out = fs.create(tmp, False)
    try:
        out.write(json.dumps(asdict(m)).encode())
    finally:
        out.close()
    dst, _ = _hadoop_path_and_fs(spark, os.path.join(meta, _name(m.version)))
    _publish(fs, tmp, dst)
    gc(spark, index_path, m)


def _publish(fs, tmp, dst) -> None:
    """Rename ``tmp`` onto ``dst``, failing if ``dst`` exists. HDFS and
    object-store renames refuse an existing file target; a local
    rename(2) would replace it, so the local filesystem links instead
    (link(2) refuses an existing target)."""
    if fs.getScheme() == "file":
        os.link(tmp.toUri().getPath(), dst.toUri().getPath())
        fs.delete(tmp, False)
    elif not fs.rename(tmp, dst):
        raise FileExistsError(f"index version already committed: {dst}")


def gc(spark: SparkSession, index_path: str, m: Manifest) -> None:
    """Delete every tagged entry that neither ``m`` nor its previous
    version lists, unless it targets a version above ``m``'s."""
    keep = {META: {_name(m.version), _name(m.version - 1)}}
    prev = os.path.join(index_path, META, _name(m.version - 1))
    for held in (m, _read(*_hadoop_path_and_fs(spark, prev))):
        for comp, dirs in (held.components if held else {}).items():
            keep.setdefault(comp, set()).update(dirs)
    for comp, names in keep.items():
        hpath, fs = _hadoop_path_and_fs(spark, os.path.join(index_path, comp))
        for st in fs.listStatus(hpath):
            tag = _TAGGED.match(name := st.getPath().getName())
            if tag and int(tag.group(1)) <= m.version and name not in names:
                fs.delete(st.getPath(), True)
