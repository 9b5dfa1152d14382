"""The one module that talks to ``org.apache.hadoop.fs``. Every call
goes through the Hadoop ``FileSystem`` of its path, so file://,
hdfs:// and s3a:// URIs all work, and resolves the ``Path`` class once
per SparkContext: each package hop of ``jvm.org.apache.hadoop.fs.Path``
is a py4j round trip.

``swap_in`` keeps the pipeline's archive-before-delete discipline: at
every instant one complete copy of ``path`` exists under a name that
``recover`` knows, so an interrupted swap completes or rolls back on
the next open. On object stores rename is copy+delete; there, prefer
a NEW dated prefix and a catalog pointer flip.

``run_epoch`` is the same discipline for an incremental store whose
per-drop appends span several directories: BEGIN/DONE markers make a
replayed epoch a no-op, a torn one a refusal, and
``repair_torn_epochs`` rolls the torn one back.

``parquet_schema`` learns a parquet directory's schema the way Spark's
mergeSchema-off inference does, from the footer of its first data
file, but reads that footer on the driver instead of in a one-task
Spark job; ``read_parquet`` is the package's schema'd parquet reader.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

# (SparkContext, its Path class, its Hadoop conf): a new context
# re-resolves, so a stopped one's JVM handles are never reused
_jvm_handles: tuple = (None, None, None)


def _jvm(spark: SparkSession):
    """``(Path class, Hadoop conf)`` of ``spark``'s context."""
    global _jvm_handles
    sc = spark.sparkContext
    handles = _jvm_handles
    if handles[0] is not sc:
        handles = _jvm_handles = (sc, sc._jvm.org.apache.hadoop.fs.Path, sc._jsc.hadoopConfiguration())
    return handles[1:]


# (SparkContext, Spark's footer reader, HadoopInputFile, Footer, the
# parquet-to-Spark schema converter, ParquetFileFormat, the footer
# filter that skips row groups), re-resolved for a new context
_parquet_handles: tuple = (None,) * 7


def _parquet_jvm(spark: SparkSession):
    global _parquet_handles
    sc = spark.sparkContext
    handles = _parquet_handles
    if handles[0] is not sc:
        jvm = sc._jvm
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        handles = _parquet_handles = (
            sc,
            pq.ParquetFooterReader,
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile,
            jvm.org.apache.parquet.hadoop.Footer,
            pq.ParquetToSparkSchemaConverter,
            pq.ParquetFileFormat,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
    return handles[1:]


def resolve(spark: SparkSession, path: str, *more: str):
    """``(FileSystem of path, Path, *Paths)``."""
    Path, conf = _jvm(spark)
    hpaths = [Path(p) for p in (path, *more)]
    fs = hpaths[0].getFileSystem(conf)
    return (fs, *hpaths)


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = resolve(spark, path)
    return bool(fs.exists(hpath))


def list_files(
    spark: SparkSession, path: str, data_only: bool = True
) -> list[tuple[str, int]]:
    """``(full path, bytes)`` of every file below ``path``; empty when
    it does not exist. Spark's markers (``_SUCCESS``, ``_temporary``,
    dot files) are not data; ``data_only=False`` keeps them. Walks
    ``listStatus``: ``listFiles`` builds a LocatedFileStatus per file,
    which on the local filesystem forks a shell for its permissions."""
    fs, hpath = resolve(spark, path)
    if not fs.exists(hpath):
        return []
    out, dirs = [], [hpath]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if st.isDirectory():
                dirs.append(st.getPath())
                continue
            p = st.getPath().toString()
            if not (data_only and p.rsplit("/", 1)[-1].startswith(("_", "."))):
                out.append((p, st.getLen()))
    return out


def _first_data_file(fs, hpath):
    """Status of the file Spark's inference takes a schema from: the
    first data file below ``hpath`` in full-path order (a directory
    sorts as ``name/``), or ``None``. Hidden, as in Spark's file index:
    dot files, ``._COPYING_`` files, and ``_`` names other than
    ``k=v`` partition directories."""
    listed = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not ((name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")):
            is_dir = st.isDirectory()
            listed.append((name + "/" if is_dir else name, is_dir, st))
    for _, is_dir, st in sorted(listed, key=lambda e: e[0]):
        found = _first_data_file(fs, st.getPath()) if is_dir else st
        if found is not None:
            return found
    return None


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data schema Spark's mergeSchema-off inference gives ``path``,
    read from one footer on the driver: no Spark job. Partition columns
    are left to Spark's directory discovery. ``None`` when Spark must
    decide itself: no data file, a session that merges schemas, or a
    streaming sink's output, whose ``_spark_metadata`` log names the
    files Spark reads. A corrupt footer raises."""
    sqlconf = spark._jsparkSession.sessionState().conf()
    if sqlconf.isParquetSchemaMergingEnabled():
        return None
    fs, hpath, log = resolve(spark, path, path.rstrip("/") + "/_spark_metadata")
    status = _first_data_file(fs, hpath) if fs.exists(hpath) and not fs.exists(log) else None
    if status is None:
        return None
    footer_reader, input_file, footer, converter, parquet_format, skip_row_groups = _parquet_jvm(spark)
    _, conf = _jvm(spark)
    metadata = footer_reader.readFooter(input_file.fromStatus(status, conf), skip_row_groups)
    # Spark's own footer-to-schema step: the row-metadata JSON Spark
    # writes, else the session's parquet-to-Spark type conversion
    schema = parquet_format.readSchemaFromFooter(footer(status.getPath(), metadata), converter(sqlconf))
    return _parse_datatype_json_string(schema.json())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    ``parquet_schema``; when that is ``None``, Spark infers it (or
    raises its own error)."""
    schema = parquet_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def children(spark: SparkSession, path: str) -> list[str]:
    """Names of the direct children of ``path``; empty when missing."""
    fs, hpath = resolve(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath = resolve(spark, path)
    fs.mkdirs(hpath)


def delete(spark: SparkSession, path: str) -> None:
    """Recursive; a missing path is a no-op."""
    fs, hpath = resolve(spark, path)
    fs.delete(hpath, True)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = resolve(spark, path)
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, hpath = resolve(spark, path)
    stream = fs.open(hpath)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _rename(fs, src, dst) -> None:
    # FileSystem.rename reports most failures as ``false``; unchecked,
    # a refused first rename of the swap lets the second one nest the
    # new copy INSIDE the old path on HDFS
    try:
        ok = fs.rename(src, dst)
    except Py4JJavaError as e:
        raise OSError(f"rename {src.toString()} -> {dst.toString()}: {e}") from e
    if not ok:
        raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``; ``OSError`` naming both on refusal."""
    fs, s, d = resolve(spark, src, dst)
    _rename(fs, s, d)


def recover(spark: SparkSession, path: str) -> None:
    """Finish or roll back an interrupted ``swap_in`` of ``path``: a
    missing ``path`` gets ``__precompact`` back, a stale
    ``__compacting`` is dropped, and ``__precompact`` is dropped only
    while ``path`` exists."""
    base = path.rstrip("/")
    fs, hpath, tmp, old = resolve(spark, path, base + "__compacting", base + "__precompact")
    if fs.exists(old):
        if fs.exists(hpath):
            fs.delete(old, True)
        else:
            _rename(fs, old, hpath)
    fs.delete(tmp, True)


def swap_in(spark: SparkSession, path: str, write_to_tmp) -> None:
    """Crash-safe replace of ``path`` (a missing one is a first
    publish): recover any earlier swap, ``write_to_tmp(tmp)`` the new
    copy to ``__compacting``, move ``path`` aside to ``__precompact``,
    move the new copy in, drop the old one."""
    recover(spark, path)
    base = path.rstrip("/")
    write_to_tmp(base + "__compacting")
    if exists(spark, path):
        rename(spark, path, base + "__precompact")
    rename(spark, base + "__compacting", path)
    delete(spark, base + "__precompact")


def publish_partitions(spark: SparkSession, stage: str, dst: str) -> None:
    """Move the data files of ``stage``'s ``col=value`` directories
    into the same-named directories of ``dst``, then delete ``stage``:
    a metadata-only append of one single-level partitioned parquet
    root onto another. Spark part-file names carry a job-unique id, so
    moves cannot collide; the local filesystem moves each ``.crc``
    along with its file. Renames straight from the listed ``Path``
    objects: every string round trip through py4j costs a call."""
    fs, hstage, hdst = resolve(spark, stage, dst)
    Path, _ = _jvm(spark)
    for part in fs.listStatus(hstage):
        if not part.isDirectory():
            continue
        src_dir = part.getPath()
        name = src_dir.getName()
        if "=" not in name:
            continue
        to = Path(hdst, name)
        fs.mkdirs(to)
        for f in fs.listStatus(src_dir):
            src = f.getPath()
            fname = src.getName()
            if not fname.startswith(("_", ".")):
                _rename(fs, src, Path(to, fname))
    fs.delete(hstage, True)


# -- epoch transactions -------------------------------------------------
# Layout under an incremental store's marker_dir, written here only:
#   <epoch_id>.begin/manifest.json  every file each protected dir held
#                                   before the epoch's first append
#   <epoch_id>.done                 every append of the epoch landed


def mark_epoch(spark: SparkSession, marker_dir: str, epoch_id: int, phase: str = "done") -> None:
    """Write the bare ``phase`` marker of ``epoch_id``."""
    mkdirs(spark, f"{marker_dir}/{epoch_id}.{phase}")


def run_epoch(spark: SparkSession, marker_dir: str, epoch_id: int, dirs: list[str], stage, append) -> bool:
    """Apply one epoch of multi-directory appends at most once.

    A DONE epoch is skipped (``False``). A BEGIN-without-DONE epoch
    raises: its appends are partially applied and re-running would
    double-append, so ``repair_torn_epochs`` must roll it back first.
    Otherwise ``staged = stage()`` runs, which must only read; a
    ``None`` (an empty drop) writes DONE alone. Else BEGIN is written
    with a manifest snapshot of ``dirs``, then ``append(staged)``,
    then DONE. A crash before BEGIN leaves no marker and no repair
    debt; one after leaves a BEGIN whose manifest names exactly the
    files the torn appends made."""
    if exists(spark, f"{marker_dir}/{epoch_id}.done"):
        return False
    if exists(spark, f"{marker_dir}/{epoch_id}.begin"):
        raise RuntimeError(
            f"epoch {epoch_id} began but never completed under "
            f"{marker_dir}: its appends are partially applied across "
            f"the store directories and re-running would double-append. "
            f"Run storage.repair_torn_epochs (or drop the partial "
            f"epoch's files by hand) before restarting."
        )
    staged = stage()
    if staged is not None:
        # markers included: repair removes everything a torn append made
        snapshot = {
            d: {
                "exists": exists(spark, d),
                "files": [f for f, _ in list_files(spark, d, data_only=False)],
            }
            for d in dirs
        }
        mark_epoch(spark, marker_dir, epoch_id, "begin")
        write_text(spark, f"{marker_dir}/{epoch_id}.begin/manifest.json", json.dumps(snapshot))
        append(staged)
    mark_epoch(spark, marker_dir, epoch_id)
    return True


def repair_torn_epochs(spark: SparkSession, marker_dir: str, dirs: list[str]) -> list[int]:
    """Roll back every BEGIN-without-DONE epoch under ``marker_dir``:
    delete the files the torn epoch appended (anything in a protected
    directory that is NOT in the BEGIN manifest's snapshot; a
    directory the snapshot says did not exist is removed whole), then
    clear the marker. With a stream's durable checkpoint, a restart
    replays the same epoch id over the same input files, so the
    repaired-and-rerun store is identical to a never-crashed run.
    Returns the repaired epoch ids.

    A manifest naming a directory outside ``dirs`` raises
    ``ValueError`` before anything is deleted: a ``marker_dir`` that
    belongs to another store must not roll that store back."""
    allowed = {d.rstrip("/") for d in dirs}
    torn = {}
    for name in children(spark, marker_dir):
        if not name.endswith(".begin"):
            continue
        epoch_id = int(name[: -len(".begin")])
        if exists(spark, f"{marker_dir}/{epoch_id}.done"):
            continue
        begin = f"{marker_dir}/{name}"
        # no manifest: the crash came between the BEGIN mkdir and the
        # manifest write; the first append comes only after both, so
        # nothing landed and clearing the bare marker IS the repair
        manifest = {}
        if exists(spark, f"{begin}/manifest.json"):
            manifest = json.loads(read_text(spark, f"{begin}/manifest.json"))
        for d in manifest:
            if d.rstrip("/") not in allowed:
                raise ValueError(
                    f"epoch {epoch_id} under {marker_dir} protects {d}, "
                    f"which is not among the directories to repair "
                    f"{sorted(allowed)}; nothing was deleted"
                )
        torn[epoch_id] = (begin, manifest)
    for epoch_id, (begin, manifest) in sorted(torn.items()):
        for d, snap in manifest.items():
            if not snap["exists"]:
                delete(spark, d)
                continue
            keep = set(snap["files"])
            for f, _ in list_files(spark, d, data_only=False):
                if f not in keep:
                    delete(spark, f)
        delete(spark, begin)
    return sorted(torn)
