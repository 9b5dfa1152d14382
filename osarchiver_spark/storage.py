"""The one module that talks to ``org.apache.hadoop.fs``. Every call
goes through the Hadoop ``FileSystem`` of its path, so file://,
hdfs:// and s3a:// URIs all work, and resolves the ``Path`` class once:
each package hop of ``jvm.org.apache.hadoop.fs.Path`` is a py4j round
trip.

``swap_in`` keeps the pipeline's archive-before-delete discipline: at
every instant one complete copy of ``path`` exists under a name that
``recover`` knows, so an interrupted swap completes or rolls back on
the next open. On object stores rename is copy+delete; there, prefer
a NEW dated prefix and a catalog pointer flip.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def resolve(spark: SparkSession, path: str, *more: str):
    """``(FileSystem of path, Path, *Paths)``."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    hpaths = [Path(p) for p in (path, *more)]
    fs = hpaths[0].getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
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
    along with its file."""
    dst = dst.rstrip("/")
    moves = [
        (src, f"{dst}/{part}/{name}")
        for src, _ in list_files(spark, stage)
        for part, name in [src.rsplit("/", 2)[-2:]]
        if "=" in part
    ]
    parts = sorted({d.rsplit("/", 1)[0] for _, d in moves})
    fs, hstage, *hpaths = resolve(spark, stage, *parts, *(p for m in moves for p in m))
    for hpart in hpaths[: len(parts)]:
        fs.mkdirs(hpart)
    hmoves = hpaths[len(parts):]
    for src, to in zip(hmoves[::2], hmoves[1::2]):
        _rename(fs, src, to)
    fs.delete(hstage, True)
