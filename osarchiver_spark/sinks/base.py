"""Archival destinations (reference Destination ABC,
osarchiver/destination/base.py:12-36).

Backends re-expressed Spark-first:

- CsvSink        <- Csv formatter (destination/file/csv.py:20-58):
  headers/partitioned output/compression are Spark writer options
  instead of hand-managed file handles.
- ParquetArchiveSink <- archive-DB destination (destination/db/db.py):
  a parquet/date-partitioned "archive database" with schema-drift
  checking (db.py:246-277) and idempotent appends keyed on pk
  (db.py:374-414's INSERT..ON DUPLICATE KEY UPDATE no-op).
- SqlDumpSink    <- Sql formatter (destination/file/sql.py:34-84):
  INSERT-statement text emitted distributed via df.write.text.

A 100 TB note: every sink takes the *same* cached DataFrame — one
scan feeds N destinations (reference fan-out, archiver.py:44-64) —
and the Archiver runs the sink writes concurrently on that one cached
set (``session.concurrently``, one driver thread per sink, each in the
run's job group), so a sink's ``write`` must be thread-safe beside
other sinks' and beside the previous table's source rewrite. A sink
that raises fails only its table; every other sink is still
attempted. The source delete waits until every sink has landed.
Writes are partitioned by a date column when available, so the
archive lays out as date-pruned parquet.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osarchiver_spark import storage
from osarchiver_spark.plans.naming import render_suffix
from osarchiver_spark.plans.schema_drift import check_schema_drift


def key_lists(primary_keys: dict[str, str | list[str]]) -> dict[str, list[str]]:
    """Per-table primary keys, single or composite (e.g. lineitem's
    (l_orderkey, l_linenumber)), normalized to column lists."""
    return {t: [k] if isinstance(k, str) else list(k) for t, k in primary_keys.items()}


class Sink(ABC):
    """write(table_name, df) once per table per run; idempotent."""

    @abstractmethod
    def write(self, table: str, df: DataFrame) -> None: ...

    def begin_run(self, now: datetime) -> None:
        """Per-run namespace hook: the Archiver calls this with the
        run's frozen ``now`` so file sinks derive a dated output
        directory (reference {date}-templated directories,
        destination/file/base.py:49-50)."""


class _DatedFileSink(Sink):
    """Shared per-run dated-directory writer for file-format sinks:
    each table lands as one Spark ``fmt`` dataset at
    ``<root>/<run>/<table>.<ext>``, with the class's writer
    ``options`` and the instance's codec ``compression``.

    Run N+1 must never clobber run N's archive (those rows are gone
    from the source after the delete step): each run writes under
    ``<root>/<rendered {date} suffix>/``. A re-run with the SAME
    frozen now overwrites its own directory — idempotent."""

    fmt: str
    ext: str
    options: dict = {}

    def __init__(self, root: str, compression: str | None = None, run_template: str = "{date}"):
        self.root = root
        self.compression = compression
        self.run_template = run_template
        self._run_dir: str | None = None

    def begin_run(self, now: datetime) -> None:
        self._run_dir = render_suffix(self.run_template, now)

    def _out_path(self, leaf: str) -> str:
        run_dir = self._run_dir or render_suffix(self.run_template, datetime.now())
        return os.path.join(self.root, run_dir, leaf)

    def _object_prefix(self, table: str) -> str:
        """The table's dataset: a directory of part files (an object
        name prefix on a store)."""
        return self._out_path(f"{table}.{self.ext}")

    def write(self, table: str, df: DataFrame) -> None:
        writer = df.write.mode("overwrite").options(**self.options)
        if self.compression:
            writer = writer.option("compression", self.compression)
        writer.format(self.fmt).save(self._object_prefix(table))


class CsvSink(_DatedFileSink):
    """One CSV dataset per table per run: ``<root>/<run>/<table>.csv``.

    Reference writes one growing ``db.table.csv`` per table with a
    header on first batch (destination/file/csv.py:41-50); Spark's
    distributed writer keeps the header-per-file contract and adds
    codec compression (reference compresses post-hoc with
    ``make_archive``, destination/file/base.py:113-133).
    """

    fmt = ext = "csv"
    options = {"header": True}


class JsonlSink(_DatedFileSink):
    """One JSON-Lines dataset per table per run:
    ``<root>/<run>/<table>.jsonl`` — the interchange format of
    training-data pipelines (one document per line, shard-per-task).
    Spark's distributed json writer emits one shard per partition, so
    shard count/size is controlled by the upstream partitioning;
    codec compression (gzip/zstd) applies per shard. Beyond the
    reference's csv/sql formatter pair (destination/file/base.py:
    146-180) but the same fan-out contract."""

    fmt, ext = "json", "jsonl"


class OrcSink(_DatedFileSink):
    """One ORC dataset per table per run: ``<root>/<run>/<table>.orc``.
    Columnar export for warehouses that ingest ORC natively (Hive,
    Trino); same dated fan-out contract as the csv/sql/jsonl sinks,
    written by Spark's built-in ORC datasource with min/max stats and
    optional codec compression (zlib/snappy/zstd)."""

    fmt = ext = "orc"


class ParquetArchiveSink(Sink):
    """The "archive database": parquet per table, append-mode with
    pk-dedup so re-runs are idempotent (the Spark rewrite of
    ``ON DUPLICATE KEY UPDATE pk=pk``), plus drift check against the
    existing archive schema before any write (reference raises
    OSArchiverNotEqualTableError on drift). That schema comes from one
    footer read on the driver (``storage.read_parquet``), not from a
    Spark inference job."""

    def __init__(
        self,
        root: str,
        primary_keys: dict[str, str | list[str]],
        partition_column: str | None = None,
        allow_additive: bool = False,
    ):
        self.root = root
        self.primary_keys = key_lists(primary_keys)
        self.partition_column = partition_column
        # additive schema evolution: accept sources that have grown
        # new columns (old files read them back as null via
        # mergeSchema); renames/drops/type changes still raise
        self.allow_additive = allow_additive

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, table: str, df: DataFrame) -> None:
        path = self._path(table)
        spark = df.sparkSession
        pk = self.primary_keys[table]
        # Explicit existence probe: ONLY a missing archive, or one
        # holding no data files (an empty first write leaves just
        # markers, and its schema cannot be inferred), falls through
        # to first-write mode. A transient/corrupt read of an archive
        # WITH data must raise — silently overwriting would drop
        # previously archived rows whose source copies are gone.
        existing = None
        if storage.exists(spark, path):
            try:
                existing = storage.read_parquet(spark, path)
            except Exception:  # noqa: BLE001
                if storage.list_files(spark, path):
                    raise
        mode = "overwrite"
        if existing is not None:
            incoming = existing.drop("_archive_dt") if "_archive_dt" in existing.columns else existing
            if self.allow_additive:
                from osarchiver_spark.plans.schema_drift import additive_columns

                additive_columns(df.schema, incoming.schema)
            else:
                check_schema_drift(df.schema, incoming.schema)
            # Idempotent insert-if-absent: drop rows whose pk is
            # already archived (anti-join replaces the reference's
            # ON DUPLICATE KEY UPDATE no-op upsert). USING moves the key
            # columns to the front: restore the source order, or the
            # next write fails the order-sensitive drift check.
            df = df.join(existing.select(*pk), on=pk, how="left_anti").select(*df.columns)
            mode = "append"
        if self.partition_column and self.partition_column in df.columns:
            # Month-partitioned archive layout: partition pruning on
            # read with bounded partition counts (daily granularity
            # on a years-long retention column would mean thousands
            # of tiny partitions — the classic small-files failure).
            df = df.withColumn("_archive_dt", F.trunc(F.col(self.partition_column), "month"))
            df.write.mode(mode).partitionBy("_archive_dt").parquet(path)
        else:
            df.write.mode(mode).parquet(path)

    def read(self, spark, table: str) -> DataFrame:
        path = self._path(table)
        if self.allow_additive:
            # old files lack later-added columns; mergeSchema unions
            # the file schemas and backfills them as null
            df = spark.read.option("mergeSchema", "true").parquet(path)
        else:
            df = storage.read_parquet(spark, path)
        return df.drop("_archive_dt") if "_archive_dt" in df.columns else df


class SqlDumpSink(_DatedFileSink):
    """SQL-dump text per table (reference destination/file/sql.py):
    one idempotent ``INSERT ... ON DUPLICATE KEY UPDATE pk=pk;`` line
    per row, rendered distributed (no driver collect) and written via
    the text writer, under the per-run dated directory."""

    fmt, ext = "text", "sql"

    def __init__(self, root: str, primary_keys: dict[str, str | list[str]], run_template: str = "{date}"):
        super().__init__(root, run_template=run_template)
        self.primary_keys = key_lists(primary_keys)

    def write(self, table: str, df: DataFrame) -> None:
        pk = self.primary_keys[table][0]
        cols = df.columns
        # Render each value: NULL unquoted, strings escaped (reference
        # sql.py:59-66) — built-in expressions, JVM-side.
        rendered = [
            F.when(F.col(c).isNull(), F.lit("NULL")).otherwise(
                F.concat(F.lit("'"), F.regexp_replace(F.col(c).cast("string"), "'", "''"), F.lit("'"))
            )
            for c in cols
        ]
        line = F.concat(
            F.lit(f"INSERT INTO `{table}` (" + ", ".join(f"`{c}`" for c in cols) + ") VALUES ("),
            F.concat_ws(", ", *rendered),
            F.lit(f") ON DUPLICATE KEY UPDATE `{pk}` = `{pk}`;"),
        )
        super().write(table, df.select(line.alias("value")))
