"""INI configuration front end (the reference's "query language").

The reference drives everything from an INI file with interpolated
sections (osarchiver/config.py:19-156, archiver_sample.ini): a
``[archiver:<name>]`` section names one ``src`` and N ``dst``
sections, ``[DEFAULT]`` carries overridable options, booleans coerce
through configparser, and the retention predicate is the templated
``where=${deleted_column} <= SUBDATE('{now}', INTERVAL ${retention})``
with ``{now}`` frozen once per run.

This module parses the same shape into the Spark-native plan objects:
``ArchiveJobSpec`` + ``Sink`` list + a parquet table catalog. The
deliberate differences (documented, not accidental):

- ``backend=parquet`` sources read a directory of parquet tables
  (``directory=``) instead of a MySQL host; primary/foreign keys are
  declared in the section (``primary_keys=table:col``,
  ``foreign_keys=child.col=parent.col``) because parquet carries no
  key metadata (SURVEY §1.4).
- ``where`` accepts either the reference's canonical SUBDATE pattern
  (translated to the engine's month-clamped retention cutoff) or any
  Spark SQL boolean expression with ``{now}`` templating.
- ``now=`` (our extension) pins the frozen run timestamp for
  reproducible runs/tests; absent, it freezes UTC now exactly like
  the reference (source/db.py:59-65).
"""

from __future__ import annotations

import configparser
import re
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from osarchiver_spark.operators.retention import Retention
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.sinks.base import (
    CsvSink,
    JsonlSink,
    OrcSink,
    ParquetArchiveSink,
    Sink,
    SqlDumpSink,
)
from osarchiver_spark.sources.parquet import load_table

BOOLEAN_OPTIONS = {"delete_data", "archive_data", "enable", "dry_run"}

# the reference's default where, archiver_sample.ini:35; any MySQL
# interval unit is accepted (the reference substitutes the raw string
# into SQL, source/db.py:64-65)
_UNITS = r"MONTH|YEAR|WEEK|DAY|HOUR|MINUTE|SECOND"
_CANONICAL_WHERE = re.compile(
    r"^\s*(?P<col>\w+)\s*<=\s*SUBDATE\(\s*'\{now\}'\s*,\s*INTERVAL\s+"
    rf"(?P<n>\d+)\s+(?P<unit>{_UNITS})S?\s*\)\s*$",
    re.IGNORECASE,
)
_RETENTION = re.compile(rf"^\s*(?P<n>\d+)\s+(?P<unit>{_UNITS})S?\s*$", re.IGNORECASE)


class ConfigError(ValueError):
    """Malformed INI configuration."""


@dataclass(frozen=True)
class JdbcSourceConfig:
    """``backend=db`` source — the reference's ONLY backend
    (osarchiver/source/db.py:22, archiver_sample.ini:71-81:
    host/port/user/password/databases). Maps to the keyset-parallel
    JDBC scan in sources/jdbc.py.

    ``keyset_lower``/``keyset_upper``/``keyset_partitions`` bound the
    parallel key ranges; at runtime, absent bounds should be probed
    with a min/max query before the scan (no database exists in the
    test container, so plans are built and asserted, not executed)."""

    url: str
    user: str = ""
    password: str = ""
    keyset_lower: int = 0
    keyset_upper: int = 2**31
    keyset_partitions: int = 32
    fetch_size: int = 10_000


@dataclass
class ConfiguredArchiver:
    """One runnable pipeline parsed from ``[archiver:<name>]``."""

    name: str
    src_name: str
    directory: str | None
    spec: ArchiveJobSpec
    sinks: list[Sink]
    where_sql: str | None = None  # non-canonical where, {now} rendered
    tables_filter: list[str] = field(default_factory=list)
    jdbc: JdbcSourceConfig | None = None
    # optional cross-run incremental state (plans/watermark.py),
    # from ``watermark_file=`` in [src:*]
    watermark_file: str | None = None

    def watermarks(self):
        if self.watermark_file is None:
            return None
        from osarchiver_spark.plans.watermark import WatermarkStore

        return WatermarkStore(self.watermark_file)

    def _jdbc_where(self, table: TableSpec) -> str:
        """The retention predicate rendered as database-side SQL so
        the DATABASE filters (reference source/db.py:237-248) — the
        pushdown that keeps a 100 TB source from shipping live rows."""
        if self.where_sql:
            return self.where_sql
        from osarchiver_spark.operators.retention import retention_cutoff

        cutoff = retention_cutoff(self.spec.now, self.spec.retention_months)
        return f"{table.deleted_column} <= '{cutoff:%Y-%m-%d %H:%M:%S}'"

    def jdbc_read_plans(self) -> dict[str, dict[str, str]]:
        """Per-table partitioned-JDBC reader options (the keyset-scan
        plan; sources/jdbc.py). Separated from execution so configs
        are verifiable without a live database."""
        if self.jdbc is None:
            raise ConfigError(f"archiver {self.name!r} has no db source")
        from osarchiver_spark.sources.jdbc import JdbcTable, jdbc_read_options

        plans = {}
        for t in self.spec.eligible_tables():
            src = JdbcTable(
                url=self.jdbc.url,
                table=t.name,
                primary_key=t.primary_key,
                user=self.jdbc.user,
                password=self.jdbc.password,
                fetch_size=self.jdbc.fetch_size,
            )
            plans[t.name] = jdbc_read_options(
                src,
                self.jdbc.keyset_lower,
                self.jdbc.keyset_upper,
                self.jdbc.keyset_partitions,
                where=self._jdbc_where(t),
            )
        return plans

    def dataframes(self, spark: SparkSession) -> dict[str, DataFrame]:
        """The source catalog: one lazy scan per eligible table —
        parquet (pushdown/pruning intact) or keyset-parallel JDBC."""
        out = {}
        if self.jdbc is not None:
            for t, opts in self.jdbc_read_plans().items():
                reader = spark.read.format("jdbc")
                for k, v in opts.items():
                    reader = reader.option(k, v)
                out[t] = reader.load()
            return out
        for t in self.spec.eligible_tables():
            df = load_table(spark, self.directory, t.name)
            if self.where_sql:
                df = df.filter(self.where_sql)
            out[t.name] = df
        return out


def parse_retention(text: str) -> Retention:
    """``N MONTH`` / ``30 DAY`` / ``12 HOUR`` … — the same interval
    vocabulary the reference passes straight to MySQL."""
    m = _RETENTION.match(text)
    if not m:
        raise ConfigError(
            f"unsupported retention {text!r}: declare 'N <unit>' with unit one "
            "of MONTH/YEAR/WEEK/DAY/HOUR/MINUTE/SECOND"
        )
    return Retention(int(m.group("n")), m.group("unit").upper())


def parse_retention_months(text: str) -> int:
    """Back-compat helper: the month count of a MONTH/YEAR retention."""
    r = parse_retention(text)
    unit = r.normalized_unit()
    if unit not in ("MONTH", "YEAR"):
        raise ConfigError(f"retention {text!r} is not month-granular")
    return r.n * 12 if unit == "YEAR" else r.n


def _split_list(text: str) -> list[str]:
    return [x.strip() for x in re.split(r"\n|,|;", text or "") if x.strip()]


def _parse_keys(section: dict[str, str]) -> tuple[dict[str, str], dict[str, dict[str, tuple[str, str]]]]:
    """primary_keys=orders:o_orderkey, lineitem:l_orderkey
    foreign_keys=lineitem.l_orderkey=orders.o_orderkey"""
    pks: dict[str, str] = {}
    for item in _split_list(section.get("primary_keys", "")):
        table, _, col = item.partition(":")
        if not col:
            raise ConfigError(f"primary_keys entry {item!r} must be table:column")
        pks[table.strip()] = col.strip()
    fks: dict[str, dict[str, tuple[str, str]]] = {}
    for item in _split_list(section.get("foreign_keys", "")):
        child, _, parent = item.partition("=")
        try:
            ctab, ccol = child.strip().split(".")
            ptab, pcol = parent.strip().split(".")
        except ValueError as exc:
            raise ConfigError(
                f"foreign_keys entry {item!r} must be child.col=parent.col"
            ) from exc
        fks.setdefault(ctab, {})[ccol] = (ptab, pcol)
    return pks, fks


def _render_where(where: str, now: datetime) -> tuple[Retention | None, str | None]:
    """Canonical SUBDATE pattern -> engine retention interval;
    anything else -> Spark SQL with {now} templated in."""
    m = _CANONICAL_WHERE.match(where)
    if m:
        return Retention(int(m.group("n")), m.group("unit").upper()), None
    return None, where.replace("{now}", now.strftime("%Y-%m-%d %H:%M:%S"))


def load_config(
    text: str | None = None, path: str | None = None, dry_run: bool = False
) -> list[ConfiguredArchiver]:
    """Parse an INI (string or file) into runnable archivers —
    the counterpart of reference Config.archivers (config.py:80-156)."""
    parser = configparser.ConfigParser(interpolation=configparser.ExtendedInterpolation())
    if text is not None:
        parser.read_string(text)
    elif path is not None:
        if not parser.read(path):
            raise ConfigError(f"config file not found or unreadable: {path}")
    else:
        raise ConfigError("need text or path")

    def section(name: str) -> dict[str, str]:
        if not parser.has_section(name):
            raise ConfigError(f"missing section [{name}]")
        return dict(parser.items(name))

    archivers: list[ConfiguredArchiver] = []
    for sec in parser.sections():
        if not sec.startswith("archiver:"):
            continue
        if not parser.getboolean(sec, "enable", fallback=True):
            continue
        arch = dict(parser.items(sec))
        name = sec.removeprefix("archiver:")
        for src_name in _split_list(arch.get("src", "")):
            src = section(f"src:{src_name}")
            backend = src.get("backend", "parquet")
            if backend not in ("parquet", "db"):
                raise ConfigError(
                    f"src backend {backend!r} not supported (parquet | db)"
                )
            directory = None
            jdbc_cfg = None
            if backend == "db":
                jdbc_cfg = _build_jdbc_source(src, src_name)
            else:
                directory = src.get("directory")
                if not directory:
                    raise ConfigError(f"[src:{src_name}] needs directory=")
            now = (
                datetime.fromisoformat(src["now"])
                if "now" in src
                else datetime.utcnow().replace(microsecond=0)
            )
            deleted_column = src.get("deleted_column", "deleted_at")
            retention = parse_retention(src.get("retention", "12 MONTH"))
            where_sql = None
            if "where" in src:
                canon_retention, where_sql = _render_where(src["where"], now)
                if canon_retention is not None:
                    retention = canon_retention
            pks, fks = _parse_keys(src)
            tables = _split_list(src.get("tables", "*"))
            names = list(pks) if tables == ["*"] else tables
            tspecs = [
                TableSpec(
                    t,
                    primary_key=pks.get(t, "id"),
                    deleted_column=src.get(f"deleted_column_{t}", deleted_column),
                    foreign_keys=fks.get(t, {}),
                )
                for t in names
            ]
            spec = ArchiveJobSpec(
                tables=tspecs,
                retention_months=retention,
                now=now,
                db_exclusions=_split_list(src.get("excluded_databases", "")),
                table_exclusions=_split_list(src.get("excluded_tables", "")),
                archive_data=parser.getboolean(f"src:{src_name}", "archive_data", fallback=True),
                delete_data=parser.getboolean(f"src:{src_name}", "delete_data", fallback=False),
                dry_run=dry_run,
            )
            sinks: list[Sink] = []
            for dst_name in _split_list(arch.get("dst", "")):
                dst = section(f"dst:{dst_name}")
                sinks.extend(_build_sinks(dst, dst_name, pks))
                if dst.get("remote_store"):
                    sinks.append(
                        _build_remote_store(section(f"remote_store:{dst['remote_store']}"))
                    )
            archivers.append(
                ConfiguredArchiver(
                    name=name,
                    src_name=src_name,
                    directory=directory,
                    spec=spec,
                    sinks=sinks,
                    where_sql=where_sql,
                    jdbc=jdbc_cfg,
                    watermark_file=src.get("watermark_file"),
                )
            )
    return archivers


def _build_jdbc_source(src: dict[str, str], src_name: str) -> JdbcSourceConfig:
    """Reference db-source vocabulary (archiver_sample.ini:71-81:
    host/port/user/password/databases) -> a JDBC URL. A migrating
    user arrives with a DSN: accept either explicit ``jdbc_url=`` or
    the reference's host/databases pair."""
    url = src.get("jdbc_url")
    if not url:
        host = src.get("host")
        dbs = _split_list(src.get("databases", ""))
        if not host or not dbs:
            raise ConfigError(
                f"[src:{src_name}] backend=db needs jdbc_url= or host= + databases="
            )
        if len(dbs) > 1:
            raise ConfigError(
                f"[src:{src_name}] one database per source section (got {dbs})"
            )
        url = f"jdbc:mysql://{host}:{src.get('port', '3306')}/{dbs[0]}"
    return JdbcSourceConfig(
        url=url,
        user=src.get("user", ""),
        password=src.get("password", ""),
        keyset_lower=int(src.get("keyset_lower", "0")),
        keyset_upper=int(src.get("keyset_upper", str(2**31))),
        keyset_partitions=int(src.get("keyset_partitions", "32")),
        fetch_size=int(src.get("fetch_size", "10000")),
    )


def _load_sink_plugin(path: str, dst_name: str) -> type:
    """Resolve ``formats=my_pkg.my_mod.MySink`` to a Sink subclass.
    The class is instantiated like the built-in file formatters:
    ``cls(directory, compression=...)``."""
    import importlib

    mod_name, _, cls_name = path.rpartition(".")
    try:
        cls = getattr(importlib.import_module(mod_name), cls_name)
    except (ImportError, AttributeError) as e:
        raise ConfigError(f"[dst:{dst_name}] cannot load format plugin {path!r}: {e}") from e
    if not (isinstance(cls, type) and issubclass(cls, Sink)):
        raise ConfigError(f"[dst:{dst_name}] format plugin {path!r} is not a Sink subclass")
    return cls


def _build_sinks(dst: dict[str, str], dst_name: str, pks: dict[str, str]) -> list[Sink]:
    backend = dst.get("backend", "file")
    if backend == "jdbc":
        # the reference's real destination/db backend (db/db.py): an
        # INSERT-if-absent archive into a live database. url= is the
        # JDBC URL (credentials ride in it or in driver properties);
        # executing requires the driver jar on the Spark driver
        # classpath (sinks/jdbc.py docstring).
        from osarchiver_spark.sinks.jdbc import JdbcArchiveSink

        url = dst.get("url")
        if not url:
            raise ConfigError(f"[dst:{dst_name}] backend=jdbc needs url=")
        return [
            JdbcArchiveSink(
                url,
                primary_keys=dict(pks),
                driver=dst.get("driver"),
                batch_size=int(dst.get("batch_size", "10000")),
                user=dst.get("user", ""),
                password=dst.get("password", ""),
            )
        ]
    directory = dst.get("directory")
    if not directory:
        raise ConfigError(f"[dst:{dst_name}] needs directory=")
    if backend == "file":
        sinks: list[Sink] = []
        for fmt in _split_list(dst.get("formats", "csv")):
            if fmt == "csv":
                sinks.append(CsvSink(directory, compression=dst.get("compression")))
            elif fmt == "sql":
                sinks.append(SqlDumpSink(directory, primary_keys=dict(pks)))
            elif fmt == "jsonl":
                sinks.append(JsonlSink(directory, compression=dst.get("compression")))
            elif fmt == "orc":
                sinks.append(OrcSink(directory, compression=dst.get("compression")))
            elif "." in fmt:
                # plugin formatter by dotted path — the reference's
                # extension surface, where formatters/backends load by
                # naming convention via import_module
                # (destination/file/base.py:154-177,
                # common/__init__.py:11-28)
                cls = _load_sink_plugin(fmt, dst_name)
                sinks.append(cls(directory, compression=dst.get("compression")))
            else:
                raise ConfigError(f"[dst:{dst_name}] unknown file format {fmt!r}")
        return sinks
    if backend in ("db", "parquet"):
        # the "archive database" backend is a parquet namespace here
        return [
            ParquetArchiveSink(
                directory,
                primary_keys=dict(pks),
                partition_column=dst.get("partition_column"),
                # additive_schema=true opts into lakehouse-style
                # column growth (sinks/base.py allow_additive)
                allow_additive=str(dst.get("additive_schema", "")).lower()
                in ("1", "true", "yes", "on"),
            )
        ]
    raise ConfigError(f"[dst:{dst_name}] unsupported backend {backend!r}")


def _build_remote_store(sec: dict[str, str]) -> Sink:
    """[remote_store:<name>] -> direct object-store writes. The
    reference's container + file_name_prefix + opt_* shape
    (archiver_sample.ini:112-131) maps to a URI + Hadoop conf."""
    from osarchiver_spark.sinks.remote import RemoteStoreSink

    base_uri = sec.get("base_uri") or sec.get("container")
    if not base_uri:
        raise ConfigError("[remote_store:*] needs base_uri= (or container=)")
    return RemoteStoreSink(
        base_uri,
        file_name_prefix=sec.get("file_name_prefix", ""),
        fmt=sec.get("format", "parquet"),
        compression=sec.get("compression"),
        store_options={k: v for k, v in sec.items() if k.startswith("opt_")},
    )
