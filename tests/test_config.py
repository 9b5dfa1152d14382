"""INI config front end: the reference's entry shape
(config.py:89-156, archiver_sample.ini) must drive Archiver.run()
end-to-end — section interpolation, boolean coercion, canonical-where
translation, {now} freezing, dry-run."""

from __future__ import annotations

import glob
from datetime import datetime

import pytest

from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.operators.retention import Retention, retention_cutoff
from osarchiver_spark.plans.config import (
    ConfigError,
    load_config,
    parse_retention,
    parse_retention_months,
)
from osarchiver_spark.sources.parquet import load_table

INI = """
[DEFAULT]
enable=false
archive_data=true
delete_data=false
deleted_column=o_orderdate
retention=36 MONTH
where=${deleted_column} <= SUBDATE('{now}', INTERVAL ${retention})

[archiver:orders]
src=orders_src
dst=file_archiver, db_archiver
enable=true

[archiver:disabled_one]
src=orders_src
enable=false

[src:orders_src]
backend=parquet
directory={SF}
now=2001-12-01T00:00:00
primary_keys=orders:o_orderkey
tables=orders

[dst:file_archiver]
backend=file
directory={OUT}/files
formats=csv,sql

[dst:db_archiver]
backend=parquet
directory={OUT}/arch
"""


def _render(sf_dir: str, out: str) -> str:
    return INI.replace("{SF}", sf_dir).replace("{OUT}", out)


def test_parse_retention():
    assert parse_retention_months("12 MONTH") == 12
    assert parse_retention_months("2 YEAR") == 24
    with pytest.raises(ConfigError):
        parse_retention_months("7 DAY")  # month-granular helper only
    assert parse_retention("7 DAY") == Retention(7, "DAY")
    assert parse_retention("12 HOUR") == Retention(12, "HOUR")
    assert parse_retention("30 DAYS") == Retention(30, "DAY")
    with pytest.raises(ConfigError):
        parse_retention("2 FORTNIGHT")


def test_sub_month_retention_cutoffs():
    now = datetime(1998, 8, 15, 12, 30)
    assert retention_cutoff(now, Retention(30, "DAY")) == datetime(1998, 7, 16, 12, 30)
    assert retention_cutoff(now, Retention(12, "HOUR")) == datetime(1998, 8, 15, 0, 30)
    assert retention_cutoff(now, Retention(2, "WEEK")) == datetime(1998, 8, 1, 12, 30)
    # MONTH stays month-clamped, int stays months
    assert retention_cutoff(datetime(2001, 3, 31), Retention(1, "MONTH")) == datetime(2001, 2, 28)
    assert retention_cutoff(datetime(2001, 3, 31), 1) == datetime(2001, 2, 28)


def test_day_retention_drives_archiver_end_to_end(spark, sf_small, tmp_path):
    ini = f"""
[archiver:orders_days]
src=orders_days
dst=days_files

[src:orders_days]
backend=parquet
directory={sf_small}
now=1998-08-15T00:00:00
retention=30 DAY
deleted_column=o_orderdate
primary_keys=orders:o_orderkey
tables=orders

[dst:days_files]
backend=parquet
directory={tmp_path}/arch_days
"""
    (a,) = load_config(text=ini)
    assert a.spec.retention_months == Retention(30, "DAY")
    results = Archiver(a.spec, a.sinks).run(a.dataframes(spark))
    assert results[0].error is None
    orders = load_table(spark, sf_small, "orders")
    expect = orders.filter("o_orderdate <= timestamp'1998-07-16 00:00:00'").count()
    assert results[0].archived_rows == expect > 0
    total = orders.count()
    assert 0 < expect < total  # the day-granular cutoff actually bites


def test_load_config_shape(sf_small, tmp_path):
    archivers = load_config(text=_render(sf_small, str(tmp_path)))
    assert len(archivers) == 1  # disabled archiver skipped
    a = archivers[0]
    assert a.name == "orders" and a.src_name == "orders_src"
    # canonical SUBDATE where -> engine retention; ExtendedInterpolation
    # resolved ${deleted_column}/${retention} from DEFAULT
    assert a.spec.retention_months == Retention(36, "MONTH") and a.where_sql is None
    assert a.spec.now == datetime(2001, 12, 1)
    assert not a.spec.delete_data  # boolean coercion from DEFAULT
    assert [t.name for t in a.spec.tables] == ["orders"]
    assert a.spec.tables[0].primary_key == "o_orderkey"
    assert len(a.sinks) == 3  # csv + sql + parquet archive


def test_config_drives_archiver_end_to_end(spark, sf_small, tmp_path):
    cfg = tmp_path / "archiver.ini"
    cfg.write_text(_render(sf_small, str(tmp_path)))
    (a,) = load_config(path=str(cfg))
    results = Archiver(a.spec, a.sinks).run(a.dataframes(spark))
    assert results[0].error is None
    orders = load_table(spark, sf_small, "orders")
    expect = orders.filter("o_orderdate <= timestamp'1998-12-01 00:00:00'").count()
    assert results[0].archived_rows == expect > 0
    # every configured format materialized
    assert glob.glob(str(tmp_path / "files" / "*" / "orders.csv" / "part-*"))
    assert glob.glob(str(tmp_path / "files" / "*" / "orders.sql" / "part-*"))
    archived = spark.read.parquet(str(tmp_path / "arch" / "orders"))
    assert archived.count() == expect


def test_config_dry_run_writes_nothing(spark, sf_small, tmp_path):
    (a,) = load_config(text=_render(sf_small, str(tmp_path)), dry_run=True)
    results = Archiver(a.spec, a.sinks).run(a.dataframes(spark))
    assert results[0].dry_run and results[0].archived_rows > 0
    assert glob.glob(str(tmp_path / "**" / "part-*"), recursive=True) == []


def test_cli_end_to_end(spark, sf_small, tmp_path, capsys):
    from osarchiver_spark.main import run

    cfg = tmp_path / "archiver.ini"
    cfg.write_text(_render(sf_small, str(tmp_path)))
    assert run(["--config", str(cfg), "--dry-run"]) == 0


def test_cli_restores_the_root_logger(spark, sf_small, tmp_path):
    """run() configures its own root handler on the current stdout and
    removes it on return: the host keeps its handlers and level."""
    import logging

    from osarchiver_spark.main import run

    root = logging.getLogger()
    before = (root.handlers[:], root.level)
    cfg = tmp_path / "archiver.ini"
    cfg.write_text(_render(sf_small, str(tmp_path)))
    assert run(["--config", str(cfg), "--dry-run"]) == 0
    assert (root.handlers[:], root.level) == before


DB_INI = """
[src:nova]
backend=db
host=localhost
port=3307
user=root
password=secret
databases=nova
retention=12 MONTH
now=2001-12-01T00:00:00
deleted_column=deleted_at
primary_keys=instances:id, instance_faults:id
tables=instances, instance_faults
keyset_upper=5000000

[archiver:nova]
src=nova
"""


def test_backend_db_builds_keyset_parallel_jdbc_plan():
    # the reference's ONLY source is MySQL (archiver_sample.ini:71-81);
    # a migrating user arrives with host/db options, not a parquet dir
    (a,) = load_config(text=DB_INI)
    assert a.jdbc is not None and a.directory is None
    plans = a.jdbc_read_plans()
    assert set(plans) == {"instances", "instance_faults"}
    opts = plans["instances"]
    assert opts["url"] == "jdbc:mysql://localhost:3307/nova"
    assert opts["user"] == "root" and opts["password"] == "secret"
    # keyset parallelism: pk-range partitioned scan
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "32"
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "5000000")
    # retention predicate pushed into the database-side subquery with
    # the frozen-now cutoff (12 MONTH before 2001-12-01)
    assert opts["dbtable"] == (
        "(SELECT * FROM instances WHERE deleted_at <= '2000-12-01 00:00:00') AS t"
    )


def test_backend_db_without_dsn_errors_cleanly():
    broken = DB_INI.replace("host=localhost\n", "").replace("databases=nova\n", "")
    with pytest.raises(ConfigError, match="jdbc_url= or host="):
        load_config(text=broken)


def test_custom_where_is_spark_sql(spark, sf_small, tmp_path):
    ini = _render(sf_small, str(tmp_path)).replace(
        "where=${deleted_column} <= SUBDATE('{now}', INTERVAL ${retention})",
        "where=o_orderstatus = 'F' AND o_orderdate <= timestamp'{now}'",
    )
    (a,) = load_config(text=ini)
    assert a.where_sql == "o_orderstatus = 'F' AND o_orderdate <= timestamp'2001-12-01 00:00:00'"
    dfs = a.dataframes(spark)
    assert dfs["orders"].filter("o_orderstatus <> 'F'").count() == 0


def test_shipped_sample_ini_parses(tmp_path):
    """archiver_sample.ini (repo root) must stay loadable: it is the
    document a migrating reference user starts from."""
    import os

    from osarchiver_spark.sinks.base import CsvSink, JsonlSink, ParquetArchiveSink
    from osarchiver_spark.sinks.remote import RemoteStoreSink

    sample = os.path.join(os.path.dirname(os.path.dirname(__file__)), "archiver_sample.ini")
    archivers = load_config(path=sample)
    # nova_db is enable=false; only the parquet pipeline configures
    (a,) = archivers
    assert a.name == "nova_parquet"
    assert a.spec.retention_months == Retention(30, "DAY")
    kinds = [type(s) for s in a.sinks]
    assert ParquetArchiveSink in kinds and CsvSink in kinds and JsonlSink in kinds
    assert RemoteStoreSink in kinds
    remote = next(s for s in a.sinks if isinstance(s, RemoteStoreSink))
    scoped, transient = remote.scoped_store_options()
    assert "fs.s3a.bucket.archive-bucket.endpoint" in scoped and transient == {}
    # FK graph parsed: faults reference instances
    faults = next(t for t in a.spec.tables if t.name == "instance_faults")
    assert faults.foreign_keys == {"instance_uuid": ("instances", "uuid")}
    assert not a.spec.delete_data  # DEFAULT boolean coercion


def test_watermark_file_makes_cli_runs_incremental(spark, sf_small, tmp_path):
    from osarchiver_spark.plans.watermark import WatermarkStore
    from osarchiver_spark.operators.archive import Archiver as A

    def ini(now):
        return f"""
[archiver:orders]
src=orders_src
dst=arch

[src:orders_src]
backend=parquet
directory={sf_small}
now={now}
retention=0 MONTH
deleted_column=o_orderdate
primary_keys=orders:o_orderkey
tables=orders
watermark_file={tmp_path}/orders.wm

[dst:arch]
backend=parquet
directory={tmp_path}/arch
"""
    (a1,) = load_config(text=ini("1996-01-01T00:00:00"))
    r1 = A(a1.spec, a1.sinks, watermarks=a1.watermarks()).run(a1.dataframes(spark))
    (a2,) = load_config(text=ini("1998-01-01T00:00:00"))
    r2 = A(a2.spec, a2.sinks, watermarks=a2.watermarks()).run(a2.dataframes(spark))
    orders = load_table(spark, sf_small, "orders")
    total = orders.filter("o_orderdate <= timestamp'1998-01-01'").count()
    assert r1[0].archived_rows + r2[0].archived_rows == total
    delta = orders.filter(
        "o_orderdate > timestamp'1996-01-01' AND o_orderdate <= timestamp'1998-01-01'"
    ).count()
    assert r2[0].archived_rows == delta  # only the (T1, T2] window
    assert WatermarkStore(f"{tmp_path}/orders.wm").get("orders") == datetime(1998, 1, 1)


def test_removed_parallel_tables_key_still_loads_and_runs(spark, sf_small, tmp_path):
    """``parallel_tables=`` is no longer an option; an ini that still
    sets it loads and runs, the key ignored like any unknown key."""
    ini = f"""
[archiver:multi]
src=multi_src
dst=arch
parallel_tables=4

[src:multi_src]
backend=parquet
directory={sf_small}
now=2001-12-01T00:00:00
retention=12 MONTH
deleted_column=o_orderdate
primary_keys=orders:o_orderkey
tables=orders

[dst:arch]
backend=parquet
directory={tmp_path}/arch
"""
    (a,) = load_config(text=ini)
    assert not hasattr(a, "parallel_tables")
    from osarchiver_spark.operators.archive import Archiver as A

    results = A(a.spec, a.sinks, watermarks=a.watermarks()).run(a.dataframes(spark))
    assert results[0].error is None and results[0].archived_rows > 0


def test_cli_explain_prints_plan_without_executing(capsys):
    from osarchiver_spark.main import explain_query, run

    assert explain_query("retention_filter", "/root/testdata/sf0.001") == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out

    assert explain_query("no_such_query", "/root/testdata/sf0.001") == 1
    assert explain_query("all", "/root/testdata/sf0.001") == 0
    names = capsys.readouterr().out.split()
    assert len(names) >= 148 and "retention_filter" in names

    # --explain needs no --config; missing both is an argument error
    assert run(["--explain", "all"]) == 0
    assert run([]) == 2


def test_cli_run_query_writes_parquet(spark, sf_small, tmp_path):
    """--run executes a registry query against --sf-dir and lands the
    full result as parquet (print mode covered by --limit default)."""
    from osarchiver_spark.main import run

    out = str(tmp_path / "res")
    rc = run(["--run", "sample_split", "--sf-dir", sf_small, "--out", out])
    assert rc == 0
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert set(back.columns) == {"doc_id", "source", "bucket", "split"}
    assert run(["--run", "no_such_query", "--sf-dir", sf_small]) == 1


def test_backend_jdbc_destination_builds_archive_sink():
    """[dst:*] backend=jdbc -> JdbcArchiveSink (the reference's real
    destination/db backend); url= is required, driver/batch_size pass
    through. Executed for real in tests/test_jdbc_integration.py."""
    from osarchiver_spark.sinks.jdbc import JdbcArchiveSink

    ini = """
[archiver:orders]
src=orders
dst=db_archive

[src:orders]
backend=parquet
directory=/tmp/nowhere
now=2001-12-01T00:00:00
retention=12 MONTH
deleted_column=o_orderdate
primary_keys=orders:o_orderkey
tables=orders

[dst:db_archive]
backend=jdbc
url=jdbc:duckdb:/tmp/archive.duckdb
driver=org.duckdb.DuckDBDriver
batch_size=5000
"""
    (a,) = load_config(text=ini)
    (sink,) = a.sinks
    assert isinstance(sink, JdbcArchiveSink)
    assert sink.url == "jdbc:duckdb:/tmp/archive.duckdb"
    assert sink.driver == "org.duckdb.DuckDBDriver"
    assert sink.batch_size == 5000
    assert sink.primary_keys == {"orders": ["o_orderkey"]}

    with pytest.raises(ConfigError, match="backend=jdbc needs url="):
        load_config(text=ini.replace("url=jdbc:duckdb:/tmp/archive.duckdb\n", ""))
