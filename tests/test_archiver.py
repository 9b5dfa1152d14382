"""Pipeline-semantics tests mirroring the reference's runtime
invariants (SURVEY §5.3): retention edge cases, FK toposort,
anti-join complement, idempotent re-run, drift rejection, dry-run,
failure-suppresses-delete, concurrent sink fan-out."""

from __future__ import annotations

import glob
import threading
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from osarchiver_spark.operators.archive import Archiver, archive_and_remaining
from osarchiver_spark.operators.retention import retention_cutoff, retention_filter
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.plans.schema_drift import SchemaDriftError, check_schema_drift
from osarchiver_spark.plans.toposort import sort_tables
from osarchiver_spark.plans.watermark import WatermarkStore
from osarchiver_spark.sinks.base import CsvSink, ParquetArchiveSink, Sink
from osarchiver_spark.sources.parquet import load_table

NOW = datetime(2001, 12, 1)


def test_retention_cutoff_month_clamp():
    # MySQL SUBDATE month semantics: day clamps to target month end
    assert retention_cutoff(datetime(2001, 3, 31), 1) == datetime(2001, 2, 28)
    assert retention_cutoff(datetime(2000, 3, 31), 1) == datetime(2000, 2, 29)
    assert retention_cutoff(datetime(2001, 12, 1), 36) == datetime(1998, 12, 1)


def test_retention_null_never_archived(spark):
    df = spark.createDataFrame(
        [(1, datetime(1990, 1, 1)), (2, None), (3, datetime(2005, 1, 1))],
        "id long, deleted_at timestamp",
    )
    cutoff = retention_cutoff(NOW, 12)
    got = retention_filter(df, "deleted_at", cutoff).select("id").collect()
    assert [r.id for r in got] == [1]  # NULL (live row) and too-new both excluded


def test_retention_boundary_inclusive(spark):
    cutoff = retention_cutoff(NOW, 36)
    df = spark.createDataFrame([(1, cutoff)], "id long, deleted_at timestamp")
    assert retention_filter(df, "deleted_at", cutoff).count() == 1  # <= semantics


def test_toposort_children_first():
    t = [
        TableSpec("orders", "ok", "d"),
        TableSpec("lineitem", "lk", "d", foreign_keys={"lo": ("orders", "ok")}),
        TableSpec("region", "rk", "d"),
        TableSpec("nation", "nk", "d", foreign_keys={"nr": ("region", "rk")}),
    ]
    order = [s.name for s in sort_tables(t)]
    assert order.index("lineitem") < order.index("orders")
    assert order.index("nation") < order.index("region")


def test_toposort_circular_falls_back_to_input_order():
    t = [
        TableSpec("a", "k", "d", foreign_keys={"fb": ("b", "k")}),
        TableSpec("b", "k", "d", foreign_keys={"fa": ("a", "k")}),
    ]
    assert [s.name for s in sort_tables(t)] == ["a", "b"]


def test_anti_join_exact_complement(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    archived, remaining = archive_and_remaining(
        spark, orders, "o_orderdate", "o_orderkey", NOW, 36
    )
    total = orders.count()
    assert archived.count() + remaining.count() == total
    assert archived.join(remaining, "o_orderkey", "inner").count() == 0


def test_schema_drift_detects_type_and_name_changes(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    check_schema_drift(orders.schema, orders.schema)  # identical: ok
    retyped = orders.withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    with pytest.raises(SchemaDriftError):
        check_schema_drift(orders.schema, retyped.schema)
    renamed = orders.withColumnRenamed("o_custkey", "o_cust")
    with pytest.raises(SchemaDriftError):
        check_schema_drift(orders.schema, renamed.schema)


class _FailingSink(Sink):
    def write(self, table, df):
        raise RuntimeError("disk full")


def _spec(dry_run=False):
    return ArchiveJobSpec(
        tables=[TableSpec("orders", "o_orderkey", "o_orderdate")],
        retention_months=36,
        now=NOW,
        dry_run=dry_run,
    )


class _RecordingSink(Sink):
    def __init__(self):
        self.tables = []

    def write(self, table, df):
        df.count()
        self.tables.append(table)


def test_sink_failure_suppresses_delete_and_run_continues(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders")
    customer = load_table(spark, sf_small, "customer").withColumn(
        "c_deleted", F.to_timestamp(F.lit("1999-01-01"))
    )
    deleted = []
    spec = ArchiveJobSpec(
        tables=[
            TableSpec("orders", "o_orderkey", "o_orderdate"),
            TableSpec("customer", "c_custkey", "c_deleted"),
        ],
        retention_months=36,
        now=NOW,
    )

    class _FailsForOrders(Sink):
        def write(self, table, df):
            if table == "orders":
                raise RuntimeError("disk full")

    first, last = _RecordingSink(), _RecordingSink()
    watermarks = WatermarkStore(str(tmp_path / "watermarks.json"))
    arch = Archiver(
        spec,
        [first, _FailsForOrders(), last],
        source_rewriter=lambda t, df: deleted.append(t),
        watermarks=watermarks,
    )
    results = {r.table: r for r in arch.run({"orders": orders, "customer": customer})}
    # failed table: delete suppressed, error recorded, run not aborted
    assert results["orders"].error and results["orders"].remaining_rows is None
    assert "_FailsForOrders" in results["orders"].error
    assert "orders" not in deleted  # no-data-loss invariant
    assert watermarks.get("orders") is None
    # every sink is attempted: the healthy ones still wrote the table
    assert sorted(first.tables) == sorted(last.tables) == ["customer", "orders"]
    # healthy table completed normally in the same run
    assert results["customer"].error is None
    assert "customer" in deleted
    assert watermarks.get("customer") == retention_cutoff(NOW, 36)


def test_no_delete_without_delete_data(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    spec = ArchiveJobSpec(
        tables=[TableSpec("orders", "o_orderkey", "o_orderdate")],
        retention_months=36,
        now=NOW,
        archive_data=True,
        delete_data=False,
    )
    rewritten = []
    (res,) = Archiver(spec, [], source_rewriter=lambda t, df: rewritten.append(t)).run({"orders": orders})
    assert rewritten == []
    assert res.error is None and res.archived_rows > 0 and res.remaining_rows is None


class _BarrierSink(Sink):
    def __init__(self, barrier):
        self.barrier = barrier
        self.tables = []

    def write(self, table, df):
        self.barrier.wait()
        self.tables.append(table)


def test_sinks_write_concurrently(spark, sf_small):
    """Every sink of a table writes in one concurrent phase: two sinks
    that wait for each other both get through."""
    orders = load_table(spark, sf_small, "orders")
    barrier = threading.Barrier(2, timeout=10)
    sinks = [_BarrierSink(barrier), _BarrierSink(barrier)]
    (res,) = Archiver(_spec(), sinks).run({"orders": orders})
    assert res.error is None
    assert [s.tables for s in sinks] == [["orders"], ["orders"]]


def test_archive_jobs_inherit_callers_job_group(spark, sf_small, tmp_path):
    """The fan-out (and max_parallel_tables) start jobs on side
    threads; every one must carry the caller's job group."""
    tables = {
        "orders": load_table(spark, sf_small, "orders"),
        "customer": load_table(spark, sf_small, "customer").withColumn(
            "c_deleted", F.to_timestamp(F.lit("1999-01-01"))
        ),
    }
    spec = ArchiveJobSpec(
        tables=[
            TableSpec("orders", "o_orderkey", "o_orderdate"),
            TableSpec("customer", "c_custkey", "c_deleted"),
        ],
        retention_months=36,
        now=NOW,
    )
    sinks = [
        CsvSink(str(tmp_path / "csv")),
        ParquetArchiveSink(str(tmp_path / "arch"), {"orders": "o_orderkey", "customer": "c_custkey"}),
    ]
    arch = Archiver(spec, sinks, source_rewriter=lambda t, df: df.count(), max_parallel_tables=2)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = "test-archiver-job-group"
    sc.setJobGroup(group, group, False)
    try:
        results = arch.run(tables)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert all(r.error is None for r in results)
    grouped = set(tracker.getJobIdsForGroup(group))
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert grouped
    assert not stray, f"{len(stray)} of {len(stray) + len(grouped)} jobs escaped the group"


def test_dry_run_writes_nothing(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders")
    arch = Archiver(_spec(dry_run=True), [CsvSink(str(tmp_path / "csv"))])
    res = arch.run({"orders": orders})
    assert res[0].dry_run and res[0].archived_rows > 0
    assert glob.glob(str(tmp_path / "**" / "part-*"), recursive=True) == []


def test_parquet_archive_idempotent_rerun(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders")
    sink = ParquetArchiveSink(str(tmp_path / "arch"), {"orders": "o_orderkey"})
    arch = Archiver(_spec(), [sink])
    r1 = arch.run({"orders": orders})
    arch.run({"orders": orders})  # re-run: must be a no-op
    archived = spark.read.parquet(str(tmp_path / "arch" / "orders"))
    assert archived.count() == r1[0].archived_rows
    assert archived.groupBy("o_orderkey").count().filter("count > 1").count() == 0


def test_exclusion_regex_is_anchored():
    spec = ArchiveJobSpec(
        tables=[
            TableSpec("shadow_x", "k", "d"),
            TableSpec("xshadow_x", "k", "d"),
            TableSpec("orders", "k", "d"),
            TableSpec("no_deleted_col", "k", None),
        ],
        table_exclusions=["shadow_.*"],
    )
    names = [t.name for t in spec.eligible_tables()]
    # anchored like the reference (source/db.py:169-174): prefix-only
    # matches excluded, substring matches kept; tables without the
    # deleted column never qualify
    assert names == ["xshadow_x", "orders"]


def test_additive_schema_evolution_in_archive(spark, sf_small, tmp_path):
    """allow_additive: a source that GROWS a column keeps archiving
    (old files read back with the new column as null via mergeSchema);
    renames/retypes still raise."""
    from osarchiver_spark.plans.schema_drift import additive_columns
    from osarchiver_spark.sinks.base import ParquetArchiveSink

    orders = load_table(spark, sf_small, "orders").limit(100)
    sink = ParquetArchiveSink(
        str(tmp_path / "arch"), primary_keys={"orders": "o_orderkey"},
        allow_additive=True,
    )
    sink.write("orders", orders.filter(F.col("o_orderkey") % 2 == 0))
    grown = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel", F.lit("web")
    )
    sink.write("orders", grown)  # must NOT raise
    back = sink.read(spark, "orders")
    assert "o_channel" in back.columns
    nulls = back.filter(F.col("o_channel").isNull()).count()
    webs = back.filter(F.col("o_channel") == "web").count()
    assert nulls > 0 and webs > 0
    assert nulls + webs == back.count() == 100

    # non-additive drift still raises, both in the helper and the sink
    retyped = orders.withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    with pytest.raises(SchemaDriftError):
        additive_columns(retyped.schema, orders.schema)
    with pytest.raises(SchemaDriftError):
        sink.write("orders", orders.drop("o_orderstatus"))


def test_parquet_archive_keeps_source_column_order_with_composite_key(spark, tmp_path):
    """The pk-dedup anti-join must not move the key columns to the
    front, or the third write fails the order-sensitive drift check."""
    schema = "k long, v string, a long"
    sink = ParquetArchiveSink(str(tmp_path / "arch"), {"t": ["a", "k"]})
    for lo in (0, 2, 4):
        rows = [(i, f"v{i}", i % 2) for i in range(lo, lo + 4)]  # overlaps the previous write
        sink.write("t", spark.createDataFrame(rows, schema))
    back = sink.read(spark, "t")
    assert back.columns == ["k", "v", "a"]
    assert back.count() == back.select("a", "k").distinct().count() == 8


def test_parquet_archive_empty_first_partitioned_write(spark, tmp_path):
    """An empty first write leaves only marker files; the next write
    starts the archive instead of failing to infer its schema."""
    df = spark.createDataFrame(
        [(i, datetime(1999, 1 + i % 12, 1)) for i in range(10)], "id long, deleted_at timestamp"
    )
    sink = ParquetArchiveSink(str(tmp_path / "arch"), {"t": "id"}, partition_column="deleted_at")
    sink.write("t", df.limit(0))
    assert glob.glob(str(tmp_path / "arch" / "t" / "*"))  # the directory exists
    sink.write("t", df)
    sink.write("t", df)  # re-run: still idempotent
    assert sink.read(spark, "t").count() == 10


def test_parquet_archive_unreadable_archive_with_data_raises(spark, tmp_path):
    """A read failure on an archive that holds data files must raise,
    never fall through to overwriting it."""
    path = tmp_path / "arch" / "t"
    path.mkdir(parents=True)
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    sink = ParquetArchiveSink(str(tmp_path / "arch"), {"t": "id"})
    with pytest.raises(Exception):
        sink.write("t", spark.createDataFrame([(1,)], "id long"))
    assert (path / "part-00000.parquet").read_bytes() == b"not a parquet file"
