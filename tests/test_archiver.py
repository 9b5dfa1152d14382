"""Pipeline-semantics tests mirroring the reference's runtime
invariants (SURVEY §5.3): retention edge cases, FK toposort,
anti-join complement, idempotent re-run, drift rejection, dry-run,
failure-suppresses-delete, concurrent sink fan-out, cross-table
pipeline (the next table archives while this one's delete runs)."""

from __future__ import annotations

import glob
import threading
import time
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


def _fk_spec(dry_run=False):
    """orders -> customer: the child (orders) is deleted first."""
    return ArchiveJobSpec(
        tables=[
            TableSpec("customer", "c_custkey", "c_deleted"),
            TableSpec("orders", "o_orderkey", "o_orderdate", foreign_keys={"o_custkey": ("customer", "c_custkey")}),
        ],
        retention_months=36,
        now=NOW,
        dry_run=dry_run,
    )


def _fk_tables(spark, sf):
    customer = load_table(spark, sf, "customer").withColumn("c_deleted", F.to_timestamp(F.lit("1998-01-01")))
    return {"orders": load_table(spark, sf, "orders"), "customer": customer}



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
    """The fan-out and the lookahead archive phase start jobs on side
    threads; every one must carry the caller's job group."""
    tables = {
        "orders": load_table(spark, sf_small, "orders"),
        "customer": load_table(spark, sf_small, "customer").withColumn(
            "c_deleted", F.to_timestamp(F.lit("1999-01-01"))
        ),
    }
    spec = ArchiveJobSpec(
        tables=[
            TableSpec("orders", "o_orderkey", "o_orderdate", foreign_keys={"o_custkey": ("customer", "c_custkey")}),
            TableSpec("customer", "c_custkey", "c_deleted"),
        ],
        retention_months=36,
        now=NOW,
    )
    sinks = [
        CsvSink(str(tmp_path / "csv")),
        ParquetArchiveSink(str(tmp_path / "arch"), {"orders": "o_orderkey", "customer": "c_custkey"}),
    ]
    arch = Archiver(spec, sinks, source_rewriter=lambda t, df: df.count())
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
    rewritten = []
    watermarks = WatermarkStore(str(tmp_path / "watermarks.json"))
    arch = Archiver(
        _fk_spec(dry_run=True),
        [CsvSink(str(tmp_path / "csv"))],
        source_rewriter=lambda t, df: rewritten.append(t),
        watermarks=watermarks,
    )
    res = arch.run(_fk_tables(spark, sf_small))
    assert [r.table for r in res] == ["orders", "customer"]
    assert all(r.dry_run and r.archived_rows > 0 and r.remaining_rows is None for r in res)
    assert glob.glob(str(tmp_path / "**" / "part-*"), recursive=True) == []
    assert rewritten == []
    assert watermarks.get("customer") is None and watermarks.get("orders") is None


def test_missing_table_fails_before_any_work(spark, sf_small):
    """Every eligible table needs a DataFrame; a missing one raises
    before any sink call, Spark job or delete."""
    calls = []

    class _CallSink(Sink):
        def begin_run(self, now):
            calls.append("begin_run")

        def write(self, table, df):
            calls.append(table)

    spec = _fk_spec()
    spec.tables.append(TableSpec("events", "event_id", "ts"))
    arch = Archiver(spec, [_CallSink()], source_rewriter=lambda t, df: calls.append(("rewrite", t)))
    orders = load_table(spark, sf_small, "orders")
    sc = spark.sparkContext
    group = "test-archiver-missing-table"
    sc.setJobGroup(group, group, False)
    try:
        with pytest.raises(ValueError) as err:
            arch.run({"orders": orders})
    finally:
        sc._jsc.clearJobGroup()
    assert "customer" in str(err.value) and "events" in str(err.value)
    assert "orders" not in str(err.value)
    assert calls == []
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_next_table_archives_during_delete(spark, sf_small):
    """The parent's sink write runs while the child's rewriter runs
    (they meet on one barrier); the parent's rewrite still starts only
    after the child's has returned."""
    barrier = threading.Barrier(2, timeout=10)
    events = []

    class _ParentMeetsChildDelete(Sink):
        def write(self, table, df):
            if table == "customer":
                barrier.wait()

    def rewriter(table, df):
        events.append(("start", table))
        if table == "orders":
            barrier.wait()
        events.append(("end", table))

    results = Archiver(_fk_spec(), [_ParentMeetsChildDelete()], source_rewriter=rewriter).run(
        _fk_tables(spark, sf_small)
    )
    assert [(r.table, r.error) for r in results] == [("orders", None), ("customer", None)]
    assert events == [("start", "orders"), ("end", "orders"), ("start", "customer"), ("end", "customer")]


def test_failed_delete_drains_lookahead_and_rerun_is_clean(spark, sf_small, tmp_path):
    """A child rewrite that raises while the parent archives: run
    re-raises after the parent's sinks landed, the parent is neither
    rewritten nor advanced, and a healthy re-run leaves the archive
    equal to one clean run (sinks are idempotent)."""
    tables = _fk_tables(spark, sf_small)
    parent_started = threading.Event()
    finished = []

    class _SlowParent(Sink):
        def write(self, table, df):
            if table == "customer":
                parent_started.set()
                time.sleep(0.5)
            finished.append(table)

    rewritten = []

    def failing_rewriter(table, df):
        rewritten.append(table)
        if table == "orders":
            assert parent_started.wait(10)
            raise RuntimeError("source rewrite failed")

    watermarks = WatermarkStore(str(tmp_path / "watermarks.json"))
    pks = {"orders": "o_orderkey", "customer": "c_custkey"}
    sink = ParquetArchiveSink(str(tmp_path / "arch"), pks)
    with pytest.raises(RuntimeError, match="source rewrite failed"):
        Archiver(_fk_spec(), [sink, _SlowParent()], source_rewriter=failing_rewriter, watermarks=watermarks).run(tables)
    assert sorted(finished) == ["customer", "orders"]  # the lookahead drained first
    assert rewritten == ["orders"]
    assert watermarks.get("customer") is None and watermarks.get("orders") is None

    again = Archiver(_fk_spec(), [sink], source_rewriter=lambda t, df: None, watermarks=watermarks).run(tables)
    assert all(r.error is None for r in again)
    clean = ParquetArchiveSink(str(tmp_path / "clean"), pks)
    Archiver(_fk_spec(), [clean]).run(tables)
    for t, pk in pks.items():
        got, want = sink.read(spark, t), clean.read(spark, t)
        assert got.count() == got.select(pk).distinct().count() == want.count() > 0
        assert got.exceptAll(want).count() == want.exceptAll(got).count() == 0


def test_cancel_job_group_stops_lookahead_sink(spark, sf_small):
    """cancelJobGroup on a run's group reaches the lookahead thread:
    the parent's slow sink job, running during the child's delete, is
    cancelled; the run ends promptly and the parent is not deleted."""
    tables = _fk_tables(spark, sf_small)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = "test-archiver-cancel"
    started, cancelled = threading.Event(), threading.Event()

    @F.udf("long")
    def slow(k):
        import time

        time.sleep(0.5)
        return k

    class _SlowParent(Sink):
        def write(self, table, df):
            if table == "customer":
                started.set()
                df.coalesce(1).select(slow("c_custkey")).write.format("noop").mode("overwrite").save()

    rewritten = []

    def rewriter(table, df):
        if table == "orders":  # the child's delete spans the cancel
            assert started.wait(60) and cancelled.wait(60)
        rewritten.append(table)

    arch = Archiver(_fk_spec(), [_SlowParent()], source_rewriter=rewriter)
    box = []

    def work():
        sc.setJobGroup(group, group, interruptOnCancel=True)
        try:
            box.append(arch.run(tables))
        except Exception as exc:  # noqa: BLE001
            box.append(exc)
        finally:
            sc._jsc.clearJobGroup()

    def active_in_group():
        return set(tracker.getActiveJobsIds()) & set(tracker.getJobIdsForGroup(group))

    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    worker = threading.Thread(target=work)
    worker.start()
    try:
        assert started.wait(60)
        slow_jobs: set = set()
        deadline = time.monotonic() + 60
        while not slow_jobs and time.monotonic() < deadline:  # a job still active 2 s later is the slow one
            seen = active_in_group()
            time.sleep(2)
            slow_jobs = seen & active_in_group()
        assert slow_jobs
    finally:
        t0 = time.monotonic()
        sc.cancelJobGroup(group)
        cancelled.set()
        worker.join(timeout=60)
    assert not worker.is_alive()
    assert time.monotonic() - t0 < 20  # uncancelled, the slow write alone takes over a minute
    assert rewritten == ["orders"] and len(box) == 1
    if isinstance(box[0], list):  # else a cancelled count raised out of run
        assert [(r.table, r.error is not None) for r in box[0]] == [("orders", False), ("customer", True)]
    bus.waitUntilEmpty()
    assert not active_in_group()
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped_before


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
