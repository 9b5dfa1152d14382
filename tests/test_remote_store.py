"""Remote-store sink: URI-parameterized direct writes with the
reference's <prefix>/<date>/<basename> object layout
(destination/file/remote_store/base.py:24, swift.py:32-61) and
idempotent re-upload. file:// here; s3a://swift:// on a cluster is
the same code path through the Hadoop FileSystem API."""

from __future__ import annotations

import glob
import threading
from datetime import datetime

from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.plans.config import load_config
from osarchiver_spark.sinks.remote import RemoteStoreSink
from osarchiver_spark.sources.parquet import load_table

NOW = datetime(2001, 12, 1)


def test_layout_and_idempotent_reupload(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders").limit(100)
    sink = RemoteStoreSink(
        f"file://{tmp_path}", file_name_prefix="region-a", fmt="parquet"
    )
    sink.begin_run(NOW)
    sink.write("orders", orders)
    expected = tmp_path / "region-a" / "2001-12-01_00-00-00" / "orders.parquet"
    assert expected.is_dir(), "layout must be <prefix>/<date>/<table>.<fmt>"
    n1 = spark.read.parquet(str(expected)).count()

    sink.begin_run(NOW)  # same frozen now -> same object prefix
    sink.write("orders", orders)
    assert spark.read.parquet(str(expected)).count() == n1 == 100
    # exactly one dated directory — no duplicate upload trees
    assert len(glob.glob(str(tmp_path / "region-a" / "*"))) == 1


def test_csv_format_and_opt_passthrough(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders").limit(10)
    sink = RemoteStoreSink(
        f"file://{tmp_path}",
        fmt="csv",
        store_options={"opt_fs.file.impl.disable.cache": "false", "ignored": "x"},
    )
    assert sink.store_options == {"fs.file.impl.disable.cache": "false"}
    sink.begin_run(NOW)
    sink.write("orders", orders)
    assert glob.glob(str(tmp_path / "*" / "orders.csv" / "part-*"))


def test_conflicting_sinks_do_not_cross_contaminate(spark, sf_small, tmp_path):
    # two stores with conflicting opt_ keys: s3a keys become per-bucket
    # conf (scoped by construction), and generic transient keys are
    # restored after each write — nothing leaks into the session.
    a = RemoteStoreSink(
        "s3a://bucket-a/archive",
        store_options={
            "opt_fs.s3a.endpoint": "https://a.example",
            "opt_fs.s3a.access.key": "AKIA-A",
        },
    )
    b = RemoteStoreSink(
        "s3a://bucket-b/archive",
        store_options={"opt_fs.s3a.endpoint": "https://b.example"},
    )
    scoped_a, transient_a = a.scoped_store_options()
    scoped_b, transient_b = b.scoped_store_options()
    assert scoped_a == {
        "fs.s3a.bucket.bucket-a.endpoint": "https://a.example",
        "fs.s3a.bucket.bucket-a.access.key": "AKIA-A",
    }
    assert scoped_b == {"fs.s3a.bucket.bucket-b.endpoint": "https://b.example"}
    assert transient_a == {} and transient_b == {}  # disjoint key spaces

    # generic (non-s3a) options: applied only for the write, restored after
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("io.archive.flavor", "prior-value")
    sink = RemoteStoreSink(
        f"file://{tmp_path}/t",
        store_options={
            "opt_io.archive.flavor": "sink-value",
            "opt_io.archive.transient": "only-during-write",
        },
    )
    sink.begin_run(NOW)
    sink.write("orders", load_table(spark, sf_small, "orders").limit(5))
    assert hconf.get("io.archive.flavor") == "prior-value"
    assert hconf.get("io.archive.transient") is None
    hconf.unset("io.archive.flavor")


def test_config_wires_remote_store(spark, sf_small, tmp_path):
    ini = f"""
[archiver:orders]
src=orders_src
dst=file_archiver
enable=true

[src:orders_src]
backend=parquet
directory={sf_small}
now=2001-12-01T00:00:00
deleted_column=o_orderdate
retention=36 MONTH
primary_keys=orders:o_orderkey
tables=orders
delete_data=false

[dst:file_archiver]
backend=file
directory={tmp_path}/local
formats=csv
remote_store=swift

[remote_store:swift]
base_uri=file://{tmp_path}/container
file_name_prefix=region-a
format=parquet
opt_fs.file.impl.disable.cache=false
"""
    (a,) = load_config(text=ini)
    assert len(a.sinks) == 2  # csv + remote store
    results = Archiver(a.spec, a.sinks).run(a.dataframes(spark))
    assert results[0].error is None
    remote = glob.glob(str(tmp_path / "container" / "region-a" / "*" / "orders.parquet"))
    assert len(remote) == 1
    assert spark.read.parquet(remote[0]).count() == results[0].archived_rows


def test_concurrent_transient_writes_do_not_leak(spark, sf_small, tmp_path):
    """Two sinks setting one generic key to different values write at
    the same time: each write sees only its own value, and the key
    ends at its prior value."""
    key = "io.archive.concurrent"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(key, "prior-value")
    barrier = threading.Barrier(2, timeout=3)
    seen = {}

    class _Overlapping(RemoteStoreSink):
        def _object_prefix(self, table):
            # inside the transient window: wait for the other write, so
            # without serialization both windows are open at once
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass
            seen[self.base_uri] = hconf.get(key)
            return super()._object_prefix(table)

    sinks = [
        _Overlapping(f"file://{tmp_path}/{name}", store_options={f"opt_{key}": name})
        for name in ("a", "b")
    ]
    orders = load_table(spark, sf_small, "orders").limit(5)
    errors = []

    def write(sink):
        try:
            sink.begin_run(NOW)
            sink.write("orders", orders)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=write, args=(s,)) for s in sinks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert errors == []
        assert seen == {f"file://{tmp_path}/a": "a", f"file://{tmp_path}/b": "b"}
        assert hconf.get(key) == "prior-value"
        for name in ("a", "b"):
            assert glob.glob(str(tmp_path / name / "*" / "orders.parquet" / "part-*"))
    finally:
        hconf.unset(key)
