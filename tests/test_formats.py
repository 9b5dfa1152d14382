"""Source/sink format coverage beyond parquet+CSV: ORC and JSON
round trips with explicit schemas (inference never at scale)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from osarchiver_spark.sources.parquet import load_table


def _assert_equal(a, b, key):
    assert a.count() == b.count()
    assert sorted(a.columns) == sorted(b.columns)
    assert a.join(b, key, "left_anti").count() == 0


def test_orc_roundtrip(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders")
    orders.write.mode("overwrite").orc(str(tmp_path / "orders.orc"))
    back = spark.read.orc(str(tmp_path / "orders.orc"))
    _assert_equal(orders, back, "o_orderkey")
    assert back.schema == orders.schema


def test_json_roundtrip(spark, sf_small, tmp_path):
    cust = load_table(spark, sf_small, "customer")
    cust.write.mode("overwrite").json(str(tmp_path / "customer.json"))
    back = spark.read.schema(cust.schema).json(str(tmp_path / "customer.json"))
    _assert_equal(cust, back, "c_custkey")


def test_orc_predicate_pushdown(spark, sf_small, tmp_path):
    import contextlib
    import io

    orders = load_table(spark, sf_small, "orders")
    orders.write.mode("overwrite").orc(str(tmp_path / "o2.orc"))
    read = spark.read.orc(str(tmp_path / "o2.orc")).filter(F.col("o_orderkey") < 100)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        read.explain("formatted")
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)]" in buf.getvalue()


def test_jsonl_sink_and_config_wiring(spark, sf_small, tmp_path):
    """JsonlSink writes one <table>.jsonl dataset per run (dated dir,
    gzip shards), readable back with an explicit schema; the INI
    front end accepts formats=csv,jsonl on a file destination."""
    import glob
    from datetime import datetime

    from osarchiver_spark.plans.config import load_config
    from osarchiver_spark.sinks.base import JsonlSink

    orders = load_table(spark, sf_small, "orders")
    sink = JsonlSink(str(tmp_path / "jl"), compression="gzip")
    sink.begin_run(datetime(2001, 12, 1))
    sink.write("orders", orders)
    shards = glob.glob(str(tmp_path / "jl" / "*" / "orders.jsonl" / "part-*.gz"))
    assert shards
    back = spark.read.schema(orders.schema).json(
        str(tmp_path / "jl" / "*" / "orders.jsonl")
    )
    _assert_equal(orders, back, "o_orderkey")

    ini = f"""
[archiver:orders]
src=orders_src
dst=files

[src:orders_src]
backend=parquet
directory={sf_small}
now=2001-12-01T00:00:00
primary_keys=orders:o_orderkey
tables=orders

[dst:files]
backend=file
directory={tmp_path}/cfg
formats=csv, jsonl
"""
    (a,) = load_config(text=ini)
    kinds = {type(s).__name__ for s in a.sinks}
    assert kinds == {"CsvSink", "JsonlSink"}


def test_orc_sink_roundtrip_and_config_wiring(spark, sf_small, tmp_path):
    """OrcSink writes one <table>.orc dataset per dated run, readable
    back losslessly; the INI front end accepts formats=orc."""
    from datetime import datetime

    from osarchiver_spark.plans.config import load_config
    from osarchiver_spark.sinks.base import OrcSink

    orders = load_table(spark, sf_small, "orders")
    sink = OrcSink(str(tmp_path / "orc"), compression="zstd")
    sink.begin_run(datetime(2001, 12, 1))
    sink.write("orders", orders)
    back = spark.read.orc(str(tmp_path / "orc" / "*" / "orders.orc"))
    _assert_equal(orders, back, "o_orderkey")

    ini = f"""
[archiver:orders]
src=orders_src
dst=files

[src:orders_src]
backend=parquet
directory={sf_small}
now=2001-12-01T00:00:00
primary_keys=orders:o_orderkey
tables=orders

[dst:files]
backend=file
directory={tmp_path}/cfg
formats=orc
"""
    (a,) = load_config(text=ini)
    kinds = {type(s).__name__ for s in a.sinks}
    assert kinds == {"OrcSink"}


def test_read_jsonl_roundtrips_documents_with_embedded_newlines(spark, sf_small, tmp_path):
    """JSONL source reads back exactly what JsonlSink wrote — including
    free-text payloads — with an explicit schema (no inference pass)."""
    from osarchiver_spark.sinks.base import JsonlSink
    from osarchiver_spark.sources.files import read_jsonl
    from osarchiver_spark.sources.parquet import load_table

    docs = load_table(spark, sf_small, "documents")
    JsonlSink(str(tmp_path / "jl"), compression="gzip").write("documents", docs)
    (path,) = glob.glob(str(tmp_path / "jl" / "*" / "documents.jsonl"))
    back = read_jsonl(spark, path, docs.schema)
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_read_csv_roundtrips_and_applies_bad_record_policy(spark, sf_small, tmp_path):
    from pyspark.sql import types as T

    from osarchiver_spark.sinks.base import CsvSink
    from osarchiver_spark.sources.files import CORRUPT_COL, read_csv
    from osarchiver_spark.sources.parquet import load_table

    region = load_table(spark, sf_small, "region")
    CsvSink(str(tmp_path / "csv")).write("region", region)
    (path,) = glob.glob(str(tmp_path / "csv" / "*" / "region.csv"))
    back = read_csv(spark, path, region.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))

    # bad-record policies over a hand-made drop with one corrupt line
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "part-0.csv").write_text("id,n\n1,10\n2,not_an_int\n3,30\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n", T.LongType())]
    )
    dropped = read_csv(spark, str(drop), schema, bad_records="drop")
    assert sorted(r.id for r in dropped.collect()) == [1, 3]
    # quarantining must cache the parse first (Spark disallows plans
    # that prune a raw file scan to only the corrupt-record column)
    kept = read_csv(spark, str(drop), schema, bad_records="keep").cache()
    try:
        quarantined = kept.filter(kept[CORRUPT_COL].isNotNull())
        assert quarantined.count() == 1
        assert sorted(r.id for r in kept.filter(kept[CORRUPT_COL].isNull()).collect()) == [1, 3]
    finally:
        kept.unpersist()
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_csv(spark, str(drop), schema, bad_records="fail").collect()


def _define_marker_sink():
    from osarchiver_spark.sinks.base import _DatedFileSink

    class _Marker(_DatedFileSink):
        """Plugin formatter for the dotted-path loading test: writes
        one row-count marker file per table per dated run."""

        def __init__(self, root, compression=None, run_template="{date}"):
            super().__init__(root, compression, run_template)

        def write(self, table, df):
            import os

            out = self._out_path(f"{table}.count")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                f.write(str(df.count()))

    return _Marker


MarkerSink = _define_marker_sink()


def test_format_plugin_loads_by_dotted_path(sf_small, tmp_path):
    """The reference loads formatters/backends by naming convention via
    import_module (destination/file/base.py:154-177); the INI front end
    mirrors that: formats= accepts a dotted path to a Sink subclass."""
    import pytest

    from osarchiver_spark.plans.config import ConfigError, load_config

    ini = f"""
[archiver:orders]
src=orders_src
dst=files

[src:orders_src]
backend=parquet
directory={sf_small}
now=2001-12-01T00:00:00
primary_keys=orders:o_orderkey
tables=orders

[dst:files]
backend=file
directory={tmp_path}/cfg
formats=csv, tests.test_formats.MarkerSink
"""
    (a,) = load_config(text=ini)
    kinds = {type(s).__name__ for s in a.sinks}
    assert kinds == {"CsvSink", "_Marker"}

    bad = ini.replace("tests.test_formats.MarkerSink", "tests.test_formats.no_such_thing")
    with pytest.raises(ConfigError):
        load_config(text=bad)
    # a resolvable attribute that is not a Sink subclass must also fail
    bad2 = ini.replace("tests.test_formats.MarkerSink", "tests.test_formats.glob")
    with pytest.raises(ConfigError):
        load_config(text=bad2)
