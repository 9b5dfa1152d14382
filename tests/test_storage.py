"""The storage layer: checked renames, and a crash anywhere inside the
swap leaves one complete copy that ``recover`` (and every stream
open) restores, in the style of tests/test_crash_recovery.py."""

from __future__ import annotations

import glob
import os
import re
import shutil
from pathlib import Path
from types import SimpleNamespace as NS

import pytest
from pyspark.sql import functions as F

from osarchiver_spark import storage
from osarchiver_spark.operators.ivf import kmeans_fit
from osarchiver_spark.sources.parquet import load_table
from osarchiver_spark.streaming.vector_store import run_streaming_vector_maintenance
from tests.test_ivf import _jobs_in_group

THRESHOLD = 0.45  # fixture embeddings are near-uniform (max cos ~0.5)


def test_rename_of_missing_source_names_both_paths(spark, tmp_path):
    src, dst = str(tmp_path / "missing"), str(tmp_path / "dst")
    with pytest.raises(OSError) as err:
        storage.rename(spark, src, dst)
    assert src in str(err.value) and dst in str(err.value)
    assert not os.path.exists(dst)


def test_list_files_skips_markers_and_tolerates_missing_path(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).coalesce(1).write.parquet(path)
    names = lambda files: {f.rsplit("/", 1)[-1] for f, _ in files}  # noqa: E731
    data = storage.list_files(spark, path)
    assert len(data) == 1 and names(data) == {n for n in os.listdir(path) if n.startswith("part-")}
    assert all(size > 0 for _, size in data)
    # the local filesystem hides its own .crc files from every listing
    want_all = {n for n in os.listdir(path) if not n.endswith(".crc")}
    assert names(storage.list_files(spark, path, data_only=False)) == want_all
    assert storage.list_files(spark, str(tmp_path / "nope")) == []


def test_hadoop_fs_and_epoch_markers_live_in_storage_only():
    """storage.py is the one Hadoop-FS layer and the one writer of the
    epoch marker layout (``<id>.begin/manifest.json``, ``<id>.done``):
    no other package module may name either."""
    pattern = re.compile(r"org\.apache\.hadoop\.fs|\.(begin|done)\b[\"'/]|manifest\.json")
    home = Path(storage.__file__)
    assert pattern.search(home.read_text())  # the scan sees the layer
    offenders = [
        f"{path.relative_to(home.parent)}:{n}: {line.strip()}"
        for path in sorted(home.parent.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders


def test_jvm_handles_resolve_once_per_spark_context(monkeypatch):
    """The Path class and Hadoop conf are looked up once per
    SparkContext (each package hop is a py4j round trip), and again
    for a new context: a stopped context's handles are never reused."""
    lookups = []

    def session(tag):
        def conf():
            lookups.append(tag)
            return f"conf-{tag}"

        fs = NS(Path=f"Path-{tag}")
        jvm = NS(org=NS(apache=NS(hadoop=NS(fs=fs))))
        return NS(sparkContext=NS(_jvm=jvm, _jsc=NS(hadoopConfiguration=conf)))

    monkeypatch.setattr(storage, "_jvm_handles", (None, None, None))
    old, new = session("old"), session("new")
    assert storage._jvm(old) == storage._jvm(old) == ("Path-old", "conf-old")
    assert storage._jvm(new) == ("Path-new", "conf-new")
    assert lookups == ["old", "new"]


def _crash_nth(monkeypatch, name, n):
    """Make ``storage.<name>`` raise on its ``n``-th call, once."""
    real = getattr(storage, name)
    calls = {"n": 0}

    def crashy(*args):
        calls["n"] += 1
        if calls["n"] == n:
            raise RuntimeError(f"injected crash in {name} #{n}")
        return real(*args)

    monkeypatch.setattr(storage, name, crashy)
    return calls


@pytest.mark.parametrize(
    "crash, want",
    [
        (("rename", 1), "old"),  # path -> __precompact never happened
        (("rename", 2), "old"),  # between the renames: path is missing
        (("write", 1), "old"),  # the new copy never finished
        (("delete", 1), "new"),  # swapped in, old copy not yet dropped
    ],
)
def test_swap_crash_recovers_one_complete_copy(spark, tmp_path, monkeypatch, crash, want):
    path = str(tmp_path / "t")
    copies = {"old": list(range(10)), "new": list(range(100, 113))}
    spark.range(10).repartition(3).write.parquet(path)

    def write_to_tmp(tmp):
        spark.range(100, 113).coalesce(1).write.mode("overwrite").parquet(tmp)
        if crash[0] == "write":
            raise RuntimeError("injected crash in write")

    if crash[0] != "write":
        _crash_nth(monkeypatch, *crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        storage.swap_in(spark, path, write_to_tmp)
    monkeypatch.undo()

    storage.recover(spark, path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == copies[want]
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_recover_without_interrupted_swap_is_a_no_op(spark, tmp_path):
    path = str(tmp_path / "t")
    storage.recover(spark, path)  # nothing there at all
    spark.range(4).write.parquet(path)
    storage.recover(spark, path)
    assert spark.read.parquet(path).count() == 4
    assert sorted(os.listdir(tmp_path)) == ["t"]


def _land(emb, tmp_path, land, lo, step, ids):
    """Copy id-range slices ``ids`` of ``emb`` into ``land`` as one
    mtime-ordered file each (the file stream replays them in id
    order)."""
    os.makedirs(land, exist_ok=True)
    for i in ids:
        scratch = str(tmp_path / f"scratch{i}")
        if not os.path.isdir(scratch):
            emb.filter(
                (F.col("vec_id") >= lo + i * step) & (F.col("vec_id") < lo + (i + 1) * step)
            ).coalesce(1).write.parquet(scratch)
        dst = str(land / f"batch{i}.parquet")
        shutil.copy(glob.glob(f"{scratch}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def test_stream_restart_recovers_a_compaction_crashed_between_renames(
    spark, sf_small, tmp_path, monkeypatch
):
    """A maintain_store compaction of the streaming store crashes
    between its two renames, leaving the store only under
    __precompact. The restart, with one more input file, must restore
    it before the first epoch and land the store an uncrashed run
    lands; without recovery the new epoch overwrites a missing store
    with its own rows only."""
    emb = load_table(spark, sf_small, "embeddings")
    lo, hi = (int(v) for v in emb.agg(F.min("vec_id"), F.max("vec_id")).first())
    step = -(-(hi - lo + 1) // 4)
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    vec_ids = lambda d: {r.neighbor_id for r in spark.read.parquet(d).collect()}  # noqa: E731

    _land(emb, tmp_path, tmp_path / "all_sf" / "embeddings.parquet", lo, step, range(4))
    clean_store = str(tmp_path / "clean")
    run_streaming_vector_maintenance(
        spark, str(tmp_path / "all_sf"), str(tmp_path / "cidx"), clean_store, cents,
        threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
    )

    src_sf = tmp_path / "src_sf"
    _land(emb, tmp_path, src_sf / "embeddings.parquet", lo, step, range(3))
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    calls = _crash_nth(monkeypatch, "rename", 2)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_streaming_vector_maintenance(
            spark, str(src_sf), idx, store, cents,
            threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
            maintenance_policy={"nprobe": 4, "files_per_partition_compact": 2},
        )
    monkeypatch.undo()
    assert calls["n"] == 2
    assert not os.path.exists(store) and os.path.isdir(f"{store}__precompact")

    _land(emb, tmp_path, src_sf / "embeddings.parquet", lo, step, [3])
    run_streaming_vector_maintenance(
        spark, str(src_sf), idx, store, cents,
        threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
    )
    assert vec_ids(store) == vec_ids(clean_store)
    assert not glob.glob(f"{store}__pre*") and not glob.glob(f"{store}__compacting")


@pytest.mark.parametrize("where", ["first", "middle"])
def test_staged_publish_crash_reruns_to_the_uncrashed_store(spark, tmp_path, monkeypatch, where):
    """A crash on the first or on a middle part-file rename of the
    staged publish leaves the store half-published and the stage
    behind; re-running the build into the same directory lands the
    rows of an uncrashed build and no ``__stage``."""
    from osarchiver_spark.queries.similarity import _staged_store_build

    schema = "neighbor_id long, v array<double>, cid int"
    standing = spark.createDataFrame([(i, [float(i), 0.0], i % 3) for i in range(30)], schema)
    # cid=3 is new relative to the standing write
    drop = spark.createDataFrame([(100 + i, [0.0, float(i)], i % 4) for i in range(12)], schema).repartition(3)
    rows = lambda d: sorted(  # noqa: E731
        (r.neighbor_id, tuple(r.v), r.cid) for r in spark.read.schema(schema).parquet(d).collect()
    )

    clean = str(tmp_path / "clean")
    calls = _crash_nth(monkeypatch, "_rename", 0)  # count only
    _staged_store_build(standing, drop, clean)
    monkeypatch.undo()
    assert calls["n"] >= 3

    idx = str(tmp_path / "idx")
    _crash_nth(monkeypatch, "_rename", 1 if where == "first" else calls["n"] // 2 + 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        _staged_store_build(standing, drop, idx)
    monkeypatch.undo()
    assert os.path.isdir(idx + "__stage")

    _staged_store_build(standing, drop, idx)
    assert rows(idx) == rows(clean) and len(rows(idx)) == 42
    assert not os.path.exists(idx + "__stage")


# -- driver-side parquet schema ------------------------------------------


def _matches_inference(spark, path, partition_cols=()):
    """``read_parquet`` gives the frame of Spark's inference, and the
    footer schema is its data part: the partition columns come from
    directory discovery, and the relation makes every field nullable."""
    inferred = spark.read.parquet(path)
    read = storage.read_parquet(spark, path)
    assert read.schema == inferred.schema
    assert sorted(read.collect()) == sorted(inferred.collect())
    footer = storage.parquet_schema(spark, path)
    # simpleString leaves nullability out, also inside arrays
    data = [(f.name, f.dataType.simpleString()) for f in inferred.schema.fields if f.name not in partition_cols]
    assert [(f.name, f.dataType.simpleString()) for f in footer.fields] == data
    return footer


def test_parquet_schema_equals_inference_on_every_fixture_table(spark, sf_medium):
    """The fixtures are written by pyarrow, so the schema comes through
    Spark's parquet-to-Spark converter, timestamps and all."""
    from osarchiver_spark.sources.parquet import TABLES, ensure_session_defaults, table_path

    ensure_session_defaults(spark)
    for name in TABLES:
        path = table_path(sf_medium, name)
        assert storage.parquet_schema(spark, path) == spark.read.parquet(path).schema, name


def _frame(spark, n=40):
    return spark.range(n).select(
        "id",
        (F.col("id") % 3).cast("string").alias("kind"),
        F.timestamp_seconds(F.lit(946684800) + F.col("id") * 86400 * 9).alias("deleted_at"),
        (F.col("id") / 7).cast("decimal(12,2)").alias("price"),
        F.array(F.col("id"), F.col("id") * 2).alias("pair"),
    )


def test_parquet_schema_of_spark_written_directories(spark, tmp_path):
    """Spark's own files carry its row-metadata JSON: plain, month- and
    string-partitioned directories read back exactly as inferred."""
    df = _frame(spark)
    plain = str(tmp_path / "plain")
    df.repartition(3).write.parquet(plain)
    footer = _matches_inference(spark, plain)
    assert not footer["id"].nullable  # the writer's nullability survives in the footer

    months = str(tmp_path / "months")
    df.withColumn("_archive_dt", F.trunc("deleted_at", "month")).write.partitionBy("_archive_dt").parquet(months)
    _matches_inference(spark, months, ["_archive_dt"])

    kinds = str(tmp_path / "kinds")
    df.write.partitionBy("kind").parquet(kinds)
    _matches_inference(spark, kinds, ["kind"])


def test_parquet_schema_reads_the_file_inference_reads(spark, tmp_path):
    """Without mergeSchema Spark takes the first data file in path
    order; an additively grown archive whose first month holds the
    narrower files must keep that narrower schema."""
    path = str(tmp_path / "arch")
    narrow = spark.createDataFrame([(1, "a")], "k long, v string")
    wide = spark.createDataFrame([(2, "b", 3.0)], "k long, v string, extra double")
    wide.write.parquet(f"{path}/_archive_dt=2020-02-01")
    narrow.write.parquet(f"{path}/_archive_dt=2020-01-01")
    footer = _matches_inference(spark, path, ["_archive_dt"])
    assert footer.fieldNames() == ["k", "v"]


def test_parquet_schema_of_nanosecond_timestamps_is_long(spark, tmp_path):
    """A pyarrow ``timestamp[ns]`` column reads as a long under
    ``nanosAsLong``, the layout of older fixture builds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from osarchiver_spark.sources.parquet import ensure_session_defaults

    ensure_session_defaults(spark)
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_600_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), path)
    schema = storage.parquet_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert schema["ts"].dataType == LongType()


def test_parquet_schema_without_data_defers_to_spark(spark, tmp_path):
    """No data file (a missing path, a glob, or the markers an empty
    partitioned write leaves), a merging session, or a streaming sink's
    log: ``None``, and ``read_parquet`` raises Spark's own error where
    Spark would."""
    from pyspark.errors import AnalysisException

    markers = str(tmp_path / "markers")
    spark.createDataFrame([], "id long, k string").write.partitionBy("k").parquet(markers)
    assert os.listdir(markers) and storage.list_files(spark, markers) == []
    for path in (markers, str(tmp_path / "missing")):
        assert storage.parquet_schema(spark, path) is None
        with pytest.raises(AnalysisException):
            storage.read_parquet(spark, path)

    data = str(tmp_path / "data")
    spark.range(3).write.parquet(data)
    assert storage.parquet_schema(spark, data + "/*") is None
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert storage.parquet_schema(spark, data) is None
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert storage.parquet_schema(spark, data) is not None
    os.mkdir(f"{data}/_spark_metadata")
    assert storage.parquet_schema(spark, data) is None


def test_parquet_schema_of_a_corrupt_footer_raises(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    path = tmp_path / "bad"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        storage.parquet_schema(spark, str(path))


def test_footer_schema_reads_start_no_spark_job(spark, sf_medium, tmp_path):
    """Inference starts a one-task job per read; ``read_parquet`` and a
    cold ``load_table`` start none."""
    path = str(tmp_path / "t")
    _frame(spark).write.parquet(path)
    assert _jobs_in_group(spark, lambda: spark.read.parquet(path)) == 1  # the counter sees inference
    assert _jobs_in_group(spark, lambda: storage.read_parquet(spark, path)) == 0

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{sf_medium}/orders.parquet", sf / "orders.parquet")
    assert _jobs_in_group(spark, lambda: load_table(spark, str(sf), "orders")) == 0


def test_parquet_reads_learn_their_schema_in_storage_only():
    """Every package read of a parquet directory takes its schema from
    ``storage.read_parquet`` (one footer, no Spark job); only storage.py
    may call Spark's inferring reader."""
    pattern = re.compile(r"\.read\.parquet\(")
    home = Path(storage.__file__)
    offenders = [
        f"{path.relative_to(home.parent)}:{n}: {line.strip()}"
        for path in sorted(home.parent.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders
    assert pattern.search(home.read_text())  # the scan sees the reader
