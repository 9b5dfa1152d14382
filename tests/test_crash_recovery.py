"""Crash consistency for the incremental store builders (r10 verdict
item 2): inject a failure INSIDE the window between a store append
and its epoch marker write, restart, and prove the recovered store is
fingerprint-identical to the one-shot build — the torn-run case a
100 TB operator actually hits.

The contract under test (osarchiver_spark/storage.py::run_epoch):
  - a torn epoch (BEGIN without DONE) makes a plain restart REFUSE,
  - ``repair_torn_epochs`` rolls back exactly the torn epoch's
    partial appends (BEGIN-manifest diff),
  - the durable checkpoint replays the same epoch over the same input
    files, so repair-then-restart == never crashed.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

import osarchiver_spark.operators.export as export_mod
import osarchiver_spark.streaming.text_store as ts
import osarchiver_spark.streaming.vector_store as vs
from osarchiver_spark import storage
from osarchiver_spark.operators.export import (
    export_vector_store,
    export_vector_store_indexed,
)
from osarchiver_spark.operators.ivf import kmeans_fit
from osarchiver_spark.sources.parquet import load_table
from osarchiver_spark.storage import repair_torn_epochs

THRESHOLD = 0.45  # fixture embeddings are near-uniform (max cos ~0.5)


def _store_rows(spark, store_dir):
    return sorted(
        (r.neighbor_id, r.cid, tuple(r.v))
        for r in spark.read.parquet(store_dir)
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )


def _multi_file_source(spark, sf_small, tmp_path, n_files=3):
    """Id-ordered multi-file landing dir (mtime-ordered so the file
    stream replays arrival in id order — the regime where
    first-arrival-wins == the id loser rule)."""
    emb = load_table(spark, sf_small, "embeddings")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    step = -(-(int(hi) - int(lo) + 1) // n_files)
    src_sf = tmp_path / "src_sf"
    land = src_sf / "embeddings.parquet"
    os.makedirs(land)
    t0 = 1_700_000_000
    for i in range(n_files):
        scratch = str(tmp_path / f"scratch{i}")
        emb.filter(
            (F.col("vec_id") >= int(lo) + i * step)
            & (F.col("vec_id") < int(lo) + (i + 1) * step)
        ).coalesce(1).write.parquet(scratch)
        part = glob.glob(f"{scratch}/part-*.parquet")[0]
        dst = str(land / f"batch{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (t0 + i, t0 + i))
    return str(src_sf), emb


def _crash_done_marker_once(monkeypatch, epoch_id):
    """Patch ``storage.mark_epoch`` to raise ONCE on the DONE write of
    ``epoch_id`` — after every append landed, before the marker: the
    widest torn window."""
    real = storage.mark_epoch
    state = {"crashed": False}

    def crashy(spark, marker_dir, eid, phase="done"):
        if phase == "done" and eid == epoch_id and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash: appends landed, DONE marker lost")
        return real(spark, marker_dir, eid, phase)

    monkeypatch.setattr(storage, "mark_epoch", crashy)
    return state


def test_vector_stream_crash_between_append_and_marker(
    spark, sf_small, tmp_path, monkeypatch
):
    src_sf, emb = _multi_file_source(spark, sf_small, tmp_path)
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    one = str(tmp_path / "one")
    export_vector_store(spark, src_sf, one, cents, threshold=THRESHOLD, nprobe=3)

    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    state = _crash_done_marker_once(monkeypatch, epoch_id=1)
    with pytest.raises(Exception, match="injected crash"):
        vs.run_streaming_vector_maintenance(
            spark, src_sf, idx, store, cents,
            threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
        )
    assert state["crashed"]
    # the torn epoch is visible: BEGIN without DONE
    assert os.path.isdir(f"{store}__epochs/1.begin")
    assert not os.path.isdir(f"{store}__epochs/1.done")

    # a plain restart REFUSES — silent re-processing would double-append
    with pytest.raises(Exception, match="began but never completed"):
        vs.run_streaming_vector_maintenance(
            spark, src_sf, idx, store, cents,
            threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
        )

    # repair + restart: the checkpoint replays epoch 1 over the same
    # file, epoch 2 follows, and the store equals the one-shot build
    repair_torn_epochs(spark, f"{store}__epochs", [idx, store])
    manifest = vs.run_streaming_vector_maintenance(
        spark, src_sf, idx, store, cents,
        threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
    )
    assert _store_rows(spark, f"{one}/store") == _store_rows(spark, store)
    done = sorted(
        m for m in os.listdir(f"{store}__epochs") if m.endswith(".done")
    )
    assert done == ["0.done", "1.done", "2.done"], done
    one_manifest = {
        (r.cid, r.n_vectors)
        for r in spark.read.parquet(f"{one}/manifest").collect()
    }
    assert {(r.cid, r.n_vectors) for r in manifest.collect()} == one_manifest


def test_vector_stream_crash_mid_append_on_first_epoch(
    spark, sf_small, tmp_path, monkeypatch
):
    """Crash BETWEEN the two appends of epoch 0 (index written, store
    not): the BEGIN manifest says neither dir existed, so repair must
    remove them whole — the exists=False rollback path — and the
    restart rebuilds from scratch, identical to one-shot."""
    src_sf, emb = _multi_file_source(spark, sf_small, tmp_path)
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    one = str(tmp_path / "one")
    export_vector_store(spark, src_sf, one, cents, threshold=THRESHOLD, nprobe=3)

    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    real_write = export_mod._write_store
    state = {"crashed": False}

    def crashy_write(survivors, centroids, pq_models, store_dir, mode):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash: index appended, store write lost")
        return real_write(survivors, centroids, pq_models, store_dir, mode)

    monkeypatch.setattr(export_mod, "_write_store", crashy_write)
    with pytest.raises(Exception, match="injected crash"):
        vs.run_streaming_vector_maintenance(
            spark, src_sf, idx, store, cents,
            threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
        )
    assert state["crashed"] and os.path.isdir(idx)

    repaired = repair_torn_epochs(spark, f"{store}__epochs", [idx, store])
    assert repaired == [0]
    assert not os.path.exists(idx) and not os.path.exists(store)

    vs.run_streaming_vector_maintenance(
        spark, src_sf, idx, store, cents,
        threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
    )
    assert _store_rows(spark, f"{one}/store") == _store_rows(spark, store)


def test_text_stream_crash_between_append_and_marker(
    spark, sf_small, tmp_path, monkeypatch
):
    from osarchiver_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_small, "documents")
    kw = dict(shingle_n=3, num_hashes=16, bands=8, hash_fn="xxhash64")
    one_shot = sorted(
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.6, **kw
        ).select("doc_a", "doc_b").collect()
    )

    # 3 mtime-ordered document files -> 3 epochs
    src_sf = tmp_path / "src_docs"
    land = src_sf / "documents.parquet"
    os.makedirs(land)
    for i in range(3):
        scratch = str(tmp_path / f"dscratch{i}")
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(scratch)
        part = glob.glob(f"{scratch}/part-*.parquet")[0]
        dst = str(land / f"batch{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    idx = str(tmp_path / "tidx")
    corpus = str(tmp_path / "tcorpus")
    pairs = str(tmp_path / "tpairs")
    state = _crash_done_marker_once(monkeypatch, epoch_id=1)
    with pytest.raises(Exception, match="injected crash"):
        ts.run_streaming_text_maintenance(
            spark, str(src_sf), idx, corpus, pairs,
            threshold=0.6, max_files_per_trigger=1, **kw,
        )
    assert state["crashed"]
    with pytest.raises(Exception, match="began but never completed"):
        ts.run_streaming_text_maintenance(
            spark, str(src_sf), idx, corpus, pairs,
            threshold=0.6, max_files_per_trigger=1, **kw,
        )
    repair_torn_epochs(spark, f"{pairs}__epochs", [idx, corpus, pairs])
    graph = ts.run_streaming_text_maintenance(
        spark, str(src_sf), idx, corpus, pairs,
        threshold=0.6, max_files_per_trigger=1, **kw,
    )
    streamed = sorted(
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
        for r in graph.collect()
    )
    assert streamed == one_shot and len(streamed) > 0
    # the corpus landing store carried every row exactly once
    assert (
        spark.read.parquet(corpus).count() == docs.count()
    )


def test_incremental_export_mid_build_crash_is_repairable(
    spark, sf_small, tmp_path, monkeypatch
):
    """The BATCH incremental build (export_vector_store_indexed):
    crash on drop 1's store append -> re-run refuses on the torn drop,
    repair rolls it back, and the resumed build (drop 0 skipped as
    DONE) finishes identical to the one-shot export."""
    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    one = str(tmp_path / "one")
    export_vector_store(
        spark, sf_small, one, cents, threshold=THRESHOLD, nprobe=3
    )

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    store = f"{out}/store"
    real_write = export_mod._write_store
    state = {"calls": 0}

    def crashy_write(survivors, centroids, pq_models, store_dir, mode):
        state["calls"] += 1
        if state["calls"] == 2:  # drop 1's store append
            raise RuntimeError("injected crash: mid-build store append lost")
        return real_write(survivors, centroids, pq_models, store_dir, mode)

    monkeypatch.setattr(export_mod, "_write_store", crashy_write)
    with pytest.raises(RuntimeError, match="injected crash"):
        export_vector_store_indexed(
            spark, sf_small, out, idx, cents,
            n_batches=3, threshold=THRESHOLD, nprobe=3,
        )
    # drop 0 completed, drop 1 torn
    assert os.path.isdir(f"{store}__epochs/0.done")
    assert os.path.isdir(f"{store}__epochs/1.begin")

    with pytest.raises(RuntimeError, match="began but never completed"):
        export_vector_store_indexed(
            spark, sf_small, out, idx, cents,
            n_batches=3, threshold=THRESHOLD, nprobe=3,
        )

    assert repair_torn_epochs(spark, f"{store}__epochs", [idx, store]) == [1]
    export_vector_store_indexed(
        spark, sf_small, out, idx, cents,
        n_batches=3, threshold=THRESHOLD, nprobe=3,
    )
    assert _store_rows(spark, f"{one}/store") == _store_rows(spark, store)


def test_text_export_mid_build_crash_is_repairable(
    spark, sf_small, tmp_path, monkeypatch
):
    """export_training_set_indexed now persists per-drop edges next to
    the band index under the same BEGIN/DONE markers: crash after drop
    1's appends (DONE lost) -> re-run refuses, repair rolls the torn
    drop back, and the resumed build equals the one-shot export."""
    from osarchiver_spark.operators.export import (
        export_training_set,
        export_training_set_indexed,
    )

    out_one = str(tmp_path / "one")
    export_training_set(spark, sf_small, out_one)
    one_manifest = sorted(
        map(tuple, spark.read.parquet(f"{out_one}/manifest").collect())
    )

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    state = _crash_done_marker_once(monkeypatch, epoch_id=1)
    with pytest.raises(Exception, match="injected crash"):
        export_training_set_indexed(spark, sf_small, out, idx, n_batches=3)
    assert state["crashed"]
    assert os.path.isdir(f"{idx}__epochs/0.done")
    assert os.path.isdir(f"{idx}__epochs/1.begin")

    with pytest.raises(RuntimeError, match="began but never completed"):
        export_training_set_indexed(spark, sf_small, out, idx, n_batches=3)

    assert repair_torn_epochs(
        spark, f"{idx}__epochs", [idx, f"{idx}__pairs"]
    ) == [1]
    m = export_training_set_indexed(spark, sf_small, out, idx, n_batches=3)
    assert sorted(map(tuple, m.collect())) == one_manifest
    # the resumed pair graph fed the shared tail: per-split doc sets
    # must match the one-shot export exactly
    for s in ("train", "val", "test"):
        a = {r.doc_id for r in spark.read.json(f"{out_one}/{s}").collect()}
        b = {r.doc_id for r in spark.read.json(f"{out}/{s}").collect()}
        assert a == b, s


def test_repair_handles_manifestless_begin_marker(spark, tmp_path):
    """Crash INSIDE the BEGIN write (marker mkdir landed, manifest
    write did not): no append ever ran, so repair must clear the bare
    marker and report the epoch repaired."""
    marker_dir = str(tmp_path / "markers")
    storage.mark_epoch(spark, marker_dir, 3, "begin")  # bare: no manifest.json
    assert repair_torn_epochs(spark, marker_dir, [str(tmp_path / "idx")]) == [3]
    assert not os.path.isdir(f"{marker_dir}/3.begin")


def test_repair_refuses_a_manifest_naming_a_foreign_directory(spark, tmp_path):
    """A torn epoch's manifest protects [idx, store]; repairing it with
    only [idx] (a marker_dir mismatched to its store) must raise,
    naming the foreign directory, before any file is deleted — in idx
    or in store."""
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    marker_dir = f"{store}__epochs"
    for d in (idx, store):
        spark.range(3).coalesce(1).write.parquet(d)

    def append(_):  # the torn appends: one new file in each dir
        for d in (idx, store):
            spark.range(3, 5).coalesce(1).write.mode("append").parquet(d)
        raise RuntimeError("injected crash: appends landed, DONE marker lost")

    with pytest.raises(RuntimeError, match="injected crash"):
        storage.run_epoch(spark, marker_dir, 0, [idx, store], lambda: True, append)
    before = {d: sorted(os.listdir(d)) for d in (idx, store)}

    with pytest.raises(ValueError, match=f"protects {re.escape(store)},"):
        repair_torn_epochs(spark, marker_dir, [idx])
    assert {d: sorted(os.listdir(d)) for d in (idx, store)} == before
    assert os.path.isdir(f"{marker_dir}/0.begin")

    # the matching directory list still repairs it
    assert repair_torn_epochs(spark, marker_dir, [idx, store]) == [0]
    assert spark.read.parquet(idx).count() == spark.read.parquet(store).count() == 3
    # the replay stages an empty drop: DONE alone, then skipped as DONE
    assert storage.run_epoch(spark, marker_dir, 0, [idx, store], lambda: None, None)
    assert not storage.run_epoch(spark, marker_dir, 0, [idx, store], None, None)
    assert sorted(os.listdir(marker_dir)) == ["0.done"]
