"""Streaming vector-store maintenance (streaming/vector_store.py):
micro-batched probe/append equals the batch one-shot build when
arrival order matches id order (the capstone identity, live), and a
replayed foreachBatch epoch appends nothing twice."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from osarchiver_spark.operators.export import export_vector_store
from osarchiver_spark.operators.ivf import kmeans_fit
from osarchiver_spark.sources.parquet import load_table
from osarchiver_spark.streaming.vector_store import (
    make_maintenance_batch_fn,
    run_streaming_vector_maintenance,
)

THRESHOLD = 0.45  # fixture embeddings are near-uniform (max cos ~0.5)


def _store_rows(spark, store_dir):
    return sorted(
        (r.neighbor_id, r.cid, tuple(r.v))
        for r in spark.read.parquet(store_dir)
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )


def _multi_file_source(spark, sf_small, tmp_path, n_files=3):
    """An id-ordered multi-file landing dir: file i holds id-range i
    with mtime t0+i, so the file stream source (oldest-first) replays
    arrival in id order — the ingest-ordered-ids regime where
    first-arrival-wins == the id loser rule."""
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


def test_streaming_build_equals_one_shot_multi_batch(spark, sf_small, tmp_path):
    src_sf, emb = _multi_file_source(spark, sf_small, tmp_path)
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    one = str(tmp_path / "one")
    export_vector_store(spark, src_sf, one, cents, threshold=THRESHOLD, nprobe=3)

    inc_store = str(tmp_path / "inc_store")
    manifest = run_streaming_vector_maintenance(
        spark, src_sf, str(tmp_path / "inc_idx"), inc_store, cents,
        threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
    )
    # 3 separate epochs really ran and completed (begin+done pairs)
    markers = os.listdir(f"{inc_store}__epochs")
    assert sorted(m for m in markers if m.endswith(".done")) == [
        "0.done", "1.done", "2.done"
    ], markers

    assert _store_rows(spark, f"{one}/store") == _store_rows(spark, inc_store)
    mrows = {(r.cid, r.n_vectors) for r in manifest.collect()}
    one_manifest = {
        (r.cid, r.n_vectors)
        for r in spark.read.parquet(f"{one}/manifest")
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    }
    assert mrows == one_manifest and len(mrows) > 0


def test_streaming_epoch_replay_is_idempotent(spark, sf_small, tmp_path):
    """A recovered stream re-runs its last epoch: the second call with
    the same epoch_id must append nothing (the marker guard)."""
    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    fn = make_maintenance_batch_fn(spark, idx, store, cents, THRESHOLD, 3)

    half = emb.filter(F.col("vec_id") % 2 == 0)
    fn(half, 0)
    rows_after_first = _store_rows(spark, store)
    fn(half, 0)  # replay
    assert _store_rows(spark, store) == rows_after_first
    # a genuinely new epoch still appends
    fn(emb.filter(F.col("vec_id") % 2 == 1), 1)
    assert len(_store_rows(spark, store)) > len(rows_after_first)


def test_streaming_pq_store_equals_one_shot(spark, sf_small, tmp_path):
    """pq_models through the streaming loop: the multi-batch streamed
    CODE store must equal the one-shot batch export's (codes depend
    only on the frozen models + membership; membership is
    batching-independent)."""
    from osarchiver_spark.operators.pq import pq_joint_fit, unit_frame

    src_sf, emb = _multi_file_source(spark, sf_small, tmp_path)
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    emb_n = unit_frame(emb, "vec_id", "embedding", "vec_id", "_uv")
    coarse, books = pq_joint_fit(emb_n, "vec_id", "_uv", n_clusters=8, m=16, codes=16)

    one = str(tmp_path / "one")
    export_vector_store(
        spark, src_sf, one, cents, threshold=THRESHOLD, nprobe=3,
        pq_models=(coarse, books),
    )
    inc_store = str(tmp_path / "inc_store")
    run_streaming_vector_maintenance(
        spark, src_sf, str(tmp_path / "inc_idx"), inc_store, cents,
        threshold=THRESHOLD, nprobe=3, max_files_per_trigger=1,
        pq_models=(coarse, books),
    )
    rows = lambda d: sorted(
        (r.neighbor_id, r.cid, tuple(r.code))
        for r in spark.read.parquet(d)
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )
    r1, r2 = rows(f"{one}/store"), rows(inc_store)
    assert r1 == r2 and len(r1) > 0


def test_streaming_partial_epoch_is_detected_not_replayed(
    spark, sf_small, tmp_path
):
    """A crash inside an epoch's multi-directory append window leaves
    BEGIN without DONE; the replay must refuse (double-appending would
    silently corrupt the store) rather than re-run."""
    import os

    import pytest

    from osarchiver_spark import storage

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    fn = make_maintenance_batch_fn(spark, idx, store, cents, THRESHOLD, 3)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    fn(half, 0)  # completes: 0.begin + 0.done
    storage.mark_epoch(spark, f"{store}__epochs", 1, "begin")  # simulated crash
    with pytest.raises(RuntimeError, match="began but never completed"):
        fn(emb.filter(F.col("vec_id") % 2 == 1), 1)
    # the completed epoch still replays as a no-op
    rows = lambda: sorted(
        (r.neighbor_id, r.cid)
        for r in spark.read.parquet(store).collect()
    )
    before = rows()
    fn(half, 0)
    assert rows() == before
    assert os.path.isdir(f"{store}__epochs/0.done")
