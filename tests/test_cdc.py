"""CDC apply: batch collapse + streaming cross-batch reconciliation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark.operators.merge import cdc_apply
from osarchiver_spark.streaming.cdc import run_streaming_cdc_upsert

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)

ROWS = [
    # key 1: insert → update          → survives with v=b
    (1, "I", 1, "a"), (1, "U", 4, "b"),
    # key 2: insert → delete          → gone
    (2, "I", 2, "x"), (2, "D", 5, None),
    # key 3: delete arrives BEFORE the (stale) insert by seq → gone,
    # and the out-of-order low-seq insert must NOT resurrect it
    (3, "D", 7, None), (3, "I", 6, "y"),
    # key 4: plain insert             → survives with v=z
    (4, "I", 3, "z"),
]
EXPECT = {(1, "b", 4), (4, "z", 3)}


def test_cdc_apply_batch_collapse(spark):
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    out = {(r.k, r.v, r.last_seq) for r in cdc_apply(log, "k", "seq").collect()}
    assert out == EXPECT


def test_streaming_cdc_reconciles_across_batches(spark, tmp_path):
    """The changelog split into per-seq-range files, streamed one file
    per micro-batch (so reconciliation really crosses batches, with
    key 3's delete arriving in an EARLIER batch than its stale
    insert): the maintained state must equal the one-shot batch
    apply."""
    watch = tmp_path / "log"
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    # file A: seq 1-3, file B: seq 7 (the delete), file C: seq 4-6
    for name, lo, hi in (("a", 1, 3), ("b", 7, 7), ("c", 4, 6)):
        log.filter((F.col("seq") >= lo) & (F.col("seq") <= hi)).coalesce(
            1
        ).write.parquet(str(watch / f"{name}.parquet"))
    final = run_streaming_cdc_upsert(
        spark,
        str(watch),
        CHANGELOG_SCHEMA,
        "k",
        "seq",
        str(tmp_path / "state"),
    )
    out = {(r.k, r.v, r.last_seq) for r in final.collect()}
    assert out == EXPECT


def test_resume_after_kill_processes_only_new_files(spark, tmp_path):
    """Restartability pin (r12): the checkpointed pipeline resumes
    from recorded offsets — a second invocation after new changelog
    files land (or after a crash) processes ONLY the unseen files,
    and the maintained state still equals the one-shot batch apply."""
    import os

    watch = tmp_path / "log"
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    log.filter(F.col("seq") <= 3).coalesce(1).write.parquet(str(watch / "a.parquet"))
    log.filter(F.col("seq") == 7).coalesce(1).write.parquet(str(watch / "b.parquet"))
    state = str(tmp_path / "state")
    first = run_streaming_cdc_upsert(
        spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state
    )
    first.collect()
    ckpt_offsets = str(tmp_path / "state__ckpt" / "offsets")
    batches_first = {f for f in os.listdir(ckpt_offsets) if not f.startswith(".")}
    assert batches_first, "checkpoint must record committed batches"
    # late files arrive; the re-invocation (a restart of the same
    # logical pipeline: same watch/target/checkpoint) must resume
    log.filter((F.col("seq") >= 4) & (F.col("seq") <= 6)).coalesce(1).write.parquet(
        str(watch / "c.parquet")
    )
    final = run_streaming_cdc_upsert(
        spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state
    )
    out = {(r.k, r.v, r.last_seq) for r in final.collect()}
    assert out == EXPECT
    batches_final = {f for f in os.listdir(ckpt_offsets) if not f.startswith(".")}
    new_batches = batches_final - batches_first
    # exactly ONE new micro-batch: the new file, not a re-read of a+b
    assert len(new_batches) == 1, (batches_first, batches_final)


def test_checkpoint_without_target_fails_fast(spark, tmp_path):
    """Target and checkpoint are one unit: a rerun whose target was
    deleted while its checkpoint holds committed batches must raise,
    not return a state missing the already-seen files' effects."""
    import shutil

    watch = tmp_path / "log"
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    log.coalesce(1).write.parquet(str(watch / "a.parquet"))
    state = str(tmp_path / "state")
    run_streaming_cdc_upsert(spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state).collect()
    shutil.rmtree(state)
    with pytest.raises(ValueError, match="state__ckpt"):
        run_streaming_cdc_upsert(spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state)


def test_checkpoint_without_commit_restarts(spark, tmp_path):
    """A checkpoint with no committed batch (a crash inside batch 0)
    is not the mismatch case: the run replays and completes."""
    watch = tmp_path / "log"
    watch.mkdir()
    spark.createDataFrame(ROWS, CHANGELOG_SCHEMA).coalesce(1).write.parquet(
        str(watch / "a.parquet")
    )
    state = str(tmp_path / "state")
    (tmp_path / "state__ckpt" / "commits").mkdir(parents=True)
    final = run_streaming_cdc_upsert(spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state)
    assert {(r.k, r.v, r.last_seq) for r in final.collect()} == EXPECT


def _three_file_log(spark, tmp_path):
    """ROWS split so key 3's delete lands a batch before its insert."""
    watch = tmp_path / "log"
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    for name, lo, hi in (("a", 1, 3), ("b", 7, 7), ("c", 4, 6)):
        log.filter((F.col("seq") >= lo) & (F.col("seq") <= hi)).coalesce(
            1
        ).write.parquet(str(watch / f"{name}.parquet"))
    return str(watch)


def test_republish_crash_between_renames_recovers_on_restart(spark, tmp_path, monkeypatch):
    """Batch 1's republish dies after the old state moved aside and
    before the new one moved in, so the target is missing while the
    checkpoint holds batch 0's commit. The restart must restore the
    last complete state and replay batch 1, ending where an
    uninterrupted run ends."""
    import os

    from osarchiver_spark import storage

    watch, state = _three_file_log(spark, tmp_path), str(tmp_path / "state")
    real, calls = storage.rename, {"n": 0}

    def crashy(*args):
        calls["n"] += 1
        if calls["n"] == 3:  # batch 0: tmp -> state; batch 1: state -> old, tmp -> state
            raise RuntimeError("injected crash mid-republish")
        return real(*args)

    monkeypatch.setattr(storage, "rename", crashy)
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_cdc_upsert(spark, watch, CHANGELOG_SCHEMA, "k", "seq", state)
    monkeypatch.undo()
    assert calls["n"] == 3 and not os.path.exists(state)

    final = run_streaming_cdc_upsert(spark, watch, CHANGELOG_SCHEMA, "k", "seq", state)
    assert {(r.k, r.v, r.last_seq) for r in final.collect()} == EXPECT
    assert sorted(os.listdir(tmp_path)) == ["log", "state", "state__ckpt"]


def test_clean_run_leaves_no_tmp_sibling_and_writes_state_once_per_batch(spark, tmp_path):
    """Every job the stream starts for a batch carries the batch number
    in its description (the stream's job group). A batch
    writes its full state exactly once: one job with output records,
    not a write to a temp dir plus a rewrite of the target."""
    import os
    import re
    from collections import Counter

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    # the store keeps only the newest spark.ui.retainedJobs jobs, so
    # mark the start by job id, not by count
    jobs = store.jobsList(None)  # newest first
    last_before = jobs.apply(0).jobId() if jobs.size() else -1

    watch, state = _three_file_log(spark, tmp_path), str(tmp_path / "state")
    run_streaming_cdc_upsert(spark, watch, CHANGELOG_SCHEMA, "k", "seq", state).collect()
    bus.waitUntilEmpty()
    assert sorted(os.listdir(tmp_path)) == ["log", "state", "state__ckpt"]

    writes = Counter()
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        if jd.jobId() <= last_before:
            break
        desc = jd.description()
        batch = desc.isDefined() and re.search(r"batch = (\d+)", desc.get())
        if not batch:
            continue  # the caller's own reads and collects
        stages = tracker.getJobInfo(jd.jobId()).stageIds
        if sum(store.lastStageAttempt(s).outputRecords() for s in stages) > 0:
            writes[int(batch.group(1))] += 1
    assert writes == {0: 1, 1: 1, 2: 1}, writes
