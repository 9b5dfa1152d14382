"""Streaming CDC apply: maintain a materialized current-state table
from a changelog stream (the foreachBatch upsert every lakehouse
pipeline runs off a Debezium/binlog feed).

Per micro-batch: collapse the batch to one winner per key
(operators/merge.py::cdc_apply — a map-combinable max_by agg), then
reconcile with the stored state by sequence number: a batch winner
replaces the stored row only when its sequence is newer, and a
winning delete removes the key. Out-of-order delivery ACROSS batches
is therefore safe, not just within a batch.

State is a parquet directory republished per batch through
``storage.swap_in``: the new state is written once to a sibling, then
swapped in by two checked renames, and ``storage.recover`` restores
the last complete state when a crash interrupts the swap. On
Delta/Iceberg the reconcile collapses into a single MERGE statement;
the plan shape — hash agg + keyed outer reconcile, never a window over
history — is what survives a 100 TB state table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark import storage


def reconcile_cdc_state(
    state: DataFrame | None,
    batch: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Merge one changelog micro-batch into the stored state.

    batch winners (one per key, newest seq) replace the stored row
    only when strictly newer (the idempotence/out-of-order guard).
    Deletes are retained as TOMBSTONES (``is_deleted`` + their seq)
    rather than physically dropped — otherwise a late lower-seq
    insert for a deleted key would find no stored row to compare
    against and resurrect it. Read the live view with
    ``filter(~is_deleted)``; tombstones age out with whatever
    retention the feed's max reordering window allows."""
    payload = [c for c in batch.columns if c not in (key_col, seq_col, op_col)]
    winners = (
        batch.groupBy(key_col)
        .agg(
            F.max_by(F.struct(op_col, *payload), F.col(seq_col)).alias("w"),
            F.max(seq_col).alias("last_seq"),
        )
        .select(
            key_col,
            *[F.col(f"w.{c}").alias(c) for c in payload],
            "last_seq",
            (F.col(f"w.{op_col}") == delete_op).alias("is_deleted"),
        )
    )
    if state is None:
        return winners
    newer = winners.join(
        state.select(key_col, F.col("last_seq").alias("_state_seq")),
        key_col,
        "left",
    ).filter(
        F.col("_state_seq").isNull() | (F.col("last_seq") > F.col("_state_seq"))
    ).drop("_state_seq")
    kept = state.join(newer.select(key_col), key_col, "left_anti")
    return kept.unionByName(newer)


def run_streaming_cdc_upsert(
    spark: SparkSession,
    watch_dir: str,
    schema,
    key_col: str,
    seq_col: str,
    target_dir: str,
    path_glob: str | None = None,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive the changelog files in ``watch_dir`` through the
    streaming engine one file per micro-batch and maintain the
    materialized state at ``target_dir``; returns the final state as a
    batch DataFrame. ``maxFilesPerTrigger=1`` forces real multi-batch
    execution so cross-batch reconciliation is exercised, not just the
    single-batch collapse.

    ``checkpoint_dir`` (default ``<target_dir>__ckpt``) makes the
    pipeline RESTARTABLE: a re-invocation after a crash — or a later
    run over a grown changelog — resumes from the recorded source
    offsets instead of re-reading every file (re-application would be
    a seq-guarded no-op for state, but a full changelog re-read is
    exactly the cost a restart must not pay). Pinned in
    tests/test_cdc.py::test_resume_after_kill_processes_only_new_files.

    Target and checkpoint are ONE unit: delete or rebuild them
    together. A checkpoint with a committed batch but no target would
    skip every changelog file it has seen and return a state missing
    their effects, so that case raises ``ValueError`` before the
    stream starts. A checkpoint with no commit (a crash inside batch
    0, which Spark replays) restarts normally. A republish interrupted
    by a crash is recovered first, so its target counts as present."""
    if checkpoint_dir is None:
        checkpoint_dir = f"{target_dir.rstrip('/')}__ckpt"
    storage.recover(spark, target_dir)
    commits = f"{checkpoint_dir.rstrip('/')}/commits"
    if storage.list_files(spark, commits) and not storage.exists(spark, target_dir):
        raise ValueError(
            f"checkpoint {checkpoint_dir} has committed batches but target "
            f"{target_dir} does not exist; delete both or restore the target"
        )
    reader = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("recursiveFileLookup", "true")
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    stream = reader.load(watch_dir)

    def apply_batch(batch_df: DataFrame, _epoch_id: int) -> None:
        sp = batch_df.sparkSession
        state = storage.read_parquet(sp, target_dir) if storage.exists(sp, target_dir) else None
        new_state = reconcile_cdc_state(state, batch_df, key_col, seq_col)
        # state feeds its own rewrite, so it cannot overwrite in place:
        # write the new state beside it once, then swap it in
        storage.swap_in(
            sp, target_dir, lambda tmp: new_state.write.mode("overwrite").parquet(tmp)
        )

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # live view: tombstones stay on disk (late-arrival guard), reads
    # filter them out
    return storage.read_parquet(spark, target_dir).filter(~F.col("is_deleted")).drop(
        "is_deleted"
    )
