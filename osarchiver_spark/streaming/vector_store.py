"""Streaming vector-store maintenance: the LIVE twin of
operators/export.py::export_vector_store_indexed.

A live embedding pipeline does not batch drops by hand — vectors land
in a directory (or a queue) and a Structured Streaming job keeps the
serving store deduplicated and current. Each micro-batch runs the
per-drop maintenance step (``make_maintenance_batch_fn``), the same
step that export_vector_store_indexed runs once per id-range drop:

    micro-batch of new vectors
      → intra-batch near-dup probe        (ivf_neardup_probe over the
                                           batch's own cell index)
      → cross probe vs the STANDING index (partition-pruned read of
                                           the probed cells only —
                                           never a corpus rescan)
      → loser rule                        (first-arrival-wins: a new
                                           vector loses to ANY standing
                                           match; within a batch, to a
                                           smaller id — with ingest-
                                           ordered ids the two rules
                                           coincide and the result is
                                           row-identical to the batch
                                           one-shot build)
      → append batch cells to the dedup index, survivors to the store

Centroids are FROZEN (trained offline; FAISS ``IndexIVF.add``
semantics) — which is precisely what makes the streaming build equal
the batch build: the match rule depends only on the model, never on
micro-batch boundaries. Retrain + ``ivf_reindex`` is an offline
migration, not a streaming concern.

Restart safety: ``foreachBatch`` appends are not idempotent on epoch
REPLAY (a recovered query re-runs its last epoch), and the two appends
span two directories, so each epoch is one ``storage.run_epoch``
transaction under ``<store>__epochs/``: a replayed DONE epoch is
skipped whole, a torn one (BEGIN without DONE) refuses instead of
double-appending (duplicate index cells ⇒ duplicate loser pairs ⇒
permanent divergence from the batch-build identity), and
``storage.repair_torn_epochs`` rolls the torn appends back from the
BEGIN manifest. The stream checkpoints its offsets
(``<store>__checkpoint``), so a restarted query replays the SAME epoch
id over the SAME input files — after repair the re-run lands the
epoch once, and the recovered store is fingerprint-identical to the
one-shot build (pinned in tests/test_crash_recovery.py). The probes
run in the transaction's read-only stage, so a crash anywhere before
the appends leaves no marker and no repair debt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark import storage
from osarchiver_spark.operators.ivf import (
    INDEXED_PROBE_MAX_QUERIES,
    IVF_STORE_SCHEMA,
    ivf_index,
    ivf_neardup_probe,
    prep_indexed_probe,
    query_frame,
)

EMBEDDINGS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def make_maintenance_batch_fn(
    spark: SparkSession,
    index_dir: str,
    store_dir: str,
    centroids: list[list[float]],
    threshold: float,
    nprobe: int,
    pq_models: tuple[list[list[float]], list[list[list[float]]]] | None = None,
    max_batch_rows: int | None = INDEXED_PROBE_MAX_QUERIES,
):
    """The per-drop maintenance step, shared by foreachBatch and by
    export_vector_store_indexed's drop loop, and driven directly by
    tests (epoch-replay semantics). Appends the batch's cells to
    ``index_dir`` and its survivors to ``store_dir`` (as PQ codes when
    ``pq_models`` is given — the batch exports' serving-format knob,
    same semantics); skips epochs already marked done.
    ``max_batch_rows`` bounds both probes' query side."""
    from osarchiver_spark.operators.export import _write_store
    from osarchiver_spark.session import concurrently

    marker_dir = f"{store_dir.rstrip('/')}__epochs"
    probe_kw = dict(threshold=threshold, nprobe=nprobe, max_batch_rows=max_batch_rows)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        def stage():
            batch = batch_df.localCheckpoint()  # stream-sourced frames
            # cannot be re-planned after the trigger; pin the rows once
            # (checkpoint FIRST, then count the pinned blocks)
            n = batch.count()
            if n == 0:
                return None
            batch_index = ivf_index(batch, "vec_id", "embedding", centroids)
            # the intra and cross probes share the SAME query side and
            # frozen model, so the probe pass + cid collect runs ONCE
            # and feeds both
            prepped = prep_indexed_probe(
                query_frame(batch, "vec_id", "embedding"), centroids, nprobe
            )
            intra = ivf_neardup_probe(
                batch_index, batch, "vec_id", "embedding", centroids,
                batch_rows=n, prepped=prepped, **probe_kw,
            ).filter(F.col("neighbor_id") < F.col("query_id"))
            losers = intra.select(F.col("query_id").alias("vec_id"))
            if storage.exists(spark, index_dir):
                # declared layout: re-inferring the GROWING index dir's
                # footers every micro-batch is pure latency
                standing = spark.read.schema(IVF_STORE_SCHEMA).parquet(index_dir)
                cross = ivf_neardup_probe(
                    standing, batch, "vec_id", "embedding", centroids,
                    batch_rows=n, prepped=prepped, **probe_kw,
                )  # first-arrival-wins: ANY standing match is a loss
                losers = losers.unionByName(cross.select(F.col("query_id").alias("vec_id")))
            # materialize losers BEFORE appending this batch's cells
            # (the lazily-planned probe must never observe files
            # appended after it)
            return batch, batch_index, losers.distinct().localCheckpoint()

        def append(staged) -> None:
            batch, batch_index, losers = staged
            first = not storage.exists(spark, index_dir)
            store_mode = "overwrite" if not storage.exists(spark, store_dir) else "append"
            # the DEDUP index always stores full vectors (the probe
            # needs them); pq_models shapes only the serving store
            survivors = batch.join(losers, "vec_id", "left_anti")
            # the two appends target DIFFERENT directories and both
            # read only pinned checkpoints, so they overlap as
            # concurrent driver-thread jobs; the epoch's manifest
            # brackets both regardless of order
            concurrently(
                spark,
                lambda: _write_store(survivors, centroids, pq_models, store_dir, store_mode),
                lambda: batch_index.write.mode("overwrite" if first else "append")
                .partitionBy("cid")
                .parquet(index_dir),
            )

        storage.run_epoch(spark, marker_dir, epoch_id, [index_dir, store_dir], stage, append)

    return process_batch


def run_streaming_vector_maintenance(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    nprobe: int = 4,
    max_files_per_trigger: int | None = None,
    pq_models: tuple[list[list[float]], list[list[list[float]]]] | None = None,
    maintenance_policy: dict | None = None,
) -> DataFrame:
    """Stream the embeddings fixture through the maintenance loop and
    return the resulting store's manifest (cid, n_vectors).
    ``max_files_per_trigger`` splits a multi-file source into multiple
    micro-batches (the live-arrival shape); ``None`` processes all
    available input in one trigger — over a single-file fixture that
    is ONE batch, whose output is row-identical to the batch one-shot
    build by the capstone identity.

    The query checkpoints under ``<store>__checkpoint`` so epoch ids
    are DURABLE: a restarted run resumes from the committed offsets
    and a replayed epoch maps to the same input files — the property
    the epoch transaction's replay semantics rely on. The
    index/store/marker/checkpoint directories form one unit; never
    reuse some of them without the others. A torn epoch (crash inside
    the append window) refuses the restart until
    ``storage.repair_torn_epochs`` has rolled it back.

    ``maintenance_policy`` (kwargs for
    :func:`osarchiver_spark.operators.health.maintain_store`, e.g.
    ``{"nprobe": 4, "target_bytes": ...}``) runs the health check
    after the stream drains: per-drop appends fragment the store one
    file per touched cell per epoch, and the policy's ``compact``
    branch rewrites it layout-preserving once a cell's file count
    crosses the threshold; drift signals come back as a ``retrain``
    decision in the report (never auto-executed)."""
    from osarchiver_spark.streaming.pipeline import fixture_stream

    # a compaction swap interrupted between its renames leaves the only
    # complete copy under __precompact: restore it before anything
    # reads or appends to the store
    storage.recover(spark, index_dir)
    storage.recover(spark, store_dir)
    stream = fixture_stream(spark, sf_dir, "embeddings", EMBEDDINGS_RAW_SCHEMA, max_files_per_trigger)

    process_batch = make_maintenance_batch_fn(
        spark, index_dir, store_dir, centroids, threshold, nprobe, pq_models
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{store_dir.rstrip('/')}__checkpoint")
        .foreachBatch(process_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    if maintenance_policy is not None:
        from osarchiver_spark.operators.health import maintain_store

        maintain_store(
            spark, store_dir, centroids,
            index_dir=index_dir, **maintenance_policy,
        )

    store = storage.read_parquet(spark, store_dir).withColumn(
        "cid", F.col("cid").cast("int")
    )
    return store.groupBy("cid").agg(F.count("*").alias("n_vectors"))
