"""Streaming TEXT-corpus dedup maintenance: the live twin of
operators/export.py::export_training_set_indexed's per-drop loop, and
the text sibling of streaming/vector_store.py.

Each micro-batch of arriving documents:

    → its edges, from the per-drop step the indexed export also calls
      (operators/dedup.py::minhash_drop_edges):
        intra-batch MinHash-LSH pairs     (the drop's own near-dups)
        ∪ cross probe vs the STANDING band index
          (minhash_lsh_incremental_indexed: banded batch broadcast,
           pushed band_key IN predicate — the corpus text is touched
           only for the candidate rows the exact-Jaccard verify needs)
    → append the batch's bands to the index, its raw rows to the
      corpus landing store, and its edges to the accumulated pair
      graph (read back by ``read_pair_graph``)

The landing store is what sets this loop apart from the export's: a
stream has no source table to re-read, so the probe's corpus text is
the store of every earlier batch.

With ingest-ordered doc ids, the accumulated {intra} ∪ {cross} edge
set equals the one-shot ``minhash_lsh_pairs`` graph row-for-row —
the same by-construction identity the batch indexed export proves
(band-bucket sharing is symmetric and batching-independent; the
exact verify is the same rounded expression) — pinned in
tests/test_streaming_text_store.py. Downstream consumers (loser
anti-join, connected components, split keys) read the pair graph
exactly as the batch pipeline does.

Restart safety mirrors the vector loop: each epoch's three appends
are one ``storage.run_epoch`` transaction — a replayed DONE epoch is a
no-op, a torn one (crash inside the multi-directory append window)
raises instead of silently double-appending, and
``storage.repair_torn_epochs`` rolls the partial appends back from the
BEGIN manifest. The durable checkpoint (``<pairs>__checkpoint``)
replays the same epoch over the same input files, so
repair-then-restart is fingerprint-identical to a never-crashed run
(pinned in tests/test_crash_recovery.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from osarchiver_spark import storage

DOCUMENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def make_text_maintenance_batch_fn(
    spark: SparkSession,
    index_dir: str,
    corpus_dir: str,
    pairs_dir: str,
    threshold: float,
    lsh_kw: dict,
):
    """The per-micro-batch step, factored out for direct testing.
    ``lsh_kw``: shingle_n/num_hashes/bands/hash_fn passed through to
    every sketch call (one frozen parameterization — changing it
    invalidates the standing index, exactly like retraining an IVF
    model)."""
    from osarchiver_spark.operators.dedup import minhash_drop_edges, minhash_lsh_index

    marker_dir = f"{pairs_dir.rstrip('/')}__epochs"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        def stage():
            if batch_df.isEmpty():
                return None
            batch = batch_df.localCheckpoint()
            index = corpus = None
            if storage.exists(spark, index_dir):
                # declared layouts: re-inferring the GROWING index/corpus
                # dirs' footers every micro-batch is pure latency
                # (minhash_lsh_index's fixed columns, long doc ids per
                # DOCUMENTS_RAW_SCHEMA)
                index = spark.read.schema(
                    "corpus_id bigint, band_idx int, band_key string"
                ).parquet(index_dir)
                corpus = spark.read.schema(DOCUMENTS_RAW_SCHEMA).parquet(corpus_dir)
            return batch, minhash_drop_edges(batch, index, corpus, threshold, **lsh_kw)

        def append(staged) -> None:
            batch, edges = staged
            first = not storage.exists(spark, index_dir)
            minhash_lsh_index(batch, "doc_id", "text", **lsh_kw).write.mode(
                "overwrite" if first else "append"
            ).parquet(index_dir)
            batch.write.mode("overwrite" if first else "append").parquet(corpus_dir)
            edges.write.mode(
                "overwrite" if not storage.exists(spark, pairs_dir) else "append"
            ).parquet(pairs_dir)

        storage.run_epoch(
            spark, marker_dir, epoch_id, [index_dir, corpus_dir, pairs_dir], stage, append
        )

    return process_batch


def run_streaming_text_maintenance(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    corpus_dir: str,
    pairs_dir: str,
    threshold: float | None = None,
    max_files_per_trigger: int | None = None,
    **lsh_overrides,
) -> DataFrame:
    """Stream the documents fixture through the maintenance loop and
    return the accumulated near-dup pair graph (doc_a, doc_b). LSH
    parameters default to the registry's production set
    (queries/dedup.py constants, xxhash64 sketches). Checkpoints under
    ``<pairs>__checkpoint`` so epoch ids are durable across restarts
    (the index/corpus/pairs/marker/checkpoint dirs form one unit); a
    torn epoch refuses the restart until
    ``storage.repair_torn_epochs`` has rolled it back."""
    from osarchiver_spark.queries.dedup import MINHASH_THRESHOLD, PRODUCTION_LSH
    from osarchiver_spark.streaming.pipeline import fixture_stream

    lsh_kw = {**PRODUCTION_LSH, **lsh_overrides}
    if threshold is None:
        threshold = MINHASH_THRESHOLD

    stream = fixture_stream(spark, sf_dir, "documents", DOCUMENTS_RAW_SCHEMA, max_files_per_trigger)

    process_batch = make_text_maintenance_batch_fn(
        spark, index_dir, corpus_dir, pairs_dir, threshold, lsh_kw
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{pairs_dir.rstrip('/')}__checkpoint")
        .foreachBatch(process_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_pair_graph(spark, pairs_dir)


def read_pair_graph(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """The accumulated pair graph (doc_a, doc_b) under ``pairs_dir``.
    An edge-free corpus writes only _SUCCESS markers (0-row parquet
    writes produce no part files), which read as "unable to infer
    schema": hand back a typed empty graph for THAT case only."""
    if not storage.list_files(spark, pairs_dir):
        return spark.createDataFrame([], "doc_a long, doc_b long")
    return storage.read_parquet(spark, pairs_dir)
