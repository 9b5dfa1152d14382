"""Streaming deduplication — a custom stateful operator
(applyInPandasWithState) for the training-data pipeline: documents
whose fingerprint was seen in ANY earlier micro-batch are dropped;
the first occurrence (min doc_id within its arrival batch) is
emitted once.

This is the streaming twin of operators/dedup.py::exact_dedup: state
is one boolean per fingerprint group, partitioned by the groupBy —
at scale the state store shards with the shuffle. For unbounded
streams, state is bounded via ``streaming_dedup_watermarked``:
``withWatermark`` + ``dropDuplicates`` lets Spark evict fingerprint
state older than the lateness bound entirely JVM-side (a
processing-time GroupStateTimeout on the applyInPandasWithState path
was tried and abandoned: the timeout-only "cleaning up state"
micro-batch hangs in this Spark build — the watermark form is the
idiomatic and faster answer anyway).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from osarchiver_spark.functions.text import normalized_fingerprint

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("keep_id", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def _dedup_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    if state.exists:
        return iter(())  # fingerprint already emitted in an earlier batch
    min_id = None
    for pdf in pdfs:
        batch_min = int(pdf["doc_id"].min())
        min_id = batch_min if min_id is None else min(min_id, batch_min)
    state.update((True,))
    if min_id is None:
        return iter(())
    return iter([pd.DataFrame({"fingerprint": [key[0]], "keep_id": [min_id]})])


def streaming_dedup_first_seen(stream: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """stream → (fingerprint, keep_id), one row per fingerprint ever
    seen, emitted on first arrival. State lives for the run's
    lifetime (retention == run length); see
    ``streaming_dedup_watermarked`` for the bounded-state form."""
    fp = stream.select(
        F.col(id_col).alias("doc_id"), normalized_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_watermarked(
    stream: DataFrame, id_col: str, text_col: str, ts_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """Bounded-state streaming dedup: first row per fingerprint within
    the watermark window; fingerprint state older than ``delay`` is
    evicted by the engine, so a re-arrival after the window re-emits.

    This is the 100 TB shape for unbounded streams —
    dropDuplicatesWithinWatermark keeps the state store at
    O(distinct fingerprints per window), sharded with the shuffle,
    with eviction handled JVM-side (no Python in the loop). Plain
    dropDuplicates would never evict here: it only cleans state when
    the event-time column is part of the dedup key."""
    fp = stream.select(
        F.col(id_col).alias("keep_id"),
        F.col(ts_col).alias("event_ts"),
        normalized_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    return (
        fp.withWatermark("event_ts", delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("fingerprint", "keep_id", "event_ts")
    )


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: T.StructType,
    transform=None,
    scratch: str = "sdedup",
) -> DataFrame:
    """Drive the stateful dedup over all files currently in one
    fixture table and return the emitted rows as a batch DataFrame.
    ``transform`` (stream → stream, stateless columns/filters only)
    runs BEFORE the stateful dedup — the hook that fuses ingest gates
    into the same micro-batch pass."""
    from osarchiver_spark.streaming.pipeline import drain_stream_to_parquet, fixture_stream

    stream = fixture_stream(spark, sf_dir, table, schema)
    if transform is not None:
        stream = transform(stream)

    out = streaming_dedup_first_seen(stream, "doc_id", "text")
    return drain_stream_to_parquet(out, "append", scratch)
