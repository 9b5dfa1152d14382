"""Streaming sketch maintenance — the KMV (k-minimum-values)
distinct-count sketch as a custom stateful operator.

The batch twin is ``queries/events_analytics.py::q_kmv_distinct``;
this is its incremental form: per group, the state is the k smallest
md5-uniform hashes seen so far, merged with each micro-batch's hashes
and re-truncated to k — the KMV merge rule, so the carried sketch
after N batches is EXACTLY the sketch of the union of the N batches.
That identity is what the registry harness proves: two file drops,
two availableNow engine invocations against one checkpoint, and the
second run's output must equal the one-shot batch SQL over all
events (the DuckDB oracle).

Scale shape: hashes are computed JVM-side in the stream projection
(the same md5 expression as the batch query); state is one
``array<double>`` of at most k elements per group, sharded with the
groupBy shuffle; per batch each group ships only its batch hashes
plus the k-element sketch. Below k distinct hashes the sketch IS the
exact distinct set, so the estimate degrades to the exact count —
identical to the batch estimator.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from osarchiver_spark import storage
from osarchiver_spark.queries.events_analytics import KMV_K  # one k, both modes

OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("kmv_estimate", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType([T.StructField("mins", T.ArrayType(T.DoubleType()))])


def _kmv_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    seen = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        seen.update(float(u) for u in pdf["u"])
    mins = sorted(seen)[:KMV_K]
    state.update((mins,))
    est = float(len(mins)) if len(mins) < KMV_K else (KMV_K - 1) / mins[-1]
    yield pd.DataFrame({"event_type": [key[0]], "kmv_estimate": [round(est, 4)]})


def streaming_kmv(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """stream → one (group, kmv_estimate) row per group per batch,
    the estimate reflecting everything seen since the checkpoint's
    birth."""
    u = (
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(float(1 << 32))
    hashed = stream.select(F.col(key_col).alias("event_type"), u.alias("u"))
    return hashed.groupBy("event_type").applyInPandasWithState(
        _kmv_fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_stream_kmv(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint: str
) -> DataFrame:
    """One availableNow invocation: drain whatever landed, update the
    checkpoint-carried sketches, overwrite ``out_dir`` with the run's
    final per-group estimates."""
    from osarchiver_spark.streaming.pipeline import EVENTS_RAW_SCHEMA

    src = (
        spark.readStream.format("parquet").schema(EVENTS_RAW_SCHEMA).load(landing_dir)
    )
    est = streaming_kmv(src, "event_type", "user_id")

    def write_batch(batch_df: DataFrame, _epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    from osarchiver_spark.streaming.pipeline import stream_state_partitions

    with stream_state_partitions(spark):
        q = (
            est.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return storage.read_parquet(spark, out_dir)


def streaming_kmv_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form: stage the fixture's events as two drops, run TWO
    engine invocations against one checkpoint, return run 2's
    estimates — equal to the batch KMV over ALL events only if run 2
    merged its drop into run 1's carried sketch correctly."""
    from osarchiver_spark.sources.parquet import load_table

    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH", tempfile.gettempdir())
    root = f"{base.rstrip('/')}/kmv_{uuid.uuid4().hex[:8]}"
    landing, out, ckpt = f"{root}/landing", f"{root}/out", f"{root}/ckpt"
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)
    incremental_stream_kmv(spark, landing, out, ckpt)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
    return incremental_stream_kmv(spark, landing, out, ckpt)
