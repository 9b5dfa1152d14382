"""Structured Streaming pipelines (SURVEY §2.9 — absent in the
reference, required for a complete engine).

The reference's 'incrementality' is keyset pagination inside one
batch run; the Spark-native continuous form is a file-source stream:
new parquet files appear → micro-batch → watermarked windowed aggs /
archival sinks. Tests drive these to completion synchronously with
``processAllAvailable`` on the fixture files, so the streaming
operators are oracle-checkable against the same ANSI SQL as their
batch twins.

Scale notes: watermarks bound state (late events beyond 1h are
dropped from state); ``foreachBatch`` archival gives exactly-once
per-sink semantics via the micro-batch epoch id; checkpointing makes
the whole pipeline restartable — the moral upgrade of the reference's
"re-run is idempotent" design.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark import storage
from osarchiver_spark.functions.precision import cent_sum
from osarchiver_spark.sources.parquet import table_path

#: Streaming state-store partition sizing (r11 optimization round).
#: A stateful streaming operator creates ONE state-store instance per
#: shuffle partition, each paying fixed per-micro-batch overhead
#: (delta/commit files, snapshot+maintenance work, and for the
#: applyInPandasWithState ops a Python worker round-trip) that is
#: INDEPENDENT of how much state it holds. Sizing the streaming
#: shuffle to the session's batch parallelism (32 here) therefore
#: buys nothing for the suite's window/sketch aggs — whose whole
#: state is O(100) rows — and costs 4x the per-batch fixed work:
#: measured at sf0.1, streaming_incremental_rollup 6.6 s -> 2.5 s and
#: streaming_tumbling 2.0 s -> 1.2 s at 8 partitions (guide §2.2
#: "fewer, larger partitions"; state stores are partitions whose
#: per-unit overhead is unusually high). The right count scales with
#: STATE VOLUME, not cores — so the default is a constant, identical
#: under the driver's lower-core bench run, and a genuinely large
#: deployment raises it via this env var (or keeps its own session
#: conf: the wrapper only narrows, never widens).
STREAM_STATE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"


def _stream_state_partitions() -> int:
    return int(os.environ.get(STREAM_STATE_PARTITIONS_ENV, "8"))


class stream_state_partitions:
    """Context manager: pin ``spark.sql.shuffle.partitions`` to the
    state-sized streaming value around a streaming query's
    plan+start+drain, restoring the session's batch value on exit.
    The partition count is captured into the query's checkpoint at
    first start, so resumed/incremental runs stay self-consistent
    regardless of the session value at resume time. Only narrows:
    a session already at or below the target is left untouched.

    Concurrency contract (ADVICE r11): the narrowed value is
    session-global for the drain window, so a batch job planned from
    ANOTHER driver thread during that window would silently run at
    the streaming partition count. Every drain in this package runs
    single-threaded on its query's critical path: the §2.6 thread
    overlaps all go through ``session.concurrently`` (the archive
    fan-out and lookahead, the ANN/dedup builders, the vector store's
    per-epoch append), and none of them runs around a narrowed drain.
    Callers embedding these drains in their own driver threads must
    either serialize them with concurrent batch planning or build the
    streaming frame in a cloned session (``spark.newSession()``) and
    narrow that clone instead."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        target = _stream_state_partitions()
        if int(self.prev) > target:
            self.spark.conf.set("spark.sql.shuffle.partitions", str(target))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def drain_stream_to_parquet(
    df: DataFrame, output_mode: str, name_prefix: str
) -> DataFrame:
    """Run a streaming DataFrame to completion and hand back its
    output as a BATCH DataFrame — without copying results through the
    driver: each micro-batch writes parquet via foreachBatch
    (overwrite for complete mode, append otherwise), and the result
    is a lazy scan of that directory.

    Scratch location: $SPARK_GRAFT_STREAM_SCRATCH or the local temp
    dir — on a multi-node cluster point it at a shared filesystem URI
    (executors write the parts there directly; existence is probed
    through the Hadoop FileSystem so s3a://-style URIs work too)."""
    spark = df.sparkSession
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH", tempfile.gettempdir())
    out_dir = f"{base.rstrip('/')}/{name_prefix}_{uuid.uuid4().hex[:8]}"
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def write_batch(batch_df: DataFrame, _epoch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    with stream_state_partitions(spark):
        q = df.writeStream.outputMode(output_mode).foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    if not storage.exists(spark, out_dir):  # stream produced no batches
        return spark.createDataFrame([], df.schema)
    return storage.read_parquet(spark, out_dir)

# Explicit schema: streaming sources never infer. ts is timestamp[us]
# (naive) in the fixture parquet; requesting TimestampType reads it as
# LTZ micros — identical wall-clock under the UTC session, same values
# the batch catalog produces.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def fixture_table_watch(sf_dir: str, table: str) -> tuple[str, str | None]:
    """(watch_dir, path_glob) for streaming over one fixture table.

    The file stream source watches a DIRECTORY (a real deployment
    watches a landing dir of arriving files). Driver fixtures store
    each table as a single FILE, so the stream watches the fixture dir
    with a pathGlobFilter; self-built scale fixtures
    (tools/make_scale_fixture.py) store the table as a Spark-written
    DIRECTORY of part files — there the glob-over-parent shape matches
    no file and the stream silently reads ZERO rows (found by the r07
    sf1 parity sweep: every stream-over-fixture query returned empty),
    so the table directory itself is watched instead."""
    table_dir = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(table_dir):
        return table_dir, None
    return sf_dir, f"{table}.parquet"


def fixture_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over one fixture table (watched as
    :func:`fixture_table_watch` says) with its declared schema.
    ``max_files_per_trigger`` splits a multi-file source into several
    micro-batches; ``None`` reads all available input in one."""
    from osarchiver_spark.sources.parquet import ensure_session_defaults

    ensure_session_defaults(spark)
    watch_dir, glob = fixture_table_watch(sf_dir, table)
    reader = spark.readStream.format("parquet").schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(watch_dir)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture with event-time column."""
    return fixture_stream(spark, sf_dir, "events", EVENTS_RAW_SCHEMA)


def streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count/sum per event_type, computed BY THE
    STREAMING ENGINE (watermark + window state), drained to a memory
    sink and returned as a batch DataFrame.

    Semantically identical to queries/windows.py::q_tumbling_window —
    the driver checks it against the same ANSI oracle, proving the
    streaming operator agrees with the batch plan.
    """
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), cent_sum(F.col("value")).alias("sum_value"))
    )
    return drain_stream_to_parquet(agg, "complete", "stream_out").select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


def streaming_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h window / 30 min slide) count+sum per
    event_type via the streaming engine — each event contributes to 2
    window states; matches the batch explode-formulation
    (queries/windows.py::q_sliding_window) and its oracle."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"), cent_sum(F.col("value")).alias("sum_value"))
    )
    return drain_stream_to_parquet(agg, "complete", "stream_slide").select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


def streaming_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user computed BY THE STREAMING
    ENGINE — F.session_window under readStream merges/extends session
    state as events arrive. Complete mode emits the final merged
    sessions so the finite fixture drains deterministically; a live
    deployment runs append mode where the watermark both bounds state
    and finalizes sessions older than the delay.

    Matches queries/windows.py::q_session_window and its
    gaps-and-islands oracle, proving the streaming session-merge state
    machine agrees with the batch plan."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), cent_sum(F.col("value")).alias("sum_value"))
    )
    return drain_stream_to_parquet(agg, "complete", "stream_sess").select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: the event
    stream joined per micro-batch to the (batch) customer ⋈ nation
    dimension, then aggregated to 1-hour tumbling counts per nation.

    This is the canonical dimension-enrichment pattern: the static
    side is a plain DataFrame re-resolved each micro-batch (so a
    dimension refresh is picked up without restarting the query), the
    join itself is STATELESS — only the windowed agg keeps state —
    and the explicit broadcast keeps the per-batch join shuffle-free:
    dims are the classic small side, and a 100 TB/day stream never
    reshuffles on the dim key. Oracle = the identical batch
    join+rollup SQL."""
    from osarchiver_spark.sources.parquet import load_table

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    dim = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation")
    )
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour"), "nation")
        .agg(F.count("*").alias("n"), cent_sum(F.col("value")).alias("sum_value"))
    )
    return drain_stream_to_parquet(agg, "complete", "stream_enrich").select(
        F.col("window.start").alias("window_start"), "nation", "n", "sum_value"
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each view joined to the same
    user's purchases within the following 4 hours, computed BY THE
    STREAMING ENGINE (both sides watermarked; the range condition
    gives Spark the bound it needs to expire join state — per-key
    state is O(events inside the watermark window), not the stream).

    The driver checks it against the equivalent batch interval-join
    SQL, proving the streaming state machine agrees with the batch
    plan."""
    ev = events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "4 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "8 hours")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 4 HOURS")),
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    return drain_stream_to_parquet(joined, "append", "stream_ij")


def outer_interval_join_stream(
    spark: SparkSession,
    sf_dir: str,
    join_type: str,
    range_hours: int = 4,
    view_delay_hours: int = 4,
    purchase_delay_hours: int = 8,
    margin_hours: int = 1,
) -> DataFrame:
    """Parameterized outer stream-stream interval join with the
    provably-final trim — the shared engine behind
    streaming_outer_interval_join / streaming_full_outer_interval_join
    and the hypothesis property test that sweeps ranges/watermarks
    (tests/test_streaming.py).

    The engine can only emit an unmatched row once the global
    watermark has passed that row's whole join range — rows near the
    end of a (finite) stream are still "maybe matched" when the source
    drains, so their NULL rows are not yet final. Query and batch
    oracle therefore trim to rows whose outer result is provably final
    against the FINAL GLOBAL WATERMARK = min(max view_ts - view_delay,
    max purchase_ts - purchase_delay) (the engine takes the min over
    every input's watermark): keep event_ts at or below that watermark
    minus the join range, less a safety margin so boundary-eviction
    semantics can't flip a row. On an unbounded production stream no
    trim exists — rows simply emit as the watermark moves; the cutoff
    is the finite-fixture equivalent.

    Trim scope by join type: leftOuter trims the VIEW side only — a
    matched purchase rides with its (final) view, and purchases can
    legitimately sit up to `range` past the view cutoff. fullOuter
    additionally trims the purchase side (NULL timestamps pass their
    side's check), because NULL-view purchase rows finalize on the
    purchase's own clock."""
    ev = events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", f"{view_delay_hours} hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{purchase_delay_hours} hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {range_hours} HOURS")
        ),
        join_type,
    ).select(
        "view_id",
        "purchase_id",
        F.coalesce(F.col("v_user_id"), F.col("p_user_id")).alias("user_id"),
        "view_ts",
        "purchase_ts",
    )
    drained = drain_stream_to_parquet(joined, "append", "stream_oij")
    from osarchiver_spark.sources.parquet import load_table

    # NULL-propagating min, NOT least(): least() ignores a missing
    # side, but an input with no rows leaves the engine's watermark at
    # epoch — NOTHING finalizes, so the provably-final region is empty
    # (a hypothesis sweep found this with an all-purchase stream)
    max_v = F.max(F.when(F.col("event_type") == "view", F.col("ts")))
    max_p = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    cutoff = F.when(
        max_v.isNotNull() & max_p.isNotNull(),
        F.least(
            max_v - F.expr(f"INTERVAL {view_delay_hours} HOURS"),
            max_p - F.expr(f"INTERVAL {purchase_delay_hours} HOURS"),
        )
        - F.expr(f"INTERVAL {range_hours + margin_hours} HOURS"),
    )
    bounds = load_table(spark, sf_dir, "events").agg(
        cutoff.alias("v_cutoff"), cutoff.alias("p_cutoff")
    )
    keep = F.col("view_ts").isNull() | (F.col("view_ts") <= F.col("v_cutoff"))
    if join_type == "fullOuter":
        keep = keep & (
            F.col("purchase_ts").isNull()
            | (F.col("purchase_ts") <= F.col("p_cutoff"))
        )
    return (
        drained.crossJoin(F.broadcast(bounds)).filter(keep).drop("v_cutoff", "p_cutoff")
    )


def streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view, with its
    same-user purchases in the following 4 hours, or NULLs when none
    arrived; trimmed to the provably-final region (see
    outer_interval_join_stream). The batch oracle applies the
    identical trim. Column shape is preserved from the original
    registration: user_id comes from the (always present) view side."""
    return outer_interval_join_stream(spark, sf_dir, "leftOuter").select(
        "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts"
    )


def streaming_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join: views with their
    following-4h purchases, plus NULL rows for views that never
    converted AND purchases no view preceded; per-side provably-final
    trims (see outer_interval_join_stream). The batch oracle applies
    identical trims."""
    return outer_interval_join_stream(spark, sf_dir, "fullOuter")


def incremental_stream_rollup(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint: str
) -> DataFrame:
    """One scheduled incremental run of a continuously-maintained
    rollup: ``trigger(availableNow)`` processes ONLY the landing-dir
    files no previous run has seen (the file-source log lives in the
    checkpoint), merges them into the windowed aggregate state carried
    in the same checkpoint, and rewrites the complete up-to-date
    rollup. Calling this on a schedule gives incremental materialized
    -view maintenance with exactly-once file tracking and restart
    safety — the streaming twin of the batch watermark incrementality
    in plans/watermark.py, with the bookkeeping done by the engine
    instead of by hand."""
    agg = (
        spark.readStream.format("parquet")
        .schema(EVENTS_RAW_SCHEMA)
        .load(landing_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), cent_sum(F.col("value")).alias("sum_value"))
    )

    def write_batch(batch_df: DataFrame, _epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    with stream_state_partitions(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return storage.read_parquet(spark, out_dir).select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form: stage the fixture's events as two file drops in
    a scratch landing dir, run TWO separate availableNow invocations
    against one checkpoint, and return the second run's rollup — the
    oracle (the plain batch SQL over ALL events) passes only if run 2
    read nothing but the new file yet merged it into run 1's window
    state correctly."""
    from osarchiver_spark.sources.parquet import load_table

    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH", tempfile.gettempdir())
    root = f"{base.rstrip('/')}/incr_rollup_{uuid.uuid4().hex[:8]}"
    landing, out, ckpt = f"{root}/landing", f"{root}/out", f"{root}/ckpt"
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)
    incremental_stream_rollup(spark, landing, out, ckpt)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
    return incremental_stream_rollup(spark, landing, out, ckpt)


def stream_archive(
    spark: SparkSession,
    sf_dir: str,
    dst_path: str,
    checkpoint: str,
    deleted_column: str = "ts",
    cutoff=None,
) -> None:
    """Streaming archival: the retention predicate applied per
    micro-batch, appended to the parquet archive via foreachBatch
    (epoch-id keyed, restartable from the checkpoint)."""
    src = events_stream(spark, sf_dir)
    if cutoff is not None:
        src = src.filter(F.col(deleted_column) <= F.lit(cutoff))

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(dst_path)

    q = (
        src.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
