"""SparkSession factory with scale-aware defaults, and the one
driver-thread overlap.

Local testing runs on local[N]; the same config block is what we'd
ship to a 1000-executor cluster (AQE on, adaptive coalesce, skew-join
handling, Arrow for the few Pandas-UDF paths). Shuffle partitions are
sized from the env so the driver's bench (local[$SPARK_GRAFT_CPUS])
doesn't over-parallelize tiny SFs.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(app_name: str = "osarchiver_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    AQE is enabled so runtime statistics re-plan joins (broadcast
    promotion, skew splitting, partition coalescing) — on a real
    cluster this is what keeps a 100 TB shuffle from being dominated
    by a skewed key or thousands of tiny reducers.

    Spark caches generated classes by source text in one JVM-wide LRU
    (``spark.sql.codegen.cache.maxEntries``, default 100). The engine
    runs the same plans again and again, and its working sets exceed
    100: the 12 ``analytics_mix`` perfbench ops need ~230 classes per
    pass and the sf0.01 headline suite 1,576 (measured, 4-core host).
    At 100 every pass recompiles them all (~10 ms of Janino per class
    on the driver's critical path), so the cap is 4096, over twice the
    suite's set; holding the suite's classes costs ~10 MB of metaspace.
    The cap is a static conf fixed by the first session in the JVM: a
    session the caller built itself (``__spark_entry__``) keeps
    Spark's default.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Older fixture builds store TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long, converted to micros in the catalog
        # (sources/parquet.py) to match DuckDB's truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Current fixture builds store naive timestamp[us]; read as
        # TIMESTAMP (LTZ, UTC session) rather than TIMESTAMP_NTZ so
        # epoch functions (unix_micros etc.) type-check and semantics
        # match DuckDB's naive-as-UTC interpretation.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def concurrently(spark: SparkSession, *calls: Callable[[], Any]) -> list:
    """Run independent Spark actions at once from the driver: Spark
    schedules jobs from several driver threads side by side, so legs
    that share no inputs need not wait for each other.

    ``calls[0]`` runs on the caller's thread, each of ``calls[1:]`` on
    its own side thread. Every side call is wrapped here, at call time,
    in ``inheritable_thread_target(spark)``: it runs with a copy of the
    caller's local properties, so its jobs carry the caller's job group
    (attributed to the caller's query, reached by ``cancelJobGroup``).
    Waits for every call, then raises the first exception in argument
    order, else returns the results in argument order."""
    failed: Exception | None = None
    with ThreadPoolExecutor(max_workers=max(len(calls) - 1, 1)) as pool:
        side = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls[1:]]
        try:
            head = calls[0]()
        except Exception as exc:  # re-raised once the side calls have drained
            failed = exc
    if failed is not None:
        raise failed
    return [head] + [f.result() for f in side]
