"""Index-health signals + the retrain/compact/no-op policy.

The IVF family keeps its model FROZEN between retrains
(operators/ivf.py), so an operator needs a cheap, measurable answer
to "when do I retrain?". The sf10 drift rehearsal (record in
BENCH_SF10_REINDEX.json, SCALE.md round 10; the retrain path is
queries/similarity.py::ann_chain's migrate shape) measured
the two signals that actually move under distribution drift — cell
occupancy skew (1.57 → 3.75 under a frozen model at 3 drifted
drops) and probe read amplification (per-query read fraction
0.26 → 0.44 vs a 0.25 balanced ideal). This module promotes those
measurements to a first-class operator:

- :func:`index_health` — one-row DataFrame of exact aggregates over
  a persisted cid-partitioned store (driver-adjudicated: the
  ``index_health`` registry entry replays the quantized k-means
  model + the probe's cell ranking as DuckDB CTEs);
- :func:`store_layout_stats` — filesystem-level fragmentation stats
  (files per partition — the compaction signal; one recursive
  listing);
- :func:`maintenance_decision` — the documented threshold policy:
  data drifted ⇒ ``retrain`` (reindex with a fresh model), layout
  fragmented ⇒ ``compact`` (physical rewrite, same data), else
  ``ok``;
- :func:`maintain_store` — measure, decide, and EXECUTE the
  ``compact`` branch (layout-preserving, via
  ``compact_partitioned_store``); ``retrain`` is returned as a
  signal, never auto-executed, because choosing the retrain corpus
  is an offline decision (operators/ivf.py::ivf_reindex is the
  migration path once a new model exists).

At 100 TB every metric here is a map-combinable aggregate over the
store (occupancy counts are k-sized, the probe output is
|queries|·nprobe rows) plus one filesystem listing — the health
check costs a scan-less metadata pass plus one cheap aggregation
job, never a rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark import storage

#: policy defaults — chosen from the sf10 drift rehearsal's measured
#: trajectory: a healthy fresh build sits at skew ≈1.3–1.6 and
#: per-query read ≈ the balanced nprobe/k ideal; the 3-drop drifted
#: store hit skew 3.75 and 1.76× read amplification. Retrain fires
#: between the two regimes; compaction fires when a probe of one cell
#: plans ≥8 files (scan planning starts to rival data read).
SKEW_RETRAIN = 3.0
READ_AMP_RETRAIN = 1.5
FILES_PER_PARTITION_COMPACT = 8


def index_health(
    spark: SparkSession,
    store_dir: str,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """One-row health report over a persisted cid-partitioned store:

    - ``n_cells`` / ``n_vectors`` — occupancy shape;
    - ``cell_skew`` — max cell size / mean cell size (≥1; drifted
      mass piles into the frozen model's nearest cells);
    - ``union_read_frac`` — fraction of store rows contained in the
      union of the query batch's probed cells;
    - ``mean_query_read_frac`` — mean per-query fraction (the serving
      cost: at 100 TB this IS what a probe reads);
    - ``balanced_read_frac`` — the nprobe/n_cells ideal the two read
      fractions are judged against.

    All exact integer aggregates with one final float division each
    (rounded to 6), which is what makes the registry entry
    oracle-checkable bit-for-bit. Works on full-vector AND PQ-code
    stores (only ``cid`` is read from the store)."""
    from osarchiver_spark.operators.ivf import _probe_pandas, query_frame

    store = storage.read_parquet(spark, store_dir).withColumn(
        "cid", F.col("cid").cast("int")
    )
    occ = store.groupBy("cid").agg(F.count("*").alias("n"))
    stats = occ.agg(
        F.count("*").alias("n_cells"),
        F.sum("n").alias("n_vectors"),
        F.max("n").alias("max_cell"),
    )
    probed = _probe_pandas(query_frame(queries, id_col, vec_col), centroids, nprobe).select(
        "query_id", "cid"
    )
    union_rows = (
        occ.join(probed.select("cid").distinct(), "cid")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("union_rows"))
    )
    mean_q = (
        probed.join(occ, "cid", "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("q_rows"))
        # empty query sample -> avg over zero rows is NULL; report 0.0
        # so the policy reads "no probe traffic", never a None crash
        .agg(F.coalesce(F.avg("q_rows"), F.lit(0.0)).alias("mean_q_rows"))
    )
    return (
        stats.crossJoin(union_rows)
        .crossJoin(mean_q)
        .select(
            F.col("n_cells"),
            F.col("n_vectors"),
            # max/mean as one division: max*k/total (exact ints in)
            F.round(
                F.col("max_cell") * F.col("n_cells") / F.col("n_vectors"), 6
            ).alias("cell_skew"),
            F.round(F.col("union_rows") / F.col("n_vectors"), 6).alias(
                "union_read_frac"
            ),
            F.round(F.col("mean_q_rows") / F.col("n_vectors"), 6).alias(
                "mean_query_read_frac"
            ),
            F.round(F.lit(float(nprobe)) / F.col("n_cells"), 6).alias(
                "balanced_read_frac"
            ),
        )
    )


def store_layout_stats(spark: SparkSession, path: str) -> dict:
    """Filesystem fragmentation stats for a hive-partitioned store:
    (n_partitions, n_files, max_files_per_partition, total_bytes,
    max_file_bytes). One recursive listing, no data read."""
    per_part: dict[str, int] = {}
    n_files = total = max_file = 0
    for f, size in storage.list_files(spark, path):
        parent = f.rsplit("/", 2)[-2]
        per_part[parent] = per_part.get(parent, 0) + 1
        n_files += 1
        total += size
        max_file = max(max_file, size)
    return {
        "n_partitions": len(per_part),
        "n_files": n_files,
        "max_files_per_partition": max(per_part.values()) if per_part else 0,
        "total_bytes": total,
        "max_file_bytes": max_file,
    }


def maintenance_decision(
    health: dict,
    layout: dict | None = None,
    *,
    skew_retrain: float = SKEW_RETRAIN,
    read_amp_retrain: float = READ_AMP_RETRAIN,
    files_per_partition_compact: int = FILES_PER_PARTITION_COMPACT,
) -> str:
    """The threshold policy: ``retrain`` > ``compact`` > ``ok``.

    Retrain when the DATA outgrew the model — occupancy skew past
    ``skew_retrain``, or the mean per-query read fraction past
    ``read_amp_retrain``× the balanced ideal (on co-drifting data
    recall stays flat while every probe reads ever-hotter cells, so
    read amplification fires first — the sf10 rehearsal's finding).
    Compact when only the LAYOUT degraded: any partition holding
    ``files_per_partition_compact``+ files. Retrain wins when both
    fire (reindexing rewrites the layout anyway)."""
    if health["cell_skew"] >= skew_retrain:
        return "retrain"
    mean_read = health["mean_query_read_frac"] or 0.0  # None-safe: an
    # empty query sample means "no probe-traffic signal", not a crash
    if mean_read >= read_amp_retrain * health["balanced_read_frac"]:
        return "retrain"
    if (
        layout is not None
        and layout["max_files_per_partition"] >= files_per_partition_compact
    ):
        return "compact"
    return "ok"


def maintain_store(
    spark: SparkSession,
    store_dir: str,
    centroids: list[list[float]],
    *,
    index_dir: str | None = None,
    queries: DataFrame | None = None,
    id_col: str = "neighbor_id",
    vec_col: str = "v",
    nprobe: int = 4,
    target_bytes: int = 128 * 1024 * 1024,
    skew_retrain: float = SKEW_RETRAIN,
    read_amp_retrain: float = READ_AMP_RETRAIN,
    files_per_partition_compact: int = FILES_PER_PARTITION_COMPACT,
) -> dict:
    """Measure → decide → execute the safe branch. Returns
    {"decision", health metrics, layout stats, "compacted"}.

    ``queries`` defaults to the store's own vectors (a probe-shaped
    self-sample) — only valid for full-vector stores; pass explicit
    queries for a PQ-code store. ``compact`` is executed in place
    (layout-preserving, crash-safe swap) on the store and, when
    given, the dedup index; ``retrain`` is a returned signal (pick a
    corpus, kmeans_fit, then ivf_reindex / ivf_pq_reindex)."""
    from osarchiver_spark.operators.maintenance import compact_partitioned_store

    if queries is None:
        store = storage.read_parquet(spark, store_dir)
        if vec_col not in store.columns:
            raise ValueError(
                f"store {store_dir} has no '{vec_col}' column (PQ-code "
                f"store?): pass explicit full-vector queries"
            )
        queries = store.select(id_col, vec_col)
    health = (
        index_health(
            spark, store_dir, centroids, queries, id_col, vec_col, nprobe
        )
        .first()
        .asDict()
    )
    layout = store_layout_stats(spark, store_dir)
    # the dedup INDEX fragments faster than the store (every epoch
    # appends ALL its cells there, survivors or not) and it is probed
    # partition-pruned too — its worst cell counts toward the trigger
    idx_layout = (
        store_layout_stats(spark, index_dir) if index_dir is not None else None
    )
    trigger_layout = dict(layout)
    if idx_layout is not None:
        trigger_layout["max_files_per_partition"] = max(
            layout["max_files_per_partition"],
            idx_layout["max_files_per_partition"],
        )
    decision = maintenance_decision(
        health,
        trigger_layout,
        skew_retrain=skew_retrain,
        read_amp_retrain=read_amp_retrain,
        files_per_partition_compact=files_per_partition_compact,
    )
    report = {"decision": decision, "compacted": False, **health, **layout}
    if idx_layout is not None:
        report["index_max_files_per_partition"] = idx_layout[
            "max_files_per_partition"
        ]
    if decision == "compact":
        compact_partitioned_store(spark, store_dir, "cid", target_bytes)
        if index_dir is not None:
            compact_partitioned_store(spark, index_dir, "cid", target_bytes)
        report["compacted"] = True
    return report
