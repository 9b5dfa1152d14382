"""Benchmark harness and the one query runner: registry queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture) on
local[$SPARK_GRAFT_CPUS].

    python bench.py                                # the HEADLINE suite
    python bench.py --heavy                        # the sf1-tier list
    python bench.py --queries a,b --reps 2 --plans TAG

Prints TWO JSON lines: the full record first
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": <sf>, "cpus": <n>,
   "layers": {name: [record per rep]}}
(also written to $SPARK_GRAFT_BENCH_OUT, default BENCH_LOCAL.json),
then a compact totals line with the five slowest queries.

Each query is forced end-to-end with the noop writer (full plan
execution, no driver-side collect) — the number measures the engine,
not result serialization. A query's time is its best rep; with the
default one rep that is its one in-session run. The layer record of
each rep (jobs, stages, tasks, executor run/CPU time, GC, input,
shuffle and spill bytes, driver-only time) is read from Spark's status
store after the timer stops, with the count of classes Spark's code
generator compiled in the timed region.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import sys
import time

from osarchiver_spark.queries import all_queries
from osarchiver_spark.session import get_spark

# Headline set: archival core + heavy relational + window/time-series
# + north-star ops as they land.
HEADLINE = [
    "retention_filter",
    "retention_remaining",
    "archive_idempotent",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "outer_join_agg",
    "distinct_agg",
    "latest_event_per_user",
    "sessionize",
    "tumbling_window",
    "sliding_window",
    "asof_join",
    "percentiles",
    "q17_small_quantity",
    "q9_product_profit",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "range_frame",
    "streaming_tumbling",
    "streaming_vector_maintenance",
    # north-star (registered as they are implemented)
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_xxhash64",
    "dedup_simhash",
    "dedup_simhash_multiprobe",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_substring_spans",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "entity_resolution",
    "dedup_embedding",
    "dedup_embedding_incremental",
    "semdedup",
    "knn_bruteforce",
    "hard_negatives",
    "knn_lsh",
    "knn_ivf",
    "knn_ivf_reindexed",
    "knn_ivf_pq_reindexed",
    "corpus_pipeline",
    "training_mix_report",
    "tfidf_top_terms",
    "vocab_coverage",
    "token_budget_sample",
    "lr_train",
    "als_factors",
    "adaboost_train",
    "unigram_logprob",
    "pii_scrub",
    "label_centroids",
    "sequence_pack",
    "hashed_features",
    "numeric_stats",
    "profile_table",
    "dq_checks",
    "psi_drift",
    "contamination_check",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "doc_chunks",
    "multimodal_metadata",
    "image_resize",
    "audio_features",
    # round-3 behavioral / layout / corpus additions
    "funnel_analysis",
    "cohort_retention",
    "event_cooccurrence",
    "incremental_rollup",
    "winsorize_events",
    "markov_transitions",
    "time_weighted_avg",
    "cdc_apply",
    "zorder_locality",
    "source_divergence",
    "bpe_merge_step",
    "bpe_train",
    "bpe_segment",
    # round-4 additions
    "pagerank",
    "boilerplate_lines",
    "inverted_index",
    "streaming_static_enrich",
    "attribution_last_touch",
    "distinct_rollup_merge",
    "streaming_incremental_rollup",
    "knn_ivf_pq",
    "split_leakage_free",
    "bigram_logprob",
    "interpolated_logprob",
    "weighted_sample",
    "kmv_distinct",
    "knn_label_vote",
    "streaming_kmv",
    "sampled_percentiles",
    # round-4 (second wave) additions
    "approx_sketches",
    "bm25_retrieval",
    "rrf_fusion",
    "stratified_sample_exact",
    "rejection_resample_hour",
    "padding_waste_report",
    "embedding_outliers",
    "split_contamination_report",
    "ngram_novelty",
    "target_encode_loo",
    "attribution_time_decay",
    "quantile_normalize",
    "point_in_time_features",
    "label_horizon",
    "ab_test_report",
    "survival_curve",
    "lang_confusion",
    # round-8 additions
    "knn_ivf_indexed",
    # round-9 additions
    "knn_ivf_pq_indexed",
    # round-11 additions
    "index_health",
]

# The sf1 evidence tier: the heaviest headline queries, run at 10x the
# fixture rows (tools/make_scale_fixture.py) and at two core counts so
# per-query ratios show which queries scale with data.
HEAVY = [
    "q1_pricing_summary",
    "approx_sketches",
    "sampled_percentiles",
    "lr_train",
    "adaboost_train",
    "bpe_train",
    "bpe_segment",
    "dedup_simhash_multiprobe",
    "dedup_minhash_lsh",
    "pagerank",
    "knn_ivf_indexed",
    "knn_ivf_pq_indexed",
    "knn_ivf_reindexed",
    "knn_ivf_pq_reindexed",
]


def _ann_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from osarchiver_spark.queries.similarity import QUERY_MOD
    from osarchiver_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") % QUERY_MOD == 0)


def _knn_lsh_production(spark, sf_dir):
    from osarchiver_spark.operators.similarity import lsh_topk
    from osarchiver_spark.queries.similarity import EMBED_DIM, TOP_K

    emb, queries = _ann_queries(spark, sf_dir)
    return lsh_topk(
        emb, queries, "vec_id", "embedding", dim=EMBED_DIM, k=TOP_K, probe_hamming=2
    )


def _knn_ivf_production(spark, sf_dir):
    from osarchiver_spark.operators.ivf import ivf_topk
    from osarchiver_spark.queries.similarity import TOP_K

    emb, queries = _ann_queries(spark, sf_dir)
    return ivf_topk(emb, queries, "vec_id", "embedding", k=TOP_K, n_clusters=16, nprobe=4)


def _knn_ivf_pq_production(spark, sf_dir):
    from osarchiver_spark.operators.pq import ivf_pq_topk
    from osarchiver_spark.queries.similarity import TOP_K

    emb, queries = _ann_queries(spark, sf_dir)
    return ivf_pq_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=TOP_K,
        n_clusters=16,
        nprobe=4,
        shortlist=32,
        # codebooks train on a ~4k-vector hash sample (the at-scale
        # build path); the encode/search passes still cover everything
        train_sample=4096,
    )


def _knn_ivf_pq_indexed_production(spark, sf_dir):
    """The persisted COMPRESSED-index chain at production depth: the
    SAME ann_chain as the registered query (no drift), probed at
    nprobe=4/16 + shortlist=32 — the partition-pruned byte-sized
    serving read."""
    from osarchiver_spark.queries.similarity import ann_chain, pq_codec

    _, queries = _ann_queries(spark, sf_dir)
    return ann_chain(
        spark, sf_dir, queries, pq_codec(32), nprobe=4, dir_prefix="ivfpq_bench_"
    )


def _dedup_embedding_production(spark, sf_dir):
    from osarchiver_spark.operators.dedup import embedding_lsh_neardup_auto
    from osarchiver_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_lsh_neardup_auto(emb, "vec_id", "embedding")


def _dedup_embedding_incremental_production(spark, sf_dir):
    from pyspark.sql import functions as F

    from osarchiver_spark.operators.dedup import auto_planes, embedding_lsh_incremental
    from osarchiver_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 3)
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    return embedding_lsh_incremental(
        corpus,
        new,
        "vec_id",
        "embedding",
        threshold=0.9,
        n_tables=32,
        planes_per_table=auto_planes(emb.count()),
    )


def _knn_ivf_indexed_production(spark, sf_dir):
    """The persisted-index chain at production probe depth: the SAME
    ann_chain as the registered query (so the benched path cannot
    drift), probed at nprobe=4/16 (partition-pruned read) instead of
    full-recall oracle depth."""
    from osarchiver_spark.queries.similarity import IVF_CODEC, ann_chain

    _, queries = _ann_queries(spark, sf_dir)
    return ann_chain(spark, sf_dir, queries, IVF_CODEC, nprobe=4, dir_prefix="ivf_bench_")


def _knn_ivf_pq_reindexed_production(spark, sf_dir):
    """The PQ retrain/migration chain at production depth: the SAME
    ann_chain migrate shape as the registered query, probing the
    migrated code store at nprobe=4/16 + shortlist=32."""
    from osarchiver_spark.queries.similarity import ann_chain, pq_codec

    _, queries = _ann_queries(spark, sf_dir)
    return ann_chain(
        spark, sf_dir, queries, pq_codec(32), nprobe=4,
        dir_prefix="ivfpq_reidx_bench_", migrate=True,
    )


def _knn_ivf_reindexed_production(spark, sf_dir):
    """The retrain/migration chain at production probe depth: the SAME
    ann_chain migrate shape as the registered query, probing the
    MIGRATED store at nprobe=4/16."""
    from osarchiver_spark.queries.similarity import IVF_CODEC, ann_chain

    _, queries = _ann_queries(spark, sf_dir)
    return ann_chain(
        spark, sf_dir, queries, IVF_CODEC, nprobe=4,
        dir_prefix="ivf_reidx_bench_", migrate=True,
    )


def _semdedup_production(spark, sf_dir):
    from osarchiver_spark.operators.semdedup import semdedup_losers
    from osarchiver_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # the SemDeDup paper's contract made executable: k tracks corpus
    # size so mean cluster width stays ~512 (fixture k=8 is the
    # oracle-replay mode; at 200k+ vectors it leaves 25k-wide
    # clusters -> quadratic in-cluster grams)
    k = max(8, emb.count() // 512)
    return semdedup_losers(
        emb, "vec_id", "embedding", threshold=0.9, n_clusters=k, iters=2, quantize=6
    )


def _simhash_multiprobe_production(spark, sf_dir):
    from osarchiver_spark.operators.dedup import simhash64_multiprobe_pairs
    from osarchiver_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    return simhash64_multiprobe_pairs(docs, "doc_id", "text", max_hamming=3)


# name -> callable overriding the registry entry for benching. The
# registered ANN queries run at full-recall ORACLE parameters (probe
# everything) so they can share the exact brute-force oracle — a path
# no deployment runs. The bench measures the production serving
# parameters (pruning on; recall pinned in tests/test_similarity.py,
# tests/test_ivf.py, tests/test_pq.py), which is also what BENCH_r02
# measured before the oracle modes landed. dedup_simhash_multiprobe
# follows the same split: the registered 16-bit sketch is the
# oracle-exact mode, but its 5-6-bit block keys go quadratic past
# ~1e5 docs (measured: multi-hour stall at sf10), so the bench runs
# the 64-bit production parameterization
# (operators/dedup.py::simhash64_multiprobe_pairs).
BENCH_OVERRIDES = {
    "knn_lsh": _knn_lsh_production,
    "knn_ivf": _knn_ivf_production,
    "knn_ivf_pq": _knn_ivf_pq_production,
    "knn_ivf_indexed": _knn_ivf_indexed_production,
    "knn_ivf_reindexed": _knn_ivf_reindexed_production,
    "knn_ivf_pq_reindexed": _knn_ivf_pq_reindexed_production,
    "knn_ivf_pq_indexed": _knn_ivf_pq_indexed_production,
    "dedup_simhash_multiprobe": _simhash_multiprobe_production,
    # registered embedding-LSH queries run the swept full-recall
    # (b=6, L=64, thr=0.45) oracle parameters; b=6 = 64 buckets/table
    # goes quadratic past ~1e5 vectors (sf10-measured stall). The
    # production forms size b from a corpus count (auto_planes) at
    # the production near-dup threshold 0.9; recall pinned in
    # tests/test_similarity.py::test_embedding_auto_recall.
    "dedup_embedding": _dedup_embedding_production,
    "dedup_embedding_incremental": _dedup_embedding_incremental_production,
    "semdedup": _semdedup_production,
}


def warm(spark) -> None:
    """One-time session warm-up, run before any timed query."""
    # warm the session (JVM codegen, noop datasource registration,
    # Python worker pool) so query timings measure the engine, not
    # first-use setup
    spark.range(1_000).selectExpr("sum(id) as s").write.format("noop").mode("overwrite").save()
    # ... and the Arrow/Python worker pool, which otherwise taxes the
    # first pandas-UDF query with ~seconds of interpreter spin-up
    import pandas as _pd  # noqa: F401

    spark.range(1_000).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # ... and the heavier engine subsystems the suite exercises, so
    # the FIRST query of each family times the engine, not its
    # one-time class-loading/codegen spin-up (measured r11: the first
    # stateful streaming query pays a ~14 s cold premium that a 6 s
    # one-time warm-up removes; cogroup/window paths show the same
    # pattern at ~0.5-1 s): one tiny stateful streaming lifecycle
    # (state store + checkpoint + foreachBatch), one cogroup
    # applyInPandas, one window function.
    import tempfile as _tempfile
    import uuid as _uuid

    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _warm_root = os.path.join(
        _tempfile.gettempdir(), f"bench_warm_{_uuid.uuid4().hex[:8]}"
    )
    spark.range(100).select(
        _F.col("id"), _F.lit("2020-01-01 00:00:00").cast("timestamp").alias("ts")
    ).write.parquet(f"{_warm_root}/in")
    _sdf = (
        spark.readStream.format("parquet")
        .schema("id long, ts timestamp")
        .load(f"{_warm_root}/in")
        .withWatermark("ts", "1 hour")
        .groupBy(_F.window("ts", "1 hour"))
        .agg(_F.count("*").alias("n"))
    )
    _q = (
        _sdf.writeStream.outputMode("complete")
        .foreachBatch(
            lambda bdf, eid: bdf.write.mode("overwrite").parquet(f"{_warm_root}/out")
        )
        .option("checkpointLocation", f"{_warm_root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _q.awaitTermination()
    _half = spark.range(200).select(
        (_F.col("id") % 4).cast("int").alias("k"), _F.col("id").alias("v")
    )
    _half.groupBy("k").cogroup(_half.groupBy("k")).applyInPandas(
        lambda left, right: left, schema="k int, v long"
    ).write.format("noop").mode("overwrite").save()
    spark.range(1_000).select(
        _F.col("id"),
        _F.row_number()
        .over(_W.partitionBy(_F.col("id") % 7).orderBy("id"))
        .alias("rn"),
    ).write.format("noop").mode("overwrite").save()
    import shutil as _shutil

    _shutil.rmtree(_warm_root, ignore_errors=True)


def resolve(names: list[str]) -> dict:
    """name -> the callable the bench times (its production override,
    else the registry entry). Raises ``ValueError`` naming every
    unknown name; needs no session, so it fails before any Spark work."""
    registry = all_queries()
    unknown = [n for n in names if n not in BENCH_OVERRIDES and n not in registry]
    if unknown:
        raise ValueError(f"unknown query names: {unknown}")
    return {n: BENCH_OVERRIDES.get(n) or registry[n] for n in names}


def run(spark, names, sf_dir, reps=1, plans_dir=None) -> dict[str, list[dict]]:
    """Time each query ``reps`` times; returns ``{name: [record per
    rep]}``. A record holds ``wall_s`` (plan construction + noop-write
    execution, exactly the timed region), the Spark layer metrics of
    the query's job group, ``driver_only_s`` (wall minus the union of
    its stage spans) and ``record_s`` (the time setting the group and
    reading the metrics took, all of it outside the timer). With
    ``plans_dir`` set, rep 0 writes the formatted plan to
    ``<plans_dir>/<name>.txt``."""
    fns = resolve(names)
    from perfbench.probe import SparkObserver, union_length

    observer = SparkObserver(spark)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # drain the listener bus so jobs run before this call (the warm-up)
    # are marked seen and never counted as a query's ungrouped jobs
    observer.jobs(None)
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    layers: dict[str, list[dict]] = {}
    for name, fn in fns.items():
        layers[name] = []
        for rep in range(reps):
            group = f"bench:{name}:{rep}"
            b0 = time.perf_counter()
            observer.begin(group)
            compiles0 = compiles.getCount()
            begin_s = time.perf_counter() - b0
            start = time.time()
            # time plan construction + execution: streaming queries (and
            # any operator with eager substeps) do real work inside fn()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.perf_counter() - t0, 3)
            t1 = time.perf_counter()
            compiled = compiles.getCount() - compiles0
            rec = observer.record(group)
            stages = [(s, e) for _, _, s, e in rec.pop("stage_spans") if e is not None]
            del rec["job_spans"]
            rec["driver_only_s"] = wall - union_length(stages, start, start + wall)
            rec["wall_s"] = wall
            rec["codegen_compiles"] = compiled
            rec["record_s"] = begin_s + time.perf_counter() - t1
            layers[name].append(
                {k: round(v, 3) if k.endswith("_s") else int(v) for k, v in rec.items()}
            )
            if plans_dir and rep == 0:
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(
                        df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        )
                    )
            # operator-escaping intermediates are transient (auto-released
            # localCheckpoint) since round 4 and trainers self-release, so
            # this is a belt-and-braces guard: any future caller-contract
            # persist is dropped here so query N's cache residue can't tax
            # query N+1 (each timing stands alone); the no-accumulation
            # pin in tests/test_plans.py keeps the registry honest
            spark.catalog.clearCache()
            # transient (localCheckpoint) blocks and broadcasts only free
            # once the PYTHON references are collected (the ContextCleaner
            # acts on JVM weak refs that py4j keeps alive until then) — an
            # explicit collect stops query N's executor-storage residue
            # from aging the session under queries N+1.. (r11 optimization
            # round: isolated steady-state vs in-suite gap was 1.5-2x)
            del df
            gc.collect()
    return layers


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    which = parser.add_mutually_exclusive_group()
    which.add_argument("--queries", help="comma-separated query names (default: HEADLINE)")
    which.add_argument("--heavy", action="store_true", help="run the sf1-tier list HEAVY")
    parser.add_argument("--reps", type=int, default=1, help="timed runs per query (default 1)")
    parser.add_argument("--plans", metavar="TAG", help="write rep-0 plans to plans/TAG/<name>.txt")
    args = parser.parse_args(argv)
    names = HEAVY if args.heavy else args.queries.split(",") if args.queries else HEADLINE
    if args.reps < 1:
        parser.error("--reps must be at least 1")
    try:
        resolve(names)
    except ValueError as exc:
        parser.error(str(exc))
    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("osarchiver_spark_bench")
    warm(spark)
    plans_dir = os.path.join(here, "plans", args.plans) if args.plans else None
    layers = run(spark, names, sf_dir, args.reps, plans_dir)
    timings = {name: min(r["wall_s"] for r in recs) for name, recs in layers.items()}
    total = round(sum(timings.values()), 3)
    full = json.dumps(
        {
            "metric": "osarchiver_spark headline suite wall time",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
            "layers": layers,
        }
    )
    # The external driver captures only the stdout TAIL and parses the
    # final JSON line. The full per-query map outgrew that window at
    # 109 queries (BENCH_r08 recorded parsed:null), so the framing is:
    # full line FIRST (history/humans), compact totals line LAST (the
    # driver's record). Per-query history also persists in-repo; set
    # SPARK_GRAFT_BENCH_OUT to choose the file (e.g. BENCH_LOCAL_r9).
    print(full)
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try:
        with open(os.path.join(here, out_path), "w") as f:
            f.write(full + "\n")
    except OSError:
        pass  # read-only checkout: stdout still carries the line
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "osarchiver_spark headline suite wall time",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": slowest,
                "queries_file": out_path,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
