"""Physical-plan regression tests: the scale properties that make
this engine viable at 100 TB must be visible in the plan, not just
hoped for — predicate pushdown into the parquet scan, column pruning,
broadcast joins for dimensions, partial (map-side) aggregation."""

from __future__ import annotations

import contextlib
import io

import pytest

from osarchiver_spark.queries import all_queries

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry_frames(spark):
    """Every registry query's DataFrame, built ONCE for the whole
    module (r12 optimization round): the registry-wide plan audit and
    the scalar-output sweep each re-built all ~220 frames — and
    building a frame runs its EAGER substeps (k-means fits, store
    writes, streaming drains), so the duplicate build cost ~65 s of
    suite wall. Plan/schema inspection is read-only, so one shared
    build serves both."""
    frames = {}
    for name, fn in sorted(all_queries().items()):
        frames[name] = fn(spark, SF)
        spark.catalog.clearCache()
    return frames


def _formatted(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_retention_filter_pushes_down(spark):
    plan = _formatted(spark, "retention_filter")
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThanOrEqual(o_orderdate" in plan


def test_q1_prunes_columns(spark):
    plan = _formatted(spark, "q1_pricing_summary")
    # only the 7 needed columns reach the scan — no l_orderkey etc.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q1_partial_aggregation(spark):
    plan = _formatted(spark, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_star_joins_broadcast(spark):
    plan = _formatted(spark, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 4  # dims broadcast, no sort-merge storm
    assert "CartesianProduct" not in plan


def test_anti_join_delete_strategy(spark):
    plan = _formatted(spark, "retention_remaining")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_knn_bruteforce_streams_corpus_once(spark):
    plan = _formatted(spark, "knn_bruteforce")
    # bounded query set rides in the task closure; the corpus streams
    # through one BLAS scoring pass — no join of any kind, and no
    # per-pair row blowup
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_dedup_embedding_is_bucketed(spark):
    # the registered embedding-dedup query must never cross-join the
    # corpus against itself: candidates come from LSH bucket groups
    # (brute force survives only as the pytest baseline operator)
    plan = _formatted(spark, "dedup_embedding")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # within-bucket BLAS verify


def test_dedup_embedding_checkpoints_base_not_the_fanout(spark):
    # the only pinned relation may be the n-row (vid, v) base — never
    # the n·L keyed fan-out, which is 33x larger at the sf10 rehearsal
    # (3955 MiB vs 119 MiB). Consumers re-derive the bucket keys from
    # base with one BLAS projection instead of re-reading a fat
    # checkpoint, and the hot-bucket census runs over vectors only.
    plan = _formatted(spark, "dedup_embedding")
    ckpt_lines = [
        line
        for line in plan.splitlines()
        if "localCheckpoint" in line and "MapPartitionsRDD" in line
    ]
    assert ckpt_lines, "expected the checkpointed base relation in the plan"
    for line in ckpt_lines:
        assert "table_idx" not in line and "bucket" not in line, (
            f"fat keyed fan-out is checkpointed again: {line}"
        )


def test_dedup_incremental_broadcasts_the_new_side(spark):
    # arrival-vs-corpus dedup: the small new batch must broadcast so
    # the corpus band probe is a map-side hash join — a shuffle of the
    # corpus here would make every incremental run cost a full-corpus
    # exchange at 100 TB
    plan = _formatted(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the corpus side of the band-probe join must not be exchanged:
    # every SortMergeJoin (shuffle join) in this plan would drag the
    # banded corpus through a network shuffle
    assert "SortMergeJoin" not in plan


def test_dedup_embedding_incremental_is_a_fused_joinless_probe(spark):
    # the new batch ships as a Spark BROADCAST VARIABLE (model-shaped,
    # like the hyperplane matrix), so the plan must be a single fused
    # corpus pass: scan → MapInPandas, with NO join operator of any
    # kind and no corpus exchange beyond the toy-fixture parallelism
    # widening — bucketize, probe, and verify all happen inside one
    # Python stage and only above-threshold survivors leave it
    plan = _formatted(spark, "dedup_embedding_incremental")
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_tpch_star_joins_have_no_cartesian(spark):
    # q7/q8/q9: multi-nation star joins must resolve to hash joins
    # with broadcast dims — a cross product would explode at scale
    for name in ["q7_volume_shipping", "q8_market_share", "q9_product_profit"]:
        plan = _formatted(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_every_tpch_query_is_cross_product_free(spark):
    # the only nested-loop joins allowed are one-row scalar-subquery
    # broadcasts (q11/q22); a CartesianProduct anywhere is a scale bug
    from osarchiver_spark.queries import tpch

    for name in tpch.QUERIES:
        plan = _formatted(spark, name)
        assert "CartesianProduct" not in plan, name


def test_q21_decorrelates_to_order_grained_aggregates(spark):
    # the EXISTS/NOT EXISTS pair must compile to per-order aggregates
    # (sole-late-supplier + distinct-supplier count) — the sf10
    # rehearsal measured the semi/anti self-join form at 168 s from
    # three lineitem-wide exchanges; the aggregate form keeps exactly
    # one scan-side shuffle of the fact table per aggregate and
    # map-side partial aggregation on both
    plan = _formatted(spark, "q21_waiting_supplier")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_q18_having_filter_before_join(spark):
    # the grouped-having output is small: it must join hash-style,
    # and lineitem's scan must not drag unneeded columns
    plan = _formatted(spark, "q18_large_volume_customer")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan  # map-side combine in the having agg


def test_contamination_join_broadcasts_benchmark(spark):
    plan = _formatted(spark, "contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sampling_queries_stay_jvm_side(spark):
    for name in ["sample_split", "class_cap_sample", "tfidf_top_terms",
                 "repetition_filter", "contamination_check", "token_count_bpe"]:
        plan = _formatted(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_sample_split_has_no_shuffle(spark):
    # split assignment is a pure row-local projection — any Exchange
    # means someone added an accidental shuffle
    plan = _formatted(spark, "sample_split")
    assert "Exchange" not in plan


def test_no_python_udfs_in_core_queries(spark):
    # dedup/text/vector/metadata ops must stay JVM-side (frame_sample,
    # the codec decode path, and the dense-linear-algebra BLAS ops —
    # dedup_embedding, knn_bruteforce, knn_ivf — are the sanctioned
    # Pandas exceptions, pinned separately)
    for name in [
        "dedup_minhash_lsh",
        "text_quality",
        "lang_id",
        "dedup_simhash",
        "multimodal_metadata",
    ]:
        plan = _formatted(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_oracle_query_outputs_are_scalar_only(spark, registry_frames):
    # the driver's canonicalizer sorts/factorizes result columns in
    # pandas: array/map/struct/binary columns crash it (round-2
    # frame_sample failure). Every oracle-checked query must emit
    # scalar columns only — explode to rows or array_join instead.
    from osarchiver_spark.queries import all_oracles

    O = all_oracles()
    offenders = []
    for name in O:
        for f in registry_frames[name].schema.fields:
            t = f.dataType.simpleString()
            if any(k in t for k in ("array", "map", "struct", "binary")):
                offenders.append((name, f.name, t))
    assert not offenders, f"non-scalar oracle outputs: {offenders}"


def test_substring_spans_is_equijoin_only(spark):
    # span dedup must stay a hash-key equi-join pipeline: no cross
    # products, no Python, and the cross-doc test as a hash agg
    plan = _formatted(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_cdc_apply_is_single_agg_no_window(spark):
    # the changelog collapse is ONE max_by aggregation — a window
    # (sort-per-partition over history) would be the non-scale shape
    plan = _formatted(spark, "cdc_apply")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_new_analytics_queries_stay_jvm_side(spark):
    for name in [
        "funnel_analysis",
        "cohort_retention",
        "event_cooccurrence",
        "incremental_rollup",
        "winsorize_events",
        "markov_transitions",
        "session_paths",
        "zscore_outliers",
        "rolling_active_users",
        "time_weighted_avg",
        "zorder_locality",
        "bpe_merge_step",
        "source_divergence",
        "source_overlap",
    ]:
        plan = _formatted(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4_ops_stay_jvm_side_and_join_safe(spark):
    # pagerank / boilerplate / inverted index / attribution are pure
    # DataFrame compositions: no Python evaluation, no cross products
    for name in [
        "pagerank",
        "boilerplate_lines",
        "inverted_index",
        "attribution_last_touch",
        "distinct_rollup_merge",
    ]:
        plan = _formatted(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_inverted_index_caps_postings_before_collect(spark):
    # the per-term top-k must run as a window filter (rn <= cap)
    # upstream of the list aggregation — a stop-word posting list
    # never materializes unbounded in one task
    plan = _formatted(spark, "inverted_index")
    assert "row_number" in plan
    assert "partial_count" in plan  # df/cf counts combine map-side
    # Spark's group-limit pushdown: top-8-per-term applied BEFORE the
    # token exchange, so a hot term ships <= 8 rows per map partition
    assert "WindowGroupLimit" in plan


def test_substring_spans_selection_is_map_side(spark):
    # winnowing runs as array expressions in the scan stage, and the
    # selected spans are checkpointed before the probe: nothing
    # upstream of the semi-join may re-Generate, Sort or Window the
    # per-position rows (the shape that shipped one row per
    # character). Formatted-plan node ids order leaf->root, so every
    # Window/Sort/Generate id must be DOWNSTREAM of (greater than)
    # the semi-join id; the old text-position check broke because the
    # tree header prints downstream nodes before the join line.
    import re

    plan = _formatted(spark, "dedup_substring_spans")
    m = re.search(r"\((\d+)\) BroadcastHashJoin", plan)
    assert m, "expected a broadcast semi-join of the duplicate hashes"
    join_id = int(m.group(1))
    assert "Scan ExistingRDD" in plan  # the checkpointed spans feed both sides
    for node in re.finditer(r"\((\d+)\) (Window|Sort|Generate)\b", plan):
        assert int(node.group(1)) > join_id, (
            f"{node.group(2)} upstream of the semi-join probe"
        )


def test_pagerank_iterations_broadcast_node_relations(spark):
    # at fixture scale the node count is far under the broadcast cap,
    # so rank/degree joins must be broadcast probes (no SortMergeJoin
    # of the edge list) — the web-scale fallback is covered by the
    # operator's n_nodes gate
    plan = _formatted(spark, "pagerank")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_search_never_carries_vectors_through_candidate_scoring(spark):
    # the PQ scoring pass streams (neighbor_id, cid, code) only; full
    # vectors appear in the probe/encode inputs and the final re-rank
    # join, never in the ADC cogroup output
    plan = _formatted(spark, "knn_ivf_pq")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_grouped_verify_never_cross_joins(spark):
    # SemDeDup's candidate generator is the k-means cell: the verify
    # must be the grouped gram (FlatMapGroupsInPandas), and no plan
    # node may pair the corpus against itself without a key
    plan = _formatted(spark, "semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_entity_resolution_blocking_is_an_equi_join(spark):
    # record linkage must get its candidates from the (blk, seg)
    # equi-join — a levenshtein theta join over customers would be
    # the all-pairs plan that dies at scale
    plan = _formatted(spark, "entity_resolution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # map-side pre-limit: only each record's best candidates shuffle
    assert "WindowGroupLimit" in plan


def test_entity_resolution_production_purges_oversized_blocks(spark):
    # the deployment twin caps in-block verify at max_block^2 pairs
    # via a census semi-join (the sf1 rehearsal measured the
    # purge-free form going quadratic: 1.4 s -> 99 s on 10x dup names)
    from osarchiver_spark.queries.relational import (
        entity_resolution_production,
        q_entity_resolution,
    )

    sf = "/root/testdata/sf0.001"
    base = {tuple(r) for r in q_entity_resolution(spark, sf).collect()}
    # sf0.001 blocks top out at 25 records — under the default cap
    # the purge is a no-op and results are identical to the oracle'd
    # registered query
    prod = {tuple(r) for r in entity_resolution_production(spark, sf).collect()}
    assert prod == base
    # a tight cap must PURGE (strict subset), never invent matches
    capped = {
        tuple(r)
        for r in entity_resolution_production(spark, sf, max_block=10).collect()
    }
    assert capped < base
    # and the purge must be a semi-join in the plan, not a collect
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        entity_resolution_production(spark, sf).explain("formatted")
    plan = buf.getvalue()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_registry_wide_plan_audit(spark, registry_frames):
    """Registry-wide scale-smell scan over every batch query's
    optimized plan: CartesianProduct is banned outright, and
    BroadcastNestedLoopJoin may appear only where the build side is a
    model-sized relation by construction — a one-row global aggregate
    (totals, vocab size, thresholds), a literal band dim, or the
    distinct event-type vocabulary. A new query joining data-to-data
    without an equi key lands here and fails the build."""
    import contextlib
    import io

    # query -> why its BroadcastNestedLoopJoin is benign
    BNLJ_OK = {
        "bigram_logprob": "one-row vocab-size aggregate",
        "interpolated_logprob": "one-row token-total aggregate",
        "event_cooccurrence": "one-row basket-total aggregate",
        "funnel_analysis": "one-row step-total aggregate",
        "fuzzy_match": "distinct event-type vocabulary (|types|² pairs)",
        "key_skew_report": "one-row global count aggregate",
        "psi_drift": "one-row time-span aggregate",
        "rrf_fusion": "inherits bm25's one-row n_docs/avgdl aggregate "
        "(the only non-equi join in its plan; fusion itself is an "
        "equi-keyed full outer — verified r10)",
        "probe_psi_cells": "one-row time-span aggregate (shared psi_probs stage)",
        "probe_psi_ln_terms": "one-row time-span aggregate (shared psi_probs stage)",
        "dedup_lsh_eval": "three one-row count aggregates",
        "source_mix_shift": "one-row token-total aggregate",
        "q11_important_stock": "one-row HAVING threshold aggregate",
        "q22_global_sales_opportunity": "one-row global average",
        "quality_curriculum": "one-row exact-percentile boundaries",
        "range_join_bands": "3-row literal band dim",
        "lr_pr_curve": "9-row literal threshold dim",
        "hard_negatives": "10-row distinct-label dim",
        "rolling_active_users": "day-spine range probe (|days| rows)",
        "source_divergence": "one-row corpus-total aggregate",
        "tfidf_top_terms": "one-row n_docs aggregate",
        "unigram_logprob": "one-row token-total aggregate",
        "knn_label_vote": "one-row aggregates inside the reused top-k subplan",
        "sampled_percentiles": "single-row-per-group join keys (tiny)",
        "split_leakage_free": "cluster-map side effects via dedup subplan",
        "bm25_retrieval": "one-row corpus (N, avgdl) stats aggregate",
        "rejection_resample_hour": "one-row min-hour-count aggregate",
        "ab_test_report": "two one-row arm aggregates",
        "index_health": "three one-row health aggregates crossJoined "
        "into the single report row (occupancy stats × union read × "
        "mean per-query read; every side is one row by construction)",
    }
    offenders = {}
    for name, df in sorted(registry_frames.items()):
        if name.startswith("streaming_"):
            continue  # execute eagerly; their own tests pin behavior
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders[name] = "unexplained BroadcastNestedLoopJoin"
        # canonicalizer safety: the driver's order-insensitive hash
        # sorts/factorizes every column, which needs hashable scalars —
        # a top-level array/map/struct column is the frame_sample
        # round-2 failure shape
        from pyspark.sql import types as T

        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            offenders[name] = f"non-scalar output columns {complex_cols}"
    assert not offenders, offenders


def test_embedding_lsh_incremental_skips_repartition_at_scale(spark):
    # the fixture-parallelism widening must disappear once the corpus
    # already carries defaultParallelism partitions: at 100 TB a
    # round-robin exchange of the corpus would dominate the whole
    # incremental probe (the stated no-corpus-shuffle contract)
    from osarchiver_spark.operators.dedup import embedding_lsh_incremental
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    vec = F.transform(F.sequence(F.lit(1), F.lit(4)),
                      lambda i: (F.col("id") * i % 7).cast("double") / 7.0)
    corpus = spark.range(200, numPartitions=par).select(
        F.col("id").alias("vid"), vec.alias("v")
    )
    new = spark.range(5).select((F.col("id") + 1000).alias("vid"), vec.alias("v"))
    out = embedding_lsh_incremental(corpus, new, "vid", "v", dim=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan


def test_bm25_broadcasts_query_terms_no_cartesian(spark):
    # the 5-term query relation and the 1-row corpus stats must ride
    # as broadcasts; at 100 TB a shuffle join on the term dim (or a
    # real cartesian with the stats row) would dominate the scoring
    # scan. The postings truncation must be a window, not a collect.
    plan = _formatted(spark, "bm25_retrieval")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan or "partial_sum" in plan  # map-side tf combine


def test_stratified_sample_broadcasts_quotas(spark):
    # the allocation runs on the #sources-row relation; the corpus
    # must see it only as a broadcast probe — never a shuffle join of
    # the corpus against the quota table
    plan = _formatted(spark, "stratified_sample_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_rejection_resample_broadcasts_census(spark):
    # the 24-row hour census joins back into the event scan as a
    # broadcast; the only wide shuffles are the two map-combinable aggs
    plan = _formatted(spark, "rejection_resample_hour")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_target_encode_broadcasts_stats(spark):
    plan = _formatted(spark, "target_encode_loo")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_cache_using_queries_leave_no_catalog_entries(spark):
    # the transient (auto-released localCheckpoint) discipline: running
    # the operators that cache multi-consumer intermediates must leave
    # the catalog cache manager EMPTY afterwards — a registry-wide run
    # or long-lived session cannot accumulate pinned relations
    # (operators with an explicit release contract unpersist before
    # returning and are covered too)
    spark.catalog.clearCache()
    for name in (
        "semdedup",
        "pagerank",
        "inverted_index",
        "boilerplate_lines",
        "als_factors",
        "bpe_train",
        "bpe_segment",
        "dedup_substring_spans",
        "bm25_retrieval",
        "adaboost_train",
        "lr_train",
        "dedup_minhash_lsh",
        "dedup_embedding",
        "corpus_pipeline",
        "split_leakage_free",
    ):
        all_queries()[name](spark, SF).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"cache manager still holds entries after {name}"


def test_transient_reuses_one_materialization(spark):
    # the auto-released cache contract: a transient frame computes its
    # lineage once and serves every consumer from the checkpointed
    # blocks — the plan of a consumer shows the RDD scan, not the
    # original lineage
    from osarchiver_spark.operators.cache import transient
    from pyspark.sql import functions as F

    base = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    t = transient(base, eager=True)
    plan = t.groupBy("k").count()._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan
    assert t.count() == 1000  # served from the checkpoint


def test_indexed_incremental_probe_plan(spark):
    """dedup_incremental_indexed's probe scan must carry the pushed
    band_key IN predicate (what lets the sorted index's row groups
    prune by min/max) and join the broadcast new-batch bands — never
    shuffle the index side. The VERIFY side (r06 judge finding) must
    prune the corpus to the candidate ids BEFORE shingling: a pushed
    doc_id IN on the corpus scan (or a broadcast left-semi above the
    cap) — never a full-corpus text pass per probe batch."""
    plan = _formatted(spark, "dedup_incremental_indexed")
    assert "PushedFilters: [In(band_key" in plan
    assert "In(doc_id" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_indexed_incremental_verify_fallback_plan(spark, tmp_path):
    """Above the id-pushdown cap the verify side must still prune via
    a broadcast left-semi before _with_shingles (never re-shingle the
    full corpus)."""
    import contextlib
    import io
    from unittest import mock

    from osarchiver_spark.operators import dedup as dedup_ops
    from osarchiver_spark.queries.dedup import q_dedup_incremental_indexed

    with mock.patch.object(dedup_ops, "PROBE_PUSHDOWN_MAX_KEYS", 0):
        df = q_dedup_incremental_indexed(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_shingling_tokenizes_each_doc_once(spark):
    """_with_shingles (behind dedup_minhash_lsh, minhash_lsh_index and
    both incremental verifies) builds each doc's 3-gram shingles once:
    one 3-gram pass is 2 zip_with. A Filter on the shingles would be
    pushed below the repartition and re-tokenize (4 zip_with)."""
    from osarchiver_spark.operators.dedup import _with_shingles
    from osarchiver_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    plan = _with_shingles(docs, "doc_id", "text", 3)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with(") == 2, plan


def test_ivf_indexed_probe_prunes_partitions(spark):
    """knn_ivf_indexed probes a cid-partitioned inverted file: the
    index scan must carry the probed cid set as a PARTITION filter
    (directory-level pruning — zero bytes read from unprobed lists),
    and never a cartesian product."""
    plan = _formatted(spark, "knn_ivf_indexed")
    assert "PartitionFilters" in plan
    import re

    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any(re.search(r"cid.*(IN|isin|EqualTo|= )", l, re.I) or "cid" in l for l in pf), pf
    assert "CartesianProduct" not in plan
