"""IVF ANN: k-means converges to a sane partition; probing beats
random and approaches brute force."""

from __future__ import annotations

from pyspark.sql import functions as F

from osarchiver_spark.operators.ivf import ivf_topk, kmeans_fit
from osarchiver_spark.operators.similarity import brute_force_topk
from osarchiver_spark.sources.parquet import load_table


def test_kmeans_deterministic_and_partitioning(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    c1 = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    c2 = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    assert c1 == c2  # deterministic init + fixed-order reductions
    assert len(c1) == 8 and len(c1[0]) == 64


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = "test-lloyd-job-count"
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)


def test_lloyd_fits_run_one_job_per_iteration(spark, sf_small):
    """One Lloyd's loop: the init collect (which also fills the cache)
    plus one fused assignment pass per iteration, however many models
    an iteration trains."""
    from osarchiver_spark.operators.pq import pq_joint_fit

    emb = load_table(spark, sf_small, "embeddings")
    assert _jobs_in_group(spark, lambda: kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)) == 3
    assert _jobs_in_group(
        spark,
        lambda: pq_joint_fit(
            emb, "vec_id", "embedding", n_clusters=8, coarse_iters=3, m=16, codes=16, pq_iters=2
        ),
    ) == 4
    assert _jobs_in_group(
        spark,
        lambda: pq_joint_fit(emb, "vec_id", "embedding", n_clusters=0, m=16, codes=16, pq_iters=2),
    ) == 3


def test_ivf_recall_beats_random(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ivf_topk(emb, queries, "vec_id", "embedding", k=5, n_clusters=16, nprobe=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # near-uniform random embeddings are ANN's worst case; random
    # guessing at nprobe=6/16 fan-out would land ~37% — require better
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_exact_when_probing_everything(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    full = ivf_topk(emb, queries, "vec_id", "embedding", k=5, n_clusters=8, nprobe=8)
    e = {(r.query_id, r.rank, r.neighbor_id) for r in exact.collect()}
    f = {(r.query_id, r.rank, r.neighbor_id) for r in full.collect()}
    assert e == f  # nprobe == n_clusters degenerates to exact search


def test_ivf_index_append_equals_oneshot(spark, sf_small, tmp_path):
    """Frozen-centroid append (FAISS IndexIVF.add semantics): an index
    built as standing + appended drop is ROW-identical to one built
    from the unioned corpus, and probing either gives the same top-k."""
    from osarchiver_spark.operators.ivf import ivf_index, ivf_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    ivf_index(emb, "vec_id", "embedding", cents).write.partitionBy("cid").parquet(a_dir)
    ivf_index(standing, "vec_id", "embedding", cents).write.partitionBy("cid").parquet(b_dir)
    ivf_index(drop, "vec_id", "embedding", cents).write.mode("append").partitionBy(
        "cid"
    ).parquet(b_dir)

    read = lambda d: spark.read.parquet(d).withColumn("cid", F.col("cid").cast("int"))
    rows = lambda df: sorted(
        (r.neighbor_id, r.cid, tuple(r.v)) for r in df.collect()
    )
    assert rows(read(a_dir)) == rows(read(b_dir))

    queries = emb.filter(F.col("vec_id") % 250 == 0)
    topk = lambda d: {
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_topk_indexed(
            read(d), queries, "vec_id", "embedding", cents, k=5, nprobe=3
        ).collect()
    }
    assert topk(a_dir) == topk(b_dir)


def test_ivf_indexed_matches_unindexed_at_same_nprobe(spark, sf_small, tmp_path):
    """The persisted-index probe is the SAME algorithm as ivf_topk —
    identical results at any nprobe, including production depth."""
    from osarchiver_spark.operators.ivf import ivf_index, ivf_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    idx = str(tmp_path / "idx")
    ivf_index(emb, "vec_id", "embedding", cents).write.partitionBy("cid").parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))

    direct = ivf_topk(emb, queries, "vec_id", "embedding", k=5, nprobe=3, centroids=cents)
    indexed = ivf_topk_indexed(index, queries, "vec_id", "embedding", cents, k=5, nprobe=3)
    d = {(r.query_id, r.rank, r.neighbor_id) for r in direct.collect()}
    i = {(r.query_id, r.rank, r.neighbor_id) for r in indexed.collect()}
    assert d == i


def test_ivf_indexed_batch_guard(spark, sf_small, tmp_path):
    """The query-side batch contract: an oversized batch fails fast
    with one truncated scan (limit(max+1)), before any probe work."""
    import pytest

    from osarchiver_spark.operators.ivf import ivf_index, ivf_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    idx = str(tmp_path / "idx")
    ivf_index(emb, "vec_id", "embedding", cents).write.partitionBy("cid").parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)  # > 3 rows at sf0.001

    with pytest.raises(ValueError, match="max_batch_rows"):
        ivf_topk_indexed(
            index, queries, "vec_id", "embedding", cents, k=5, nprobe=3,
            max_batch_rows=3,
        )
    with pytest.raises(ValueError, match="positive"):
        ivf_topk_indexed(
            index, queries, "vec_id", "embedding", cents, max_batch_rows=0
        )
    # within the bound: identical results to an unguarded call
    ok = ivf_topk_indexed(
        index, queries, "vec_id", "embedding", cents, k=5, nprobe=3,
        max_batch_rows=1_000_000,
    )
    off = ivf_topk_indexed(
        index, queries, "vec_id", "embedding", cents, k=5, nprobe=3,
        max_batch_rows=None,
    )
    assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, off.collect()))


def test_ivf_indexed_single_probe_traversal(spark, sf_small, tmp_path):
    """The probed frame is materialized once: the scoring plan reads
    the checkpointed RDD (Scan ExistingRDD), so the query-side probe
    matmul does NOT run a second time inside the cogroup — exactly
    one query-side mapInPandas (ADVICE r8 / verdict r8 item 6)."""
    import contextlib
    import io

    from osarchiver_spark.operators.ivf import ivf_index, ivf_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    idx = str(tmp_path / "idx")
    ivf_index(emb, "vec_id", "embedding", cents).write.partitionBy("cid").parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))
    queries = emb.filter(F.col("vec_id") % 250 == 0)

    result = ivf_topk_indexed(
        index, queries, "vec_id", "embedding", cents, k=5, nprobe=3
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    # probe side arrives pre-materialized; only the index side runs
    # Python (the scoring cogroup + the index scan)
    assert "Scan ExistingRDD" in plan
    # one FlatMapCoGroupsInPandas (scoring; "(" = the tree line —
    # formatted explain prints every node twice, tree + detail); the
    # probe's MapInPandas is NOT in this plan — it ran once, during
    # the cid collect ("MapInPandas" standalone, not the "Flat..."
    # cogroup substring)
    import re

    assert plan.count("FlatMapCoGroupsInPandas (") == 1
    assert re.search(r"(?<![A-Za-z])MapInPandas", plan) is None


def test_ivf_reindex_equals_fresh_build(spark, sf_small, tmp_path):
    """The retrain/migration path (r09 verdict item 1): a standing
    store re-assigned under a NEW model is row-identical to a fresh
    ivf_index build over the same membership under that model, and
    probing the migrated store equals probing the fresh one."""
    from osarchiver_spark.operators.ivf import (
        ivf_index,
        ivf_reindex,
        ivf_topk_indexed,
    )

    emb = load_table(spark, sf_small, "embeddings")
    # model A: deliberately different (k=4, trained on half the corpus)
    model_a = kmeans_fit(
        emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", k=4, iters=2
    )
    model_b = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    old_dir = str(tmp_path / "old")
    ivf_index(emb, "vec_id", "embedding", model_a).write.partitionBy("cid").parquet(
        old_dir
    )
    standing = spark.read.parquet(old_dir).withColumn(
        "cid", F.col("cid").cast("int")
    )

    new_dir = str(tmp_path / "new")
    ivf_reindex(standing, model_b).write.partitionBy("cid").parquet(new_dir)
    fresh_dir = str(tmp_path / "fresh")
    ivf_index(emb, "vec_id", "embedding", model_b).write.partitionBy("cid").parquet(
        fresh_dir
    )

    rows = lambda d: sorted(
        (r.neighbor_id, r.cid, tuple(r.v))
        for r in spark.read.parquet(d)
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )
    assert rows(new_dir) == rows(fresh_dir)

    queries = emb.filter(F.col("vec_id") % 250 == 0)
    topk = lambda d: {
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_topk_indexed(
            spark.read.parquet(d).withColumn("cid", F.col("cid").cast("int")),
            queries, "vec_id", "embedding", model_b, k=5, nprobe=3,
        ).collect()
    }
    assert topk(new_dir) == topk(fresh_dir)


def test_ivf_reindex_preserves_partial_membership(spark, sf_small, tmp_path):
    """Migration preserves the store's MEMBERSHIP, not the source
    table: reindexing a survivors-only store yields exactly the
    survivors under the new model."""
    from osarchiver_spark.operators.ivf import ivf_index, ivf_reindex

    emb = load_table(spark, sf_small, "embeddings")
    survivors = emb.filter(F.col("vec_id") % 3 != 0)
    model_a = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1)
    model_b = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    store = ivf_index(survivors, "vec_id", "embedding", model_a)
    migrated = ivf_reindex(store, model_b)
    fresh = ivf_index(survivors, "vec_id", "embedding", model_b)
    rows = lambda df: sorted(
        (r.neighbor_id, r.cid, tuple(r.v)) for r in df.collect()
    )
    assert rows(migrated) == rows(fresh)
    assert migrated.select("neighbor_id").distinct().count() == survivors.count()


def test_ivf_store_full_lifecycle(spark, sf_small, tmp_path):
    """The whole serving-store lifecycle chained end-to-end: build →
    3 frozen-model appends → layout-preserving compaction → retrain +
    ivf_reindex migration → probe. The end state must be
    content-identical to a one-shot fresh build under the final model,
    and the probe must serve identical rankings — integration pin for
    the r10 lifecycle pieces composing with the r8/r9 append
    discipline."""
    from osarchiver_spark.operators.ivf import (
        ivf_index,
        ivf_reindex,
        ivf_topk_indexed,
    )
    from osarchiver_spark.operators.maintenance import compact_partitioned_store

    emb = load_table(spark, sf_small, "embeddings")
    model_a = kmeans_fit(
        emb.filter(F.col("vec_id") % 4 == 0), "vec_id", "embedding", k=4, iters=2
    )
    store = str(tmp_path / "store")
    for d in range(4):
        drop = emb.filter(F.col("vec_id") % 4 == d)
        ivf_index(drop, "vec_id", "embedding", model_a).write.mode(
            "overwrite" if d == 0 else "append"
        ).partitionBy("cid").parquet(store)

    b, a = compact_partitioned_store(spark, store, "cid", target_bytes=1 << 30)
    assert a < b  # the appends really did fragment

    model_b = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    standing = spark.read.parquet(store).withColumn("cid", F.col("cid").cast("int"))
    migrated_dir = str(tmp_path / "migrated")
    ivf_reindex(standing, model_b).write.partitionBy("cid").parquet(migrated_dir)

    fresh_dir = str(tmp_path / "fresh")
    ivf_index(emb, "vec_id", "embedding", model_b).write.partitionBy("cid").parquet(
        fresh_dir
    )
    rows = lambda d: sorted(
        (r.neighbor_id, r.cid, tuple(r.v))
        for r in spark.read.parquet(d)
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )
    assert rows(migrated_dir) == rows(fresh_dir)

    queries = emb.filter(F.col("vec_id") % 250 == 0)
    topk = lambda d: sorted(
        map(
            tuple,
            ivf_topk_indexed(
                spark.read.parquet(d).withColumn("cid", F.col("cid").cast("int")),
                queries, "vec_id", "embedding", model_b, k=5, nprobe=3,
            ).collect(),
        )
    )
    assert topk(migrated_dir) == topk(fresh_dir)
