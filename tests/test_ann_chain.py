"""The persisted-index ANN chain (queries/similarity.py) at the depth
the benchmarks time, its job-group discipline, and its staged publish."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from osarchiver_spark.sources.parquet import load_table

# bench.py's production depth for every persisted-index form
PROD_NPROBE = 4
PROD_SHORTLIST = 32


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "name",
    ["knn_ivf_indexed", "knn_ivf_reindexed", "knn_ivf_pq_indexed", "knn_ivf_pq_reindexed"],
)
def test_production_chain_matches_unindexed_operator(spark, sf_small, name):
    """Each ANN ``BENCH_OVERRIDES`` form (build or migrate chain, probed
    at nprobe=4 and PQ shortlist=32) returns exactly what the unindexed
    operator returns at the same depth with the same k=16 model: the
    append, the staged publish and the migration change nothing the
    probe can see."""
    import bench
    from osarchiver_spark.operators.ivf import ivf_topk
    from osarchiver_spark.operators.pq import ivf_pq_topk
    from osarchiver_spark.queries.similarity import QUERY_MOD, TOP_K

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    if "_pq_" in name:
        want = ivf_pq_topk(
            emb, queries, "vec_id", "embedding", k=TOP_K, n_clusters=16,
            nprobe=PROD_NPROBE, shortlist=PROD_SHORTLIST,
        )
    else:
        want = ivf_topk(
            emb, queries, "vec_id", "embedding", k=TOP_K, n_clusters=16,
            nprobe=PROD_NPROBE,
        )
    got = _rows(bench.BENCH_OVERRIDES[name](spark, sf_small))
    assert got and got == _rows(want)


def test_chain_side_thread_jobs_inherit_callers_job_group(spark, sf_small):
    """The migrate chain runs its old leg, new fit, batch count, probe
    prep and staged drop write on driver side threads. Every job those
    threads start must carry the caller's job group, or per-query
    attribution and ``cancelJobGroup`` miss them."""
    from osarchiver_spark.queries.similarity import q_knn_ivf_reindexed

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = "test-ann-chain-job-group"
    sc.setJobGroup(group, group, False)
    try:
        q_knn_ivf_reindexed(spark, sf_small).collect()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    grouped = set(tracker.getJobIdsForGroup(group))
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert grouped
    assert not stray, f"{len(stray)} of {len(stray) + len(grouped)} jobs escaped the group"


def test_staged_store_build_rejects_non_local_dir(spark, tmp_path):
    """The staged publish moves part files with os.replace, so a
    non-local store URI fails before anything is written; a file://
    URI is local and publishes like a plain path."""
    from osarchiver_spark.queries.similarity import _staged_store_build

    rows = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 2) for i in range(6)],
        "neighbor_id long, v array<double>, cid int",
    )
    for uri in ("hdfs://namenode/idx", "s3a://bucket/idx"):
        with pytest.raises(ValueError, match="local path"):
            _staged_store_build(rows, rows, uri)

    store = tmp_path / "store"
    _staged_store_build(rows.filter("neighbor_id < 4"), rows.filter("neighbor_id >= 4"), store.as_uri())
    got = spark.read.schema("neighbor_id bigint, v array<double>, cid int").parquet(str(store))
    assert sorted(r.neighbor_id for r in got.collect()) == list(range(6))
    assert not (tmp_path / "store__stage").exists()
