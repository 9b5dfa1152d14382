"""IVF-PQ (operators/pq.py): production-parameter recall floor,
code-shape invariants, and the normalized-ADC ordering property.
Full-recall oracle parity runs in test_oracle_parity (knn_ivf_pq).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from osarchiver_spark.operators.pq import _encode_pandas, ivf_pq_topk, pq_joint_fit, unit_frame
from osarchiver_spark.operators.similarity import brute_force_topk
from osarchiver_spark.sources.parquet import load_table


def test_pq_production_params_recall_floor(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(
            emb, queries, "vec_id", "embedding", k=5, nprobe=4, shortlist=32
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    # near-uniform fixture embeddings are the ANN worst case; measured
    # 0.44 with (nprobe=4, shortlist=32) — generous floor for seed drift
    assert recall >= 0.3, f"IVF-PQ recall too low: {recall}"

    # sampled codebook training (the 100 TB build path: Lloyd's over a
    # deterministic hash sample, full-corpus encode) must hold the
    # same production recall floor — centroids fit the sample
    # distribution, index completeness is untouched
    sampled = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(
            emb,
            queries,
            "vec_id",
            "embedding",
            k=5,
            nprobe=4,
            shortlist=32,
            train_sample=max(64, emb.count() // 4),
        ).collect()
    }
    recall_s = len(exact & sampled) / len(exact)
    assert recall_s >= 0.3, f"sampled-training recall too low: {recall_s}"


def test_pq_codes_are_bounded_and_deterministic(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    _, books = pq_joint_fit(emb, "vec_id", "embedding", n_clusters=0, m=16, codes=16, pq_iters=1)
    assert len(books) == 16 and all(len(b) <= 16 for b in books)
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    enc1 = {r.neighbor_id: r.code for r in _encode_pandas(base, books).collect()}
    enc2 = {r.neighbor_id: r.code for r in _encode_pandas(base, books).collect()}
    assert enc1 == enc2  # deterministic run-to-run
    codes = np.array(list(enc1.values()))
    assert codes.shape[1] == 16  # m codes per vector — the 4-byte-class index
    assert codes.min() >= 0 and codes.max() < 16


def test_pq_all_identical_vectors_hot_cluster(spark):
    """Degenerate corpus: every vector identical, so one IVF cell holds
    the whole corpus and every PQ code collapses to one entry — the
    hot-cluster analog of the dedup hot-bucket test. ADC scores tie at
    0 everywhere; the shortlist re-rank must still return exactly k
    deterministic neighbors per query (cosine 1.0, id-ascending
    tie-break), not crash on empty codebook cells or return dup rows."""
    vec = [1.0] * 64
    rows = [(i, vec) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_pq_topk(
        emb, queries, "vec_id", "embedding", k=5, nprobe=2, shortlist=8
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        assert len(rs) == 5, f"query {qid}: {len(rs)} rows"
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        assert all(abs(r.cosine - 1.0) < 1e-9 for r in rs)
        ids = [r.neighbor_id for r in sorted(rs, key=lambda r: r.rank)]
        assert ids == sorted(ids), f"tie-break not id-ascending: {ids}"


def _fit_models(emb, n_clusters=8, m=16, codes=16):
    emb_n = unit_frame(emb, "vec_id", "embedding", "vec_id", "_uv")
    return pq_joint_fit(emb_n, "vec_id", "_uv", n_clusters=n_clusters, m=m, codes=codes)


def test_ivf_pq_index_append_equals_oneshot(spark, sf_small, tmp_path):
    """Frozen coarse centroids AND codebooks (FAISS IndexIVFPQ.add
    semantics): an index built as standing + appended drop is
    ROW-identical to one built from the unioned corpus, and probing
    either gives the same top-k."""
    from osarchiver_spark.operators.pq import ivf_pq_index, ivf_pq_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    coarse, books = _fit_models(emb)
    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    ivf_pq_index(emb, "vec_id", "embedding", coarse, books).write.partitionBy(
        "cid"
    ).parquet(a_dir)
    ivf_pq_index(standing, "vec_id", "embedding", coarse, books).write.partitionBy(
        "cid"
    ).parquet(b_dir)
    ivf_pq_index(drop, "vec_id", "embedding", coarse, books).write.mode(
        "append"
    ).partitionBy("cid").parquet(b_dir)

    read = lambda d: spark.read.parquet(d).withColumn("cid", F.col("cid").cast("int"))
    rows = lambda df: sorted(
        (r.neighbor_id, r.cid, tuple(r.code)) for r in df.collect()
    )
    assert rows(read(a_dir)) == rows(read(b_dir))

    queries = emb.filter(F.col("vec_id") % 250 == 0)
    topk = lambda d: sorted(
        map(
            tuple,
            ivf_pq_topk_indexed(
                read(d), queries, emb, "vec_id", "embedding", coarse, books,
                k=5, nprobe=3, shortlist=16,
            ).collect(),
        )
    )
    assert topk(a_dir) == topk(b_dir)


def test_ivf_pq_indexed_matches_unindexed(spark, sf_small, tmp_path):
    """The persisted-index probe is the SAME algorithm as the fused
    ivf_pq_topk — identical rows at any (nprobe, shortlist), given
    the same trained models."""
    from osarchiver_spark.operators.ivf import _probe_pandas
    from osarchiver_spark.operators.pq import (
        _adc_shortlist,
        _exact_rerank,
        ivf_pq_index,
        ivf_pq_topk_indexed,
    )

    emb = load_table(spark, sf_small, "embeddings")
    coarse, books = _fit_models(emb)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    idx = str(tmp_path / "idx")
    ivf_pq_index(emb, "vec_id", "embedding", coarse, books).write.partitionBy(
        "cid"
    ).parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))

    # the fused path with the same models (bypass training): probe →
    # ADC shortlist → exact re-rank over the in-memory encoded frame
    encoded = ivf_pq_index(emb, "vec_id", "embedding", coarse, books)
    id_type = emb.schema["vec_id"].dataType
    qbase = unit_frame(queries, "vec_id", "embedding", "query_id", "qv")
    probed = _probe_pandas(qbase, coarse, 3)
    short = _adc_shortlist(probed, encoded, books, 16, id_type)
    direct = _exact_rerank(short, qbase, emb, "vec_id", "embedding", 5)

    indexed = ivf_pq_topk_indexed(
        index, queries, emb, "vec_id", "embedding", coarse, books,
        k=5, nprobe=3, shortlist=16,
    )
    d = sorted(map(tuple, direct.collect()))
    i = sorted(map(tuple, indexed.collect()))
    assert d == i


def test_ivf_pq_indexed_plan_reads_codes_only(spark, sf_small, tmp_path):
    """The scale contract in the plan: the probe prunes cell
    DIRECTORIES (PartitionFilters cid IN), the pruned scan reads
    codes — NOT vectors (ReadSchema carries neighbor_id+code only),
    and the probed frame arrives pre-materialized (Scan ExistingRDD,
    no second query-side MapInPandas)."""
    import contextlib
    import io
    import re

    from osarchiver_spark.operators.pq import ivf_pq_index, ivf_pq_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    coarse, books = _fit_models(emb)
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    idx = str(tmp_path / "idx")
    ivf_pq_index(emb, "vec_id", "embedding", coarse, books).write.partitionBy(
        "cid"
    ).parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))

    result = ivf_pq_topk_indexed(
        index, queries, emb, "vec_id", "embedding", coarse, books,
        k=5, nprobe=3, shortlist=16,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[cid#\d+ IN \(", plan)
    # the index scan streams codes, never vectors
    m_schema = re.search(
        r"ReadSchema: struct<neighbor_id:bigint,code:array<int>>", plan
    )
    assert m_schema is not None, "index scan must read codes only"
    assert "Scan ExistingRDD" in plan
    assert re.search(r"(?<![A-Za-z])MapInPandas", plan) is None


def test_ivf_pq_indexed_batch_guard(spark, sf_small, tmp_path):
    import pytest

    from osarchiver_spark.operators.pq import ivf_pq_index, ivf_pq_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    coarse, books = _fit_models(emb)
    idx = str(tmp_path / "idx")
    ivf_pq_index(emb, "vec_id", "embedding", coarse, books).write.partitionBy(
        "cid"
    ).parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    with pytest.raises(ValueError, match="max_batch_rows"):
        ivf_pq_topk_indexed(
            index, queries, emb, "vec_id", "embedding", coarse, books,
            max_batch_rows=3,
        )


def test_ivf_pq_reindex_equals_fresh_build(spark, sf_small, tmp_path):
    """PQ retrain/migration (r09 verdict item 1): the code index holds
    no vectors, so migration semi-joins the index's membership back to
    the source table and re-encodes under the new model — the result
    must be row-identical to a fresh ivf_pq_index over that
    membership, including for a survivors-only (partial) store."""
    from osarchiver_spark.operators.ivf import kmeans_fit
    from osarchiver_spark.operators.pq import ivf_pq_index, ivf_pq_reindex
    from pyspark.sql import functions as F

    from osarchiver_spark.sources.parquet import load_table

    emb = load_table(spark, sf_small, "embeddings")
    survivors = emb.filter(F.col("vec_id") % 3 != 0)
    emb_n = unit_frame(emb, "vec_id", "embedding", "vec_id", "_uv")
    coarse_a, books_a = pq_joint_fit(
        emb_n.filter(F.col("vec_id") % 2 == 0), "vec_id", "_uv",
        n_clusters=4, m=8, codes=8,
    )
    coarse_b, books_b = pq_joint_fit(
        emb_n, "vec_id", "_uv", n_clusters=8, m=16, codes=16
    )

    old = ivf_pq_index(survivors, "vec_id", "embedding", coarse_a, books_a)
    old_dir = str(tmp_path / "old")
    old.write.partitionBy("cid").parquet(old_dir)
    standing = spark.read.parquet(old_dir).withColumn(
        "cid", F.col("cid").cast("int")
    )

    migrated = ivf_pq_reindex(
        standing, emb, "vec_id", "embedding", coarse_b, books_b
    )
    fresh = ivf_pq_index(survivors, "vec_id", "embedding", coarse_b, books_b)
    rows = lambda df: sorted(
        (r.neighbor_id, r.cid, tuple(r.code)) for r in df.collect()
    )
    assert rows(migrated) == rows(fresh)
    assert migrated.count() == survivors.count()


def test_pq_recall_on_clustered_fixture(spark, sf_small):
    """Production-parameter recall in the REALISTIC regime (r09
    verdict item 7): the near-uniform fixture is PQ's documented worst
    case (0.41 top-k overlap at shortlist=32). Real embedding corpora
    are clustered — rebuild the scale fixture's perturbed-copy
    structure at pytest scale (each base vector + 9 copies shifted by
    k*1e-3 in the last coordinate, make_scale_fixture.py's recipe) and
    pin the shortlist at which production pruning reaches >=0.9 recall
    there. Measured on this fixture: shortlist=32 -> ~0.97 (every true
    top-k neighbor is a same-cluster copy whose PQ code matches the
    query's almost everywhere, so ADC ranks it at the top)."""
    base = load_table(spark, sf_small, "embeddings").filter(
        F.col("vec_id") < 100
    )
    copies = spark.range(10).select(F.col("id").alias("k"))
    clustered = base.crossJoin(copies).select(
        (F.col("vec_id") * 10 + F.col("k")).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, 63),
            F.array(F.element_at("embedding", 64) + F.col("k") * F.lit(1e-3)),
        ).alias("embedding"),
    )
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            clustered, queries, "vec_id", "embedding", k=5
        ).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(
            clustered, queries, "vec_id", "embedding",
            k=5, nprobe=4, shortlist=32,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"clustered-regime recall below pin: {recall}"


def _transform_calls(plan: str) -> list[str]:
    """Every ``transform(...)`` call in a plan string, balanced."""
    calls = []
    start = plan.find("transform(")
    while start >= 0:
        depth, i = 0, start + len("transform")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        calls.append(plan[start:i])
        start = plan.find("transform(", start + 1)
    return calls


def _old_unit_expr(vec_col: str):
    """The former inline normalization: the norm sits inside the
    transform lambda."""
    from osarchiver_spark.functions.vectors import as_double, norm

    nrm = norm(as_double(F.col(vec_col)))
    return F.when(
        nrm > 0, F.transform(as_double(F.col(vec_col)), lambda x: x / nrm)
    ).otherwise(as_double(F.col(vec_col)))


def _with_zero_vector(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    zero = spark.createDataFrame([(10**9, [0.0] * 64)], "vec_id long, embedding array<float>")
    return emb.unionByName(zero)


def test_unit_frame_computes_the_norm_once_per_row(spark, sf_small):
    """The row norm (a zip_with + aggregate) must not sit inside the
    per-element transform lambda of the optimized plan, or Spark
    re-evaluates it for every element: O(d²) per row."""
    emb = _with_zero_vector(spark, sf_small)

    def lambdas(df):
        return _transform_calls(df._jdf.queryExecution().optimizedPlan().toString())

    new = lambdas(unit_frame(emb, "vec_id", "embedding", "vid", "v"))
    assert new and not [c for c in new if "aggregate" in c], new
    # the scan sees the defect it guards against
    old = lambdas(emb.select(_old_unit_expr("embedding").alias("v")))
    assert [c for c in old if "aggregate" in c]


def test_unit_frame_is_bit_identical_to_the_inline_expression(spark, sf_small):
    emb = _with_zero_vector(spark, sf_small)
    new = {
        r.vid: np.asarray(r.v).tobytes()
        for r in unit_frame(emb, "vec_id", "embedding", "vid", "v").collect()
    }
    old = {
        r.vec_id: np.asarray(r.v).tobytes()
        for r in emb.select("vec_id", _old_unit_expr("embedding").alias("v")).collect()
    }
    assert new == old
    assert new[10**9] == np.zeros(64).tobytes()  # a zero vector passes through
