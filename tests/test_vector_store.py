"""Vector capstone (operators/export.py::export_vector_store*):
the IVF-cell near-dup rule is batching-independent under a frozen
model, so the incremental (probe/append) build lands a store
row-identical to the one-shot build; the probe itself degenerates to
exact all-pairs at nprobe == n_clusters."""

from __future__ import annotations

from pyspark.sql import functions as F

from osarchiver_spark.operators.export import (
    export_vector_store,
    export_vector_store_indexed,
)
from osarchiver_spark.operators.ivf import ivf_index, ivf_neardup_probe, kmeans_fit
from osarchiver_spark.sources.parquet import load_table

THRESHOLD = 0.45  # fixture embeddings are near-uniform (max cos ~0.5)


def test_ivf_neardup_probe_exact_at_full_nprobe(spark, sf_small):
    """nprobe == n_clusters probes every cell, so the probe's pair set
    IS the exact all-pairs threshold set (each corpus vector lives in
    exactly one cell and every cell is scored once per query)."""
    from osarchiver_spark.operators.blas import cogroup_threshold_cosine
    from osarchiver_spark.functions.vectors import as_double

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    index = ivf_index(emb, "vec_id", "embedding", cents)
    probe = ivf_neardup_probe(
        index, emb, "vec_id", "embedding", cents,
        threshold=THRESHOLD, nprobe=8,
    )
    got = {
        (r.query_id, r.neighbor_id)
        for r in probe.filter(F.col("neighbor_id") < F.col("query_id")).collect()
    }

    qside = emb.select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qv"),
        F.lit(0).alias("g"),
    )
    cside = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("v"),
        F.lit(0).alias("g"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cogroup_threshold_cosine(qside, cside, "g", THRESHOLD)
        .filter(F.col("neighbor_id") < F.col("query_id"))
        .collect()
    }
    assert got == exact and len(exact) > 0


def test_vector_export_indexed_is_row_identical(spark, sf_small, tmp_path):
    """The capstone identity at fixture scale: a 3-drop probe/append
    build writes the SAME serving store and manifest as the one-shot
    build, at production nprobe (the approximation is identical on
    both sides — that is the point)."""
    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)

    one = str(tmp_path / "one")
    inc = str(tmp_path / "inc")
    m1 = export_vector_store(
        spark, sf_small, one, cents, threshold=THRESHOLD, nprobe=3
    )
    m2 = export_vector_store_indexed(
        spark, sf_small, inc, str(tmp_path / "dedup_idx"), cents,
        n_batches=3, threshold=THRESHOLD, nprobe=3,
    )
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))

    rows = lambda d: sorted(
        (r.neighbor_id, r.cid, tuple(r.v))
        for r in spark.read.parquet(f"{d}/store")
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )
    r1, r2 = rows(one), rows(inc)
    assert r1 == r2 and len(r1) > 0
    # the dedup removed something (fixture has pairs above THRESHOLD)
    assert len(r1) < emb.count()


def test_vector_export_survivor_store_serves_topk(spark, sf_small, tmp_path):
    """The exported store is a live serving index: ivf_topk_indexed
    over it returns k-deep rankings for a query batch."""
    from osarchiver_spark.operators.ivf import ivf_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    out = str(tmp_path / "out")
    export_vector_store(spark, sf_small, out, cents, threshold=THRESHOLD, nprobe=3)
    store = spark.read.parquet(f"{out}/store").withColumn(
        "cid", F.col("cid").cast("int")
    )
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    topk = ivf_topk_indexed(
        store, queries, "vec_id", "embedding", cents, k=5, nprobe=3
    ).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert by_q and all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_vector_export_chunked_probe_is_row_identical(spark, sf_small, tmp_path):
    """max_batch_rows below the corpus size forces the one-shot probe
    into hash chunks; matches are independent per query so the chunked
    union must land the identical store (the >1M-corpus path of
    ADVICE r09 item 1, exercised at fixture scale)."""
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    one = str(tmp_path / "one")
    chunked = str(tmp_path / "chunked")
    m1 = export_vector_store(
        spark, sf_small, one, cents, threshold=THRESHOLD, nprobe=3
    )
    m2 = export_vector_store(
        spark, sf_small, chunked, cents, threshold=THRESHOLD, nprobe=3,
        max_batch_rows=max(1, n // 3),  # forces >= 3 chunks
    )
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))
    rows = lambda d: sorted(
        (r.neighbor_id, r.cid, tuple(r.v))
        for r in spark.read.parquet(f"{d}/store")
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )
    assert rows(one) == rows(chunked)


def test_vector_export_indexed_oversized_batch_fails_before_write(
    spark, sf_small, tmp_path
):
    """A drop denser than max_batch_rows must fail BEFORE any append
    (the mid-build partial-store failure mode of ADVICE r09 item 1)."""
    import os

    import pytest

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="max_batch_rows"):
        export_vector_store_indexed(
            spark, sf_small, out, idx, cents,
            n_batches=2, threshold=THRESHOLD, nprobe=3,
            max_batch_rows=3,
        )
    assert not os.path.exists(f"{out}/store") and not os.path.exists(idx)


def test_guard_batch_precounted_rows_skip_the_scan(spark, sf_small, tmp_path):
    """batch_rows is the caller's pre-counted size: the guard trusts it
    (no second scan), raising iff the COUNT exceeds the cap."""
    import pytest

    from osarchiver_spark.operators.ivf import ivf_topk_indexed

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    idx = str(tmp_path / "idx")
    ivf_index(emb, "vec_id", "embedding", cents).write.partitionBy("cid").parquet(idx)
    index = spark.read.parquet(idx).withColumn("cid", F.col("cid").cast("int"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    n = queries.count()

    with pytest.raises(ValueError, match="max_batch_rows"):
        ivf_topk_indexed(
            index, queries, "vec_id", "embedding", cents,
            max_batch_rows=3, batch_rows=n,
        )
    got = ivf_topk_indexed(
        index, queries, "vec_id", "embedding", cents, k=5, nprobe=3,
        max_batch_rows=n, batch_rows=n,
    )
    ref = ivf_topk_indexed(
        index, queries, "vec_id", "embedding", cents, k=5, nprobe=3,
        max_batch_rows=None,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_vector_export_pq_store_incremental_identity(spark, sf_small, tmp_path):
    """pq_models writes the survivor store as PQ codes (the 100 TB
    serving format). Membership is decided on full vectors either way,
    and codes depend only on the frozen models — so the 3-drop
    incremental code store must be row-identical to the one-shot's."""
    from osarchiver_spark.operators.pq import pq_joint_fit, unit_frame

    emb = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    emb_n = unit_frame(emb, "vec_id", "embedding", "vec_id", "_uv")
    coarse, books = pq_joint_fit(
        emb_n, "vec_id", "_uv", n_clusters=8, m=16, codes=16
    )

    one = str(tmp_path / "one")
    inc = str(tmp_path / "inc")
    m1 = export_vector_store(
        spark, sf_small, one, cents, threshold=THRESHOLD, nprobe=3,
        pq_models=(coarse, books),
    )
    m2 = export_vector_store_indexed(
        spark, sf_small, inc, str(tmp_path / "didx"), cents,
        n_batches=3, threshold=THRESHOLD, nprobe=3,
        pq_models=(coarse, books),
    )
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))

    rows = lambda d: sorted(
        (r.neighbor_id, r.cid, tuple(r.code))
        for r in spark.read.parquet(f"{d}/store")
        .withColumn("cid", F.col("cid").cast("int"))
        .collect()
    )
    r1, r2 = rows(one), rows(inc)
    assert r1 == r2 and 0 < len(r1) < emb.count()
    # the store really is codes, not vectors
    cols = set(spark.read.parquet(f"{one}/store").columns)
    assert "code" in cols and "v" not in cols
    # and the same membership as the full-vector store
    full = str(tmp_path / "full")
    export_vector_store(spark, sf_small, full, cents, threshold=THRESHOLD, nprobe=3)
    ids = lambda d: sorted(
        r.neighbor_id for r in spark.read.parquet(f"{d}/store").collect()
    )
    assert ids(one) == ids(full)
