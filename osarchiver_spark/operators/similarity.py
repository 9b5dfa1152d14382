"""Similarity search over embedding columns (north-star).

Two paths:

- brute-force top-k: exact cosine against a bounded query set —
  queries × corpus is a broadcast join (queries are small by
  definition), corpus side streams, ranking is a per-query window.
- LSH-bucketed ANN: random-hyperplane buckets (deterministic md5
  coefficients) turn candidate generation into a bucket equi-join;
  multi-probe (flip one plane) trades recall for fan-out. This is
  the 100 TB path: no cross join ever materializes.

All dot products run through zip_with/aggregate — JVM codegen,
float64 accumulation, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osarchiver_spark.functions.vectors import as_double, hyperplane_sign_bits
from osarchiver_spark.operators.blas import global_topk


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_query_rows: int = 200_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries: (id_col, vec_col) — bounded-small by definition (it's
    the probe set), so it ships to every task as a dense matrix in
    the mapInPandas closure — the same bytes a broadcast join would
    ship, minus a per-pair Arrow row for every (query, corpus)
    combination. Each corpus batch is one BLAS matmul; only the
    per-batch top-(k+1) candidate IDS leave Python, and a global
    window finishes the selection (top-k is associative under the
    same (rounded cosine desc, id asc) order, so batch-local
    pre-selection is exact). Ranking uses the ROUNDED similarity
    with id tie-break so results are engine-reproducible.

    The model-sized contract is ENFORCED: more than ``max_query_rows``
    query vectors raises ValueError (collected through limit(max+1),
    so the failure costs one truncated scan, not a driver OOM).
    """
    import numpy as np

    from osarchiver_spark.operators.blas import (
        cosine_matrix,
        local_topk,
        pair_schema,
        safe_norms,
        vec_matrix,
    )

    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        )
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"brute_force_topk: query set exceeds max_query_rows="
            f"{max_query_rows}; the probe matrix ships in every task "
            f"closure. Batch the queries or raise the bound deliberately."
        )
    out_schema = pair_schema(queries.schema[id_col].dataType)
    if not q_rows:  # no probe vectors: no neighbors
        return global_topk(corpus.sparkSession.createDataFrame([], out_schema), k)
    # object dtype keeps string/uuid ids intact through numpy ops
    qids = np.array([r.query_id for r in q_rows], dtype=object)
    Q = vec_matrix([r.qv for r in q_rows])
    qn = safe_norms(Q)
    take = k + 1  # headroom for the self-match row

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = vec_matrix(pdf["cv"])
            S = cosine_matrix(Q, V, qn, safe_norms(V))  # n_q × n_batch
            yield local_topk(qids, pdf["neighbor_id"].to_numpy(dtype=object), S, take)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    return global_topk(c.mapInPandas(score, schema=out_schema), k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Corpus vectors land in 2^n_planes buckets; a query probes every
    bucket within ``probe_hamming`` bit flips of its own (multi-probe
    LSH: 1 + C(n,1) + C(n,2) probes for hamming 2). Candidates come
    from the bucket equi-join; exact cosine re-ranks them. Recall is
    tested against brute_force_topk in tests/test_similarity.py.

    Tuning note: the fixture embeddings are near-uniform random (top
    neighbors at cosine ≈ 0.45 → per-plane agreement p ≈ 0.65), the
    worst case for hyperplane LSH — hence few planes + deep probing.
    Real clustered embeddings (near-dups at cosine ≥ 0.9, p ≥ 0.85)
    support more planes and shallower probing at much higher recall.
    """
    from osarchiver_spark.operators.blas import cogroup_topk_cosine

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("v"),
        hyperplane_sign_bits(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        hyperplane_sign_bits(F.col(vec_col), n_planes, dim).alias("qbucket"),
    )
    from itertools import combinations

    masks = [
        sum(1 << p for p in flips)
        for h in range(min(probe_hamming, n_planes) + 1)
        for flips in combinations(range(n_planes), h)
    ]
    probes = F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks])
    q_probed = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    # candidate generation stays a bucket equi-cogroup (never a cross
    # join); scoring is one matmul per bucket (a corpus vector lives in
    # exactly one bucket, so (query, neighbor) pairs are unique across
    # groups and the group-local top-k merge is exact)
    return global_topk(cogroup_topk_cosine(q_probed, c, "bucket", k), k)
