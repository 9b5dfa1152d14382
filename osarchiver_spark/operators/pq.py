"""IVF-PQ approximate nearest neighbor — the compressed-index serving
path (FAISS-style), completing the ANN family next to hyperplane LSH
(operators/similarity.py) and plain IVF (operators/ivf.py).

Why it matters at 100 TB: an IVF index still stores full vectors
(64 dims × float64 = 512 B/vector). Product quantization stores
``m`` small code ids per vector (here 4 × 16-code subspaces → 4
bytes, ~128× smaller), so the candidate-scoring pass streams a
byte-sized index instead of raw vectors; full vectors are touched
only for the final exact re-rank of a per-query shortlist.

Structure (every stage a DataFrame op or sanctioned Arrow/BLAS):

- normalize: ``unit_frame`` L2-normalizes every vector the index
  sees (corpus, training set, queries), the norm computed once per
  row.
- coarse quantizer + PQ codebooks: ``pq_joint_fit`` — the m+1
  independent Lloyd's trainings fused into ONE data pass per
  iteration by operators/ivf.py::_lloyd (model-sized partials
  only), so index build costs max(iters) corpus scans regardless of
  m, not (m+1)×iters sequential jobs.
- encode: one mapInPandas pass; codes = operators/blas.py::
  nearest_codes per subspace (ties to lowest code id →
  deterministic).
- search: probe ``nprobe`` nearest coarse cells (the IVF cell probe,
  operators/ivf.py::_probe_pandas, over unit queries), cogroup with the
  encoded corpus per cell, score candidates by ADC (asymmetric
  distance: per-query LUT of subspace distances, summed by code
  lookup — one gather per candidate, no vector math), keep a
  per-query shortlist, then EXACT cosine re-rank of the shortlist
  only (join back to full vectors by id).

Correctness contract mirrors knn_ivf: the registered query runs at
swept full-recall parameters (probe all cells + a shortlist wide
enough that the true top-k provably survives ADC at fixture scale)
so the exact brute-force ranking is its oracle; production
parameters keep pruning on and are recall-tested in
tests/test_pq.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark.functions.vectors import as_double
from osarchiver_spark.operators.blas import (
    centroid_dists,
    empty_pairs,
    global_topk,
    nearest_codes,
    pair_schema,
    vec_matrix,
)
from osarchiver_spark.operators.ivf import (
    INDEXED_PROBE_MAX_QUERIES as _IVF_DEFAULT_MAX_QUERIES,
    _assign_pandas,
    _lloyd,
    _probe_pandas,
    guard_batch,
    prep_indexed_probe,
)


def pq_joint_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    coarse_iters: int = 3,
    m: int = 4,
    codes: int = 16,
    pq_iters: int = 2,
) -> tuple[list[list[float]] | None, list[list[list[float]]]]:
    """Coarse quantizer + M per-subspace codebooks (each ``codes`` ×
    dim/m; dim % m == 0) in ONE fused Lloyd's loop
    (operators/ivf.py::_lloyd, the loop ``kmeans_fit`` runs): the m+1
    trainings are mutually independent, so a single data pass per
    iteration computes the assignment partials for all of them at once
    — ``1 + max(iters)`` Spark jobs total instead of ``(m+1) × (1 +
    iters)`` sequential ones. On a cluster the training cost is (max
    iters) scans of the corpus, independent of m; only model-sized
    partials reach the driver. Each model's math is ``kmeans_fit``'s
    (same init: lowest-id vectors; same tie-breaks).

    Pass ``n_clusters=0`` to skip the coarse model (returns ``None``
    for it) and train the codebooks alone."""
    groups = [(codes, pq_iters, m)]
    if n_clusters:
        groups.insert(0, (n_clusters, coarse_iters, 1))
    *coarse, books = _lloyd(corpus, id_col, vec_col, groups, None, "pq_joint_fit")
    return (coarse[0][0].tolist() if coarse else None, [b.tolist() for b in books])


def _encode_pandas(base: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Add a ``code`` array column: per-subspace nearest codebook
    entry (squared euclidean, ties to lowest id)."""
    B = [np.asarray(b, dtype="float64") for b in books]  # m × codes × sub
    schema = T.StructType(
        base.schema.fields + [T.StructField("code", T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf["code"] = list(nearest_codes(vec_matrix(pdf["v"]), B).astype("int32"))
            yield pdf

    return base.mapInPandas(encode, schema=schema)


def unit_frame(df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str) -> DataFrame:
    """(``id_as``, ``vec_as``): the vectors L2-normalized (zero vectors
    pass through). On unit vectors |q-v|^2 = 2 - 2*cos, so euclidean
    ADC ordering IS the cosine ordering — without this, PQ shortlists
    by euclidean while the re-rank scores cosine and the two disagree
    on unnormalized data.

    The row norm is its own column, computed once per row: written
    inside the ``transform`` lambda, Spark re-evaluates it (a
    zip_with + aggregate) for every element, O(d²) per row."""
    from osarchiver_spark.functions.vectors import norm

    v = df.select(F.col(id_col).alias(id_as), as_double(F.col(vec_col)).alias(vec_as))
    v = v.withColumn("_nrm", norm(F.col(vec_as)))
    return v.select(
        id_as,
        F.when(F.col("_nrm") > 0, F.transform(vec_as, lambda x: x / F.col("_nrm")))
        .otherwise(F.col(vec_as))
        .alias(vec_as),
    )


def _adc_shortlist(
    probed: DataFrame,
    encoded: DataFrame,
    books: list[list[list[float]]],
    shortlist: int,
    id_type,
) -> DataFrame:
    """Per-query ADC shortlist over PQ codes: cogroup probes with the
    encoded index per cell, score by per-query LUT gather (no vector
    math touches candidates), keep the global ``shortlist`` best ids
    per query. Output (query_id, neighbor_id)."""
    B = [np.asarray(b, dtype="float64") for b in books]
    sub = B[0].shape[1]

    adc_schema = pair_schema(id_type, score="adc")
    local_take = shortlist + 1  # headroom for the self-match row

    def adc_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty_pairs(score="adc")
        Q = vec_matrix(left["qv"])
        codes_mat = np.stack(
            [np.asarray(c, dtype="int64") for c in right["code"].to_numpy()]
        )  # n_cand × m
        nids = right["neighbor_id"].to_numpy()
        qids = left["query_id"].to_numpy()
        # ADC vectorized over query BLOCKS (not per query, not the
        # whole group): per subspace, one matmul builds the block's
        # LUT rows (bq × codes) and one fancy-index gather scores
        # every candidate (bq × nc); sequential += over subspaces
        # keeps the summation order deterministic. The block bound
        # caps the materialized distance matrix at ~block × nc
        # doubles — whole-group vectorization allocated nq × nc
        # (~310 MB per 31k-candidate cell at sf10) and went
        # memory-bound, the per-query loop pays python per row; 256
        # is the middle that wins at both fixture and sf10 scale.
        block = 256
        n_keep = min(local_take, codes_mat.shape[0])
        out_q, out_n, out_d = [], [], []
        for s in range(0, len(Q), block):
            Qb = Q[s : s + block]
            d = np.zeros((len(Qb), codes_mat.shape[0]))
            for j in range(len(B)):
                lut_j = centroid_dists(Qb[:, j * sub : (j + 1) * sub], B[j])
                d += lut_j[:, codes_mat[:, j]]
            order = np.lexsort((np.broadcast_to(nids, d.shape), d), axis=1)[:, :n_keep]
            out_q.append(np.repeat(qids[s : s + block], n_keep))
            out_n.append(nids[order].reshape(-1))
            out_d.append(np.take_along_axis(d, order, axis=1).reshape(-1))
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "adc": np.concatenate(out_d),
            }
        )

    local = (
        probed.groupBy("cid")
        .cogroup(encoded.groupBy("cid"))
        .applyInPandas(adc_group, schema=adc_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w_adc = W.partitionBy("query_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    return (
        local.withColumn("srank", F.row_number().over(w_adc))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", "neighbor_id")
    )


def _exact_rerank(
    short: DataFrame,
    qbase: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine re-rank: only shortlist × (qv, v) pairs see full
    vectors (cosine is scale-invariant, so the normalized qv against
    the raw corpus vector is exact)."""
    from osarchiver_spark.functions.vectors import cosine

    nvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("v")
    )
    paired = short.join(qbase, "query_id").join(nvecs, "neighbor_id")
    scored = paired.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
    )
    return global_topk(scored, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 16,
    codes: int = 16,
    shortlist: int = 32,
    train_sample: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors via IVF cells + PQ-coded shortlisting +
    exact re-rank. Output (query_id, rank, neighbor_id, cosine) —
    identical shape and tie-break to brute_force_topk.

    ``m`` must divide the vector dim; m=16 over 64 dims = 4-dim
    subspaces, the granularity that keeps ADC informative even on
    near-uniform data (the fixture's worst case — wider subspaces
    collapse all codebook entries toward the mean there). Oracle-mode
    callers disable the two lossy stages (``nprobe`` = n_clusters,
    ``shortlist`` >= corpus) so the exact ranking survives and the
    brute-force oracle applies — mirroring IVF's nprobe convention;
    production parameters keep both cuts and are recall-tested.

    ``train_sample``: cap codebook TRAINING at ~this many vectors via
    a deterministic hash sample (xxhash64(id) mod ratio) — the
    standard IVF/PQ practice at scale: Lloyd's fits a model-sized
    sample (centroids converge on the sample distribution), then the
    ENCODE pass still covers the full corpus, so index completeness
    is unaffected; only training cost drops from iters × corpus
    scans to iters × sample scans. None (default, and the registered
    oracle-mode form) trains on everything. Production recall with
    sampled training is pinned in tests/test_pq.py."""
    train = unit_frame(corpus, id_col, vec_col, "vid", "v")
    if train_sample is not None:
        ratio = max(1, corpus.count() // max(1, train_sample))
        if ratio > 1:
            train = train.filter(F.pmod(F.xxhash64(F.col("vid")), F.lit(ratio)) == 0)
    coarse, books = pq_joint_fit(train, "vid", "v", n_clusters=n_clusters, m=m, codes=codes)

    encoded = ivf_pq_index(corpus, id_col, vec_col, coarse, books)
    id_type = queries.schema[id_col].dataType
    qbase = unit_frame(queries, id_col, vec_col, "query_id", "qv")
    probed = _probe_pandas(qbase, coarse, nprobe)
    short = _adc_shortlist(probed, encoded, books, shortlist, id_type)
    return _exact_rerank(short, qbase, corpus, id_col, vec_col, k)


#: Fixed on-disk layout of an ivf_pq_index code store (cid is the
#: partition directory column) — the PQ twin of
#: :data:`~osarchiver_spark.operators.ivf.IVF_STORE_SCHEMA`.
PQ_STORE_SCHEMA = "neighbor_id bigint, code array<int>, cid int"


def ivf_pq_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    coarse: list[list[float]],
    books: list[list[list[float]]],
) -> DataFrame:
    """The PERSISTABLE compressed inverted file — the FAISS IVFPQ
    on-disk shape: every corpus vector L2-normalized, assigned to its
    nearest coarse cell, and PQ-encoded. Columns
    (neighbor_id, cid, code) — code is the m-entry array of subspace
    codebook ids; full vectors are NOT stored (at m=16 int codes the
    index carries ~16 small ints per 64-float vector; the exact
    re-rank fetches raw vectors from the source table by id for the
    shortlist only). Write it
    ``.write.partitionBy("cid").parquet(dir)`` so a probe's
    ``cid IN (...)`` prunes whole cell DIRECTORIES at the source.

    Incremental maintenance mirrors :func:`~osarchiver_spark.
    operators.ivf.ivf_index`: coarse centroids AND codebooks stay
    FROZEN between retrains (FAISS ``IndexIVFPQ.add`` semantics), so
    appending a drop's encodings is row-identical to a one-shot build
    over the unioned corpus — pinned in tests/test_pq.py."""
    return _encode_pandas(
        _assign_pandas(unit_frame(corpus, id_col, vec_col, "neighbor_id", "v"), coarse),
        books,
    ).select("neighbor_id", "cid", "code")


def ivf_pq_reindex(
    index: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    new_coarse: list[list[float]],
    new_books: list[list[list[float]]],
) -> DataFrame:
    """Migrate a standing COMPRESSED inverted file to a RETRAINED
    model (new coarse centroids AND new codebooks): the PQ twin of
    :func:`~osarchiver_spark.operators.ivf.ivf_reindex`. Old codes are
    meaningless under new codebooks, and the code index stores no
    vectors — so migration re-fetches full vectors from ``corpus`` for
    exactly the index's MEMBERSHIP (a semi-join on id: the store's
    membership — e.g. dedup survivors — is what the migration
    preserves; the source table is what FAISS re-``add``s after a new
    ``train()``), then re-assigns + re-encodes under the new model.

    Cost shape at scale: one id semi-join (the index side carries only
    ids+codes, bytes-small) + the same single encode pass a fresh
    build runs — there is no cheaper path, since every output byte
    depends on the new model. Output is row-identical to
    ``ivf_pq_index(members, new_coarse, new_books)`` — pinned in
    tests/test_pq.py. Write to a NEW directory and swap; never append
    onto the old-model layout."""
    members = corpus.join(
        index.select(F.col("neighbor_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    return ivf_pq_index(members, id_col, vec_col, new_coarse, new_books)


def ivf_pq_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 32,
    max_batch_rows: int | None = _IVF_DEFAULT_MAX_QUERIES,
    batch_rows: int | None = None,
    prepped: tuple[DataFrame, list[int]] | None = None,
) -> DataFrame:
    """Probe an EXISTING compressed inverted file (:func:`ivf_pq_index`
    read back from its cid-partitioned layout): per-drop ANN cost that
    is probe-shaped in BYTES as well as rows — the scoring pass reads
    only the probed cells' partitions and streams PQ codes (bytes per
    vector), never vectors; ``corpus`` supplies full vectors solely
    for the exact re-rank of the per-query shortlist (an id equi-join,
    shortlist × queries rows).

    Same single-traversal + batch-contract discipline as
    :func:`~osarchiver_spark.operators.ivf.ivf_topk_indexed`: the
    probed frame is materialized once (executor-local, auto-released),
    the collected cid set is MODEL-sized, and ``max_batch_rows``
    (default :data:`~osarchiver_spark.operators.ivf.
    INDEXED_PROBE_MAX_QUERIES`; ``None`` disables) fails oversized
    query batches with one truncated scan — or for free when the
    caller passes an already-known ``batch_rows``."""
    guard_batch(queries, max_batch_rows, "ivf_pq_topk_indexed", batch_rows)

    probed, cids = prepped if prepped is not None else prep_indexed_probe(
        unit_frame(queries, id_col, vec_col, "query_id", "qv"), coarse, nprobe
    )
    id_type = queries.schema[id_col].dataType
    pruned = index.filter(F.col("cid").isin(cids))
    short = _adc_shortlist(probed, pruned, books, shortlist, id_type)
    # re-rank reads qv from the materialized probe (distinct per
    # query) rather than re-scanning the query table
    qvecs = probed.select("query_id", "qv").dropDuplicates(["query_id"])
    return _exact_rerank(short, qvecs, corpus, id_col, vec_col, k)
