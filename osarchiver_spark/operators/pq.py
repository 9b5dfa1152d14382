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

- coarse quantizer + PQ codebooks: ``pq_joint_fit`` — the m+1
  independent Lloyd's trainings fused into ONE data pass per
  iteration (model-sized partials only), so index build costs
  max(iters) corpus scans regardless of m, not (m+1)×iters
  sequential jobs.
- encode: one mapInPandas pass; codes = argmin distance per
  subspace (ties to lowest code id → deterministic).
- search: probe ``nprobe`` nearest coarse cells, cogroup with the
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
from osarchiver_spark.operators.blas import empty_pairs, pair_schema, vec_matrix
from osarchiver_spark.operators.ivf import (
    INDEXED_PROBE_MAX_QUERIES as _IVF_DEFAULT_MAX_QUERIES,
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
    """Coarse quantizer + M per-subspace codebooks in ONE fused
    Lloyd's loop. The m+1 trainings are mutually independent, so a
    single data pass per iteration can compute the assignment partials
    for all of them at once — ``1 + max(iters)`` Spark jobs total
    instead of ``(m+1) × (1 + iters)`` sequential ones. On a cluster
    the training cost is (max iters) scans of the corpus, independent
    of m; only model-sized (group, code, sum, n) partials reach the
    driver. The per-model math is identical to running ``kmeans_fit``
    separately (same init: lowest-id vectors; same tie-breaks), so
    results are byte-equal to the unfused form.

    Pass ``n_clusters=0`` to skip the coarse model (returns ``None``
    for it) — that is ``pq_train``'s path."""
    base = corpus.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).cache()
    try:
        n_init = max(n_clusters, codes)
        # dim comes from the init rows — one job populates the cache
        # AND seeds the models, instead of a separate first() pass
        # (r11 optimization round: each fit is a sequential chain of
        # model-sized jobs, so every removed job is wall-clock)
        init = base.orderBy("vid").limit(n_init).collect()
        if not init:
            raise ValueError("pq_joint_fit: input relation has no rows")
        dim = len(init[0].v)
        if dim % m:
            raise ValueError(f"dim {dim} not divisible into {m} subspaces")
        sub = dim // m
        init_mat = vec_matrix([r.v for r in init])
        coarse = init_mat[:n_clusters].copy() if n_clusters else None
        books = [init_mat[:codes, j * sub : (j + 1) * sub].copy() for j in range(m)]

        partial_schema = T.StructType(
            [
                T.StructField("grp", T.IntegerType()),  # -1 coarse, j >= 0 subspace
                T.StructField("cid", T.IntegerType()),
                T.StructField("s", T.ArrayType(T.DoubleType())),
                T.StructField("n", T.LongType()),
            ]
        )

        for it in range(max(coarse_iters if n_clusters else 0, pq_iters)):
            do_coarse = n_clusters and it < coarse_iters
            do_pq = it < pq_iters
            C = coarse.copy() if do_coarse else None
            c_sq = (C * C).sum(axis=1) if do_coarse else None
            B = [b.copy() for b in books] if do_pq else None
            b_sq = [(bb * bb).sum(axis=1) for bb in B] if do_pq else None

            def partials(batches, C=C, c_sq=c_sq, B=B, b_sq=b_sq):
                c_sum = np.zeros((n_clusters, dim)) if C is not None else None
                c_n = np.zeros(n_clusters, dtype="int64") if C is not None else None
                p_sum = [np.zeros((codes, sub)) for _ in range(m)] if B is not None else None
                p_n = [np.zeros(codes, dtype="int64") for _ in range(m)] if B is not None else None
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    V = vec_matrix(pdf["v"])
                    if C is not None:
                        cid = (-2.0 * (V @ C.T) + c_sq).argmin(axis=1)
                        np.add.at(c_sum, cid, V)
                        c_n += np.bincount(cid, minlength=n_clusters)
                    if B is not None:
                        for j in range(m):
                            Vj = V[:, j * sub : (j + 1) * sub]
                            code = (-2.0 * (Vj @ B[j].T) + b_sq[j]).argmin(axis=1)
                            np.add.at(p_sum[j], code, Vj)
                            p_n[j] += np.bincount(code, minlength=codes)
                grp, cid_o, s_o, n_o = [], [], [], []
                if C is not None:
                    live = np.flatnonzero(c_n)
                    grp += [-1] * len(live)
                    cid_o += live.tolist()
                    s_o += [c_sum[i] for i in live]
                    n_o += c_n[live].tolist()
                if B is not None:
                    for j in range(m):
                        live = np.flatnonzero(p_n[j])
                        grp += [j] * len(live)
                        cid_o += live.tolist()
                        s_o += [p_sum[j][i] for i in live]
                        n_o += p_n[j][live].tolist()
                # "s" must be an OBJECT series: with zero output rows
                # (an empty input split — routine once the scan has
                # more tasks than row groups) a bare list infers dtype
                # float64 and Arrow refuses ndarray->list<double>
                yield pd.DataFrame(
                    {
                        "grp": np.asarray(grp, dtype="int32"),
                        "cid": np.asarray(cid_o, dtype="int32"),
                        "s": pd.Series(s_o, dtype="object"),
                        "n": np.asarray(n_o, dtype="int64"),
                    }
                )

            rows = base.mapInPandas(partials, schema=partial_schema).collect()
            if do_coarse:
                sums = np.zeros((n_clusters, dim))
                counts = np.zeros(n_clusters, dtype="int64")
                for r in rows:
                    if r.grp == -1:
                        sums[r.cid] += np.asarray(r.s)
                        counts[r.cid] += r.n
                for i in range(n_clusters):
                    if counts[i]:
                        coarse[i] = sums[i] / counts[i]
            if do_pq:
                sums_j = [np.zeros((codes, sub)) for _ in range(m)]
                counts_j = [np.zeros(codes, dtype="int64") for _ in range(m)]
                for r in rows:
                    if r.grp >= 0:
                        sums_j[r.grp][r.cid] += np.asarray(r.s)
                        counts_j[r.grp][r.cid] += r.n
                for j in range(m):
                    for i in range(codes):
                        if counts_j[j][i]:
                            books[j][i] = sums_j[j][i] / counts_j[j][i]
        return (
            coarse.tolist() if coarse is not None else None,
            [b.tolist() for b in books],
        )
    finally:
        base.unpersist()


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    codes: int = 16,
    iters: int = 2,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """M per-subspace codebooks (each ``codes`` × dim/m); one fused
    Lloyd's loop over all subspaces (see pq_joint_fit). Requires
    dim % m == 0."""
    _, books = pq_joint_fit(
        corpus, id_col, vec_col, n_clusters=0, m=m, codes=codes, pq_iters=iters
    )
    return books


def _encode_pandas(base: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Add a ``code`` array column: per-subspace nearest codebook
    entry (squared euclidean, ties to lowest id)."""
    B = [np.asarray(b, dtype="float64") for b in books]  # m × codes × sub
    b_sq = [(C * C).sum(axis=1) for C in B]
    sub = B[0].shape[1]
    schema = T.StructType(
        base.schema.fields + [T.StructField("code", T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = vec_matrix(pdf["v"])
            cols = []
            for j, (C, csq) in enumerate(zip(B, b_sq)):
                Vj = V[:, j * sub : (j + 1) * sub]
                cols.append((-2.0 * (Vj @ C.T) + csq).argmin(axis=1))
            pdf = pdf.copy()
            pdf["code"] = list(np.stack(cols, axis=1).astype("int32"))
            yield pdf

    return base.mapInPandas(encode, schema=schema)


def _unit_expr(vec_col: str):
    """L2-normalization expression (zero vectors pass through).
    On unit vectors |q-v|^2 = 2 - 2*cos, so euclidean ADC ordering IS
    the cosine ordering — without this, PQ shortlists by euclidean
    while the re-rank scores cosine and the two disagree on
    unnormalized data."""
    from osarchiver_spark.functions.vectors import norm

    nrm = norm(as_double(F.col(vec_col)))
    return F.when(
        nrm > 0, F.transform(as_double(F.col(vec_col)), lambda x: x / nrm)
    ).otherwise(as_double(F.col(vec_col)))


def _probe_coarse(
    qbase: DataFrame, coarse: list[list[float]], nprobe: int, id_type
) -> DataFrame:
    """(query_id, qv, cid) — each (normalized) query repeated once per
    probed coarse cell; stable argsort ties to the lowest cid."""
    C = np.asarray(coarse, dtype="float64")
    c_sq = (C * C).sum(axis=1)
    probe_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("qv", T.ArrayType(T.DoubleType())),
            T.StructField("cid", T.IntegerType()),
        ]
    )
    n_take = min(nprobe, len(coarse))

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = vec_matrix(pdf["qv"])
            d = -2.0 * (Q @ C.T) + c_sq
            near = np.argsort(d, axis=1, kind="stable")[:, :n_take]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=object).repeat(n_take),
                    "qv": pdf["qv"].to_numpy().repeat(n_take),
                    "cid": near.reshape(-1).astype("int32"),
                }
            )

    return qbase.mapInPandas(probe, schema=probe_schema)


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
    b_sq = [(bb * bb).sum(axis=1) for bb in B]
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
                lut_j = -2.0 * (Qb[:, j * sub : (j + 1) * sub] @ B[j].T) + b_sq[j]
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
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


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
    unit = _unit_expr(vec_col)
    corpus_n = corpus.select(F.col(id_col), unit.alias("_uv"))
    queries_n = queries.select(F.col(id_col), unit.alias("_uv"))

    train = corpus_n
    if train_sample is not None:
        ratio = max(1, corpus_n.count() // max(1, train_sample))
        if ratio > 1:
            train = corpus_n.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(ratio)) == 0
            )
    coarse, books = pq_joint_fit(
        train, id_col, "_uv", n_clusters=n_clusters, m=m, codes=codes
    )

    encoded = ivf_pq_index(corpus, id_col, vec_col, coarse, books)
    id_type = queries.schema[id_col].dataType
    qbase = queries_n.select(F.col(id_col).alias("query_id"), F.col("_uv").alias("qv"))
    probed = _probe_coarse(qbase, coarse, nprobe, id_type)
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
    from osarchiver_spark.operators.ivf import _assign_pandas

    corpus_n = corpus.select(F.col(id_col), _unit_expr(vec_col).alias("_uv"))
    return _encode_pandas(
        _assign_pandas(
            corpus_n.select(F.col(id_col).alias("neighbor_id"), F.col("_uv").alias("v")),
            coarse,
        ).select("neighbor_id", "v", "cid"),
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


def prep_pq_indexed_probe(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    coarse: list[list[float]],
    nprobe: int,
) -> tuple[DataFrame, list[int]]:
    """PQ twin of :func:`~osarchiver_spark.operators.ivf.
    prep_indexed_probe`: normalize + probe the query side once
    (transient) and collect the model-sized cid set — runnable as a
    concurrent driver-thread job while the code store is written
    (guide §2.6)."""
    from osarchiver_spark.operators.cache import transient

    id_type = queries.schema[id_col].dataType
    qbase = queries.select(
        F.col(id_col).alias("query_id"), _unit_expr(vec_col).alias("qv")
    )
    probed = transient(_probe_coarse(qbase, coarse, nprobe, id_type))
    cids = sorted(r["cid"] for r in probed.select("cid").distinct().collect())
    return probed, cids


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
    from osarchiver_spark.operators.ivf import guard_batch

    guard_batch(queries, max_batch_rows, "ivf_pq_topk_indexed", batch_rows)

    probed, cids = prepped if prepped is not None else prep_pq_indexed_probe(
        queries, id_col, vec_col, coarse, nprobe
    )
    id_type = queries.schema[id_col].dataType
    pruned = index.filter(F.col("cid").isin(cids))
    short = _adc_shortlist(probed, pruned, books, shortlist, id_type)
    # re-rank reads qv from the materialized probe (distinct per
    # query) rather than re-scanning the query table
    qvecs = probed.select("query_id", "qv").dropDuplicates(["query_id"])
    return _exact_rerank(short, qvecs, corpus, id_col, vec_col, k)
