"""IVF (inverted-file) approximate nearest neighbor — the second
scale path for similarity search next to hyperplane LSH
(operators/similarity.py).

Index build = k-means (Lloyd's) as DataFrame passes. Dense per-row
linear algebra (distance-to-centroid, in-cluster cosine grams) is
the sanctioned Arrow/Pandas case — the JVM higher-order-function
form evaluates interpreted outside whole-stage codegen and its plan
carries k×dim literals, which benched ~4× slower at sf0.1. So:

- assignment: mapInPandas, one BLAS matmul per Arrow batch against
  the (k × dim) centroid matrix carried in the task closure —
  model-sized, the same thing a broadcast would ship. The kernel is
  operators/blas.py::nearest_codes / centroid_dists.
- update: per-batch partial (grp, slice, cid, sum_vec, n) rows — a
  tree aggregation; only batches × k model-sized rows reach the
  driver, never the data. ``_lloyd`` is the one Lloyd's loop: it
  fits ``kmeans_fit``'s single model and ``pq.pq_joint_fit``'s coarse
  quantizer + subspace codebooks in one data pass per iteration.
- search: probe each query's ``nprobe`` nearest centroids
  (``_probe_pandas`` over a (query_id, qv) frame, shared with
  IVF-PQ, which passes unit vectors), cogroup
  queries and corpus on cluster id, one matmul per cluster, emit the
  per-cluster top-k, then a global window picks the final k. Fan-out
  is nprobe/k of the corpus instead of all of it, and only
  candidate *ids* (k per query per probed cluster) leave Python.

Determinism: centroids initialize from the k lowest-id vectors and
np.argmin/argsort tie-break by first index, so results are
reproducible run-to-run (recall asserted in tests/test_ivf.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark.functions.vectors import as_double
from osarchiver_spark.operators.blas import (
    centroid_dists,
    cogroup_threshold_cosine,
    cogroup_topk_cosine,
    global_topk,
    nearest_codes,
    vec_matrix,
)


def _assign_pandas(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Add a ``cid`` column: index of the nearest centroid (squared
    euclidean, ties to the lowest cid). One matmul per Arrow batch."""
    C = np.asarray(centroids, dtype="float64")  # k × dim, model-sized
    schema = T.StructType(base.schema.fields + [T.StructField("cid", T.IntegerType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf["cid"] = nearest_codes(vec_matrix(pdf["v"]), [C])[:, 0].astype("int32")
            yield pdf

    return base.mapInPandas(assign, schema=schema)


def _zero_partials(models: dict) -> tuple[dict, dict]:
    """Per-model (sums, counts) accumulators, shaped like ``models``."""
    sums = {g: [np.zeros_like(b) for b in books] for g, books in models.items()}
    counts = {g: [np.zeros(len(b), dtype="int64") for b in books] for g, books in models.items()}
    return sums, counts


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.IntegerType()),
        T.StructField("slice", T.IntegerType()),
        T.StructField("cid", T.IntegerType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("n", T.LongType()),
    ]
)


def _lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    groups: list[tuple[int, int, int]],
    quantize: int | None,
    op_name: str,
) -> list[list[np.ndarray]]:
    """Fused Lloyd's iterations for independent model groups. A group
    ``(k, iters, m)`` is m k-models, one per equal column slice of the
    vectors (m=1: plain k-means; m>1: product-quantizer books). Every
    iteration assigns all live models in ONE data pass (a group is
    live while its iteration count lasts), so a fit costs ``1 +
    max(iters)`` Spark jobs: the init collect, which also fills the
    cache, then one pass per iteration whose model-sized (grp, slice,
    cid, sum, n) partials tree-aggregate on the driver.

    Init: each model starts from the lowest-id vectors (one ``limit(max
    k)`` collect); an empty cluster keeps its previous centroid;
    ``quantize`` rounds every updated mean. Returns each group's m
    books (k × dim/m arrays; fewer than k rows when the input is
    smaller than k)."""
    base = df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")).cache()
    try:
        init = base.orderBy("vid").limit(max(k for k, _, _ in groups)).collect()
        if not init:
            raise ValueError(f"{op_name}: input relation has no rows")
        init_mat = vec_matrix([r.v for r in init])
        dim = init_mat.shape[1]
        for _, _, m in groups:
            if dim % m:
                raise ValueError(f"dim {dim} not divisible into {m} subspaces")
        models = [
            [init_mat[:k, j * (dim // m) : (j + 1) * (dim // m)].copy() for j in range(m)]
            for k, _, m in groups
        ]
        for it in range(max(iters for _, iters, _ in groups)):
            # the closure is pickled when the pass is planned, before
            # the driver updates ``models`` in place below
            live = {g: models[g] for g, (_, iters, _) in enumerate(groups) if it < iters}

            def partials(batches, live=live):
                sums, counts = _zero_partials(live)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    V = vec_matrix(pdf["v"])
                    for g, books in live.items():
                        codes = nearest_codes(V, books)
                        sub = V.shape[1] // len(books)
                        for j in range(len(books)):
                            np.add.at(sums[g][j], codes[:, j], V[:, j * sub : (j + 1) * sub])
                            counts[g][j] += np.bincount(codes[:, j], minlength=len(books[j]))
                rows = [
                    (g, j, i, sums[g][j][i], counts[g][j][i])
                    for g in live
                    for j in range(len(live[g]))
                    for i in np.flatnonzero(counts[g][j])
                ]
                if not rows:  # empty partition: an empty frame's "s"
                    return  # column would arrive numeric-typed and break Arrow
                grp, sl, cid, s, n = zip(*rows)
                yield pd.DataFrame(
                    {
                        "grp": np.asarray(grp, dtype="int32"),
                        "slice": np.asarray(sl, dtype="int32"),
                        "cid": np.asarray(cid, dtype="int32"),
                        "s": list(s),
                        "n": np.asarray(n, dtype="int64"),
                    }
                )

            # tree-aggregate: one model-sized row per (task, live model, cid)
            rows = base.mapInPandas(partials, schema=_PARTIAL_SCHEMA).collect()
            sums, counts = _zero_partials(live)
            for g, j, i, s, n in rows:
                sums[g][j][i] += np.asarray(s)
                counts[g][j][i] += n
            for g in live:
                for j, book in enumerate(models[g]):
                    for i in np.flatnonzero(counts[g][j]):  # empty: keep previous
                        mean = sums[g][j][i] / counts[g][j][i]
                        book[i] = mean if quantize is None else np.round(mean, quantize)
        return models
    finally:
        base.unpersist()


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iters: int = 3,
    quantize: int | None = None,
) -> list[list[float]]:
    """Lloyd's iterations; returns k centroids (driver-side model).

    ``quantize`` rounds each updated mean to that many decimals
    before the next assignment pass. With it set, the whole
    clustering becomes bit-reproducible across engines (a SQL replay
    of the same iterations lands on identical centroids — the
    property operators/semdedup.py's exact oracle relies on);
    cross-engine summation-order noise (~1e-12) sits far below the
    rounding grid. ``None`` keeps raw float64 means (the IVF default,
    where only ranking — not bit equality — matters)."""
    [[centroids]] = _lloyd(df, id_col, vec_col, [(k, iters, 1)], quantize, "kmeans_fit")
    return centroids.tolist()


def _probe_pandas(qframe: DataFrame, centroids: list[list[float]], nprobe: int) -> DataFrame:
    """(query_id, qv, cid) from a (query_id, qv) frame — each query
    repeated once per probed cell: its ``nprobe`` nearest centroids
    (squared euclidean, stable argsort so ties go to the lowest cid).
    One matmul per Arrow batch against the model-sized centroid
    matrix. The caller's frame decides what is probed: raw vectors
    for IVF (:func:`query_frame`), unit vectors for IVF-PQ
    (operators/pq.py::unit_frame)."""
    C = np.asarray(centroids, dtype="float64")
    probe_schema = T.StructType(
        [
            T.StructField("query_id", qframe.schema["query_id"].dataType),
            T.StructField("qv", T.ArrayType(T.DoubleType())),
            T.StructField("cid", T.IntegerType()),
        ]
    )
    n_take = min(nprobe, len(centroids))  # nprobe > k just probes everything

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d = centroid_dists(vec_matrix(pdf["qv"]), C)
            near = np.argsort(d, axis=1, kind="stable")[:, :n_take]  # ties to lowest cid
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=object).repeat(n_take),
                    "qv": pdf["qv"].to_numpy().repeat(n_take),
                    "cid": near.reshape(-1).astype("int32"),
                }
            )

    return qframe.mapInPandas(probe, schema=probe_schema)


def query_frame(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv): the raw query vectors an IVF probe reads."""
    return queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k neighbors via IVF probing."""
    if centroids is None:
        centroids = kmeans_fit(corpus, id_col, vec_col, k=n_clusters)

    c_assigned = _assign_pandas(
        corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("v")),
        centroids,
    )
    probed = _probe_pandas(query_frame(queries, id_col, vec_col), centroids, nprobe)
    return global_topk(cogroup_topk_cosine(probed, c_assigned, "cid", k), k)


#: Fixed on-disk layout of an ivf_index store (cid is the partition
#: directory column). Readers should declare it instead of
#: re-inferring footers + casting the inferred partition type —
#: the streaming maintenance loop re-read the GROWING index with
#: inference every micro-batch before r11's optimization round.
IVF_STORE_SCHEMA = "neighbor_id bigint, v array<double>, cid int"


def ivf_index(
    corpus: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """The PERSISTABLE inverted file: every corpus vector assigned to
    its nearest centroid — columns (neighbor_id, v, cid). Write it
    ``.write.partitionBy("cid").parquet(dir)`` so a later probe's
    ``cid IN (...)`` prunes whole list DIRECTORIES at the source
    (PartitionFilters, zero bytes read from unprobed lists — the
    vector analog of the MinHash band index's band_key sorting).

    Incremental maintenance is the same call on the new drop +
    ``mode("append")``: IVF practice keeps centroids FROZEN between
    retrains (a new vector joins its nearest existing list; FAISS
    ``IndexIVF.add`` is exactly this), so an appended index is
    row-identical to one built from the unioned corpus — pinned in
    tests/test_ivf.py. Retrain centroids when drift matters, not per
    drop."""
    return _assign_pandas(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("v")
        ),
        centroids,
    )


def ivf_reindex(
    index: DataFrame, new_centroids: list[list[float]]
) -> DataFrame:
    """Migrate a standing inverted file to a RETRAINED model: re-assign
    every stored vector to its nearest NEW centroid. This is the
    operational other half of the frozen-model story — ``ivf_index``
    freezes centroids between retrains (FAISS ``IndexIVF.add``), and
    when drift makes the frozen cells stale (hot cells, decaying probe
    recall), the retrain path is: fit new centroids, ``ivf_reindex``
    the standing store, write the result to a NEW directory, swap the
    serving pointer atomically. Mirrors FAISS retrain practice (a new
    ``train()`` requires re-``add``-ing the corpus — reference:
    ``IndexIVF.train`` invalidates prior assignments).

    The store already carries full vectors, so migration is ONE
    assignment pass over the index — no source-table join, no
    re-shuffle beyond the partitioned write. Because the stored
    (neighbor_id, v) rows ARE the corpus rows, the output is
    row-identical to ``ivf_index(corpus, new_centroids)`` over the
    same membership — fingerprint-pinned in tests/test_ivf.py.

    Output columns (neighbor_id, v, cid) — same shape as
    :func:`ivf_index`; write with ``.partitionBy("cid")`` to a fresh
    path (never append onto the old-model layout: cid meanings
    changed)."""
    return _assign_pandas(index.select("neighbor_id", "v"), new_centroids)


#: Query-batch bound for :func:`ivf_topk_indexed`. The probed frame
#: is materialized into executor-local storage (query rows × nprobe,
#: each carrying a qv vector), so the query side must be drop/batch-
#: sized — the same contract as the other incremental probes
#: (operators/dedup.py::embedding_lsh_incremental). 1M queries × 64
#: floats ≈ 512 MB spread across executors: a deliberate ceiling, not
#: a tuning knob.
INDEXED_PROBE_MAX_QUERIES = 1_000_000


def guard_batch(
    queries: DataFrame,
    max_batch_rows: int | None,
    op_name: str,
    batch_rows: int | None = None,
) -> None:
    """Enforce the indexed-probe batch contract: the probed frame
    (queries × nprobe, vectors included) is materialized into executor
    storage, so the query side must be drop/batch-sized. ``batch_rows``
    is a count the caller ALREADY holds (e.g. one count shared by the
    intra+cross probes of the same drop) — passing it skips the
    truncated ``limit(max+1)`` scan, so a caller constructing several
    probes over one batch validates once instead of per probe."""
    if max_batch_rows is None:
        return
    if max_batch_rows <= 0:
        raise ValueError(f"max_batch_rows must be positive: {max_batch_rows}")
    n = batch_rows if batch_rows is not None else queries.limit(max_batch_rows + 1).count()
    if n > max_batch_rows:
        raise ValueError(
            f"{op_name}: query batch exceeds max_batch_rows="
            f"{max_batch_rows}; the probed frame (queries × nprobe, "
            f"vectors included) is materialized into executor storage, "
            f"so the query side must be drop/batch-sized. Split the "
            f"batch (results are independent per query) or raise "
            f"max_batch_rows deliberately."
        )


def prep_indexed_probe(
    qframe: DataFrame, centroids: list[list[float]], nprobe: int
) -> tuple[DataFrame, list[int]]:
    """The QUERY-side half of an indexed probe over a (query_id, qv)
    frame (:func:`query_frame` for IVF, pq.unit_frame for IVF-PQ):
    materialize the probe frame once (transient — executor-local,
    auto-released) and collect its model-sized cid set. Factored out
    of the indexed probes (r11 optimization round) so (a) chain
    builders can run it as a concurrent driver-thread job while the
    index store is still being written — the two legs share no inputs
    (guide §2.6) — and (b) a caller probing the SAME batch against
    several indexes (the streaming maintenance loop's intra + cross
    probes) computes the probe pass and cid collect once instead of
    per probe."""
    from osarchiver_spark.operators.cache import transient

    probed = transient(_probe_pandas(qframe, centroids, nprobe))
    cids = sorted(r["cid"] for r in probed.select("cid").distinct().collect())
    return probed, cids


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    max_batch_rows: int | None = INDEXED_PROBE_MAX_QUERIES,
    batch_rows: int | None = None,
    prepped: tuple[DataFrame, list[int]] | None = None,
) -> DataFrame:
    """Probe an EXISTING inverted file (:func:`ivf_index` read back
    from its cid-partitioned layout) — per-drop ANN cost that is
    probe-shaped, not corpus-shaped: the standing corpus is never
    re-assigned, and only the probed lists' partitions are read.

    The probed cid set is collected to drive source-side partition
    pruning — it is MODEL-sized (at most len(centroids) ints,
    distinct() map-combines before the collect), never query- or
    corpus-sized. The probed frame is materialized ONCE
    (executor-local, auto-released): the cid collect and the scoring
    cogroup both read the checkpointed blocks, so the query-side
    probe matmul runs a single time per call. The batch contract is
    enforced up front via the ``limit(max+1)`` pattern — an oversized
    query batch costs one truncated scan, not a full probe — or for
    free when the caller passes an already-known ``batch_rows`` (see
    :func:`guard_batch`)."""
    guard_batch(queries, max_batch_rows, "ivf_topk_indexed", batch_rows)

    probed, cids = prepped if prepped is not None else prep_indexed_probe(
        query_frame(queries, id_col, vec_col), centroids, nprobe
    )
    pruned = index.filter(F.col("cid").isin(cids))
    return global_topk(cogroup_topk_cosine(probed, pruned, "cid", k), k)


def ivf_neardup_probe(
    index: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    nprobe: int = 4,
    max_batch_rows: int | None = INDEXED_PROBE_MAX_QUERIES,
    batch_rows: int | None = None,
    prepped: tuple[DataFrame, list[int]] | None = None,
) -> DataFrame:
    """Near-duplicate candidates of a query batch against a persisted
    inverted file (:func:`ivf_index` layout): every indexed vector
    inside a query's ``nprobe`` nearest cells with rounded cosine >=
    ``threshold``. Output (query_id, neighbor_id, cosine), directed —
    the caller applies its own loser rule (e.g. neighbor_id <
    query_id).

    This is the IVF-cell analog of the hyperplane-LSH incremental
    dedup probe: the candidate space is the probed cells' partitions
    (partition-pruned read, probe-shaped per-drop cost), and the rule
    "q matches n iff n lies in q's nprobe nearest cells and cosine >=
    threshold" depends only on the FROZEN centroids — never on how
    the corpus was batched into the index — so a multi-drop build's
    accumulated cross+intra matches equal the one-shot build's match
    set BY CONSTRUCTION (the identity operators/export.py's vector
    capstone rests on; pinned in tests/test_vector_store.py). Recall
    at production nprobe is a measured property (a cosine-0.9
    neighbor nearly always shares the query's top cells); nprobe ==
    n_clusters disables the approximation entirely.

    Same probe discipline as :func:`ivf_topk_indexed`: single
    traversal (transient probe), model-sized cid collect,
    limit(max+1) batch guard (skipped when the caller passes a known
    ``batch_rows`` — see :func:`guard_batch`)."""
    guard_batch(queries, max_batch_rows, "ivf_neardup_probe", batch_rows)

    probed, cids = prepped if prepped is not None else prep_indexed_probe(
        query_frame(queries, id_col, vec_col), centroids, nprobe
    )
    pruned = index.filter(F.col("cid").isin(cids))
    return cogroup_threshold_cosine(probed, pruned, "cid", threshold)
