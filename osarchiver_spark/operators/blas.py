"""Dense-vector kernels for the embedding operators.

Dense per-row linear algebra is the sanctioned Pandas case: the JVM
higher-order-function cosine evaluates interpreted outside
whole-stage codegen, which benches 3-4× slower than one matmul per
group (see operators/ivf.py and the round-1 dedup_embedding
measurement). This module is the one home of the numpy kernels the
similarity, IVF/PQ and dedup operators share:

- :func:`vec_matrix`: the per-row vector decode;
- :func:`safe_norms`, :func:`cosine_matrix`, :func:`row_cosine`: the
  6-decimal rounded cosine, zero vectors scoring 0 like
  functions/vectors.py::cosine;
- :func:`centroid_dists`, :func:`nearest_codes`: the nearest-centroid
  kernel behind k-means assignment, IVF cell probes, PQ encoding and
  the ADC lookup tables;
- :func:`local_topk`, :func:`global_topk`: a group's or batch's
  top-(k+1) candidates by (rounded cosine desc, id asc), self-matches
  dropped, and the per-query window that finishes the selection.
  Top-k is associative under that order, so local pre-selection plus
  a global window is exact (the REPOSE shape);
- :func:`hyperplanes`, :func:`bucket_keys`: hyperplane-LSH planes and
  sign-bit bucket keys;
- :func:`threshold_pairs`: grouped threshold pairs with hot groups
  routed to a self equi-join;
- :func:`cogroup_topk_cosine`, :func:`cogroup_threshold_cosine`: the
  cogroup scorers IVF and hyperplane-LSH re-ranking share.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def vec_matrix(vectors) -> np.ndarray:
    """n × dim float64 matrix from a Series of array cells or a list of
    collected vectors."""
    if isinstance(vectors, pd.Series):
        vectors = vectors.to_numpy()
    return np.stack([np.asarray(v, dtype="float64") for v in vectors])


def safe_norms(M: np.ndarray) -> np.ndarray:
    """Row L2 norms, with a zero norm replaced by inf so a zero vector
    scores cosine 0 (like vectors.cosine) instead of NaN."""
    n = np.sqrt((M * M).sum(axis=1))
    return np.where(n > 0, n, np.inf)


def cosine_matrix(X: np.ndarray, Y: np.ndarray, nx: np.ndarray, ny: np.ndarray) -> np.ndarray:
    """len(X) × len(Y) rounded cosines, given each side's safe_norms."""
    return np.round((X @ Y.T) / np.outer(nx, ny), 6)


def row_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Rounded cosine of each row pair (A[i], B[i])."""
    return np.round((A * B).sum(axis=1) / (safe_norms(A) * safe_norms(B)), 6)


def centroid_dists(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """len(V) × len(C) squared euclidean distances to the centroids ``C``
    minus each row's constant |v|²: argmin of |v-c|² == argmin of
    -2 v·c + |c|². One matmul; the row order of ``C`` is the id order."""
    return -2.0 * (V @ C.T) + (C * C).sum(axis=1)


def nearest_codes(V: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """len(V) × len(books) int array: column j is the nearest entry of
    ``books[j]`` to the j-th of len(books) equal column slices of
    ``V`` (ties to the lowest id). One book is plain nearest-centroid
    assignment; m books are a product quantizer's m subspace codes."""
    sub = V.shape[1] // len(books)
    return np.stack(
        [
            centroid_dists(V[:, j * sub : (j + 1) * sub], B).argmin(axis=1)
            for j, B in enumerate(books)
        ],
        axis=1,
    )


def pair_schema(
    id_type: T.DataType, a: str = "query_id", b: str = "neighbor_id", score: str = "cosine"
) -> T.StructType:
    """(a, b, score) keyed on the CALLER's id type — string/uuid doc
    ids ride through the Arrow path unchanged (no silent long cast)."""
    return T.StructType(
        [
            T.StructField(a, id_type),
            T.StructField(b, id_type),
            T.StructField(score, T.DoubleType()),
        ]
    )


def empty_pairs(a: str = "query_id", b: str = "neighbor_id", score: str = "cosine") -> pd.DataFrame:
    """The zero-row pandas frame of :func:`pair_schema`."""
    return pd.DataFrame(
        {
            a: pd.Series([], dtype=object),
            b: pd.Series([], dtype=object),
            score: pd.Series([], dtype="float64"),
        }
    )


def local_topk(qids: np.ndarray, nids: np.ndarray, S: np.ndarray, take: int) -> pd.DataFrame:
    """Each row of the len(qids) × len(nids) cosine matrix ``S`` keeps
    its top-``take`` neighbors by (cosine desc, neighbor id asc); a
    query matched with itself is dropped afterwards, so ``take`` = k+1
    leaves k. Output (query_id, neighbor_id, cosine)."""
    n_take = min(take, S.shape[1])
    order = np.lexsort((np.broadcast_to(nids, S.shape), -S), axis=1)[:, :n_take]
    rows_q = np.repeat(qids, n_take)
    rows_n = nids[order].reshape(-1)
    rows_s = np.take_along_axis(S, order, axis=1).reshape(-1)
    keep = rows_q != rows_n
    return pd.DataFrame(
        {"query_id": rows_q[keep], "neighbor_id": rows_n[keep], "cosine": rows_s[keep]}
    )


def global_topk(local: DataFrame, k: int) -> DataFrame:
    """The global merge of per-group/per-batch local top-k candidates
    (query_id, neighbor_id, cosine): each query's ``k`` best by
    (cosine desc, neighbor id asc). Output (query_id, rank,
    neighbor_id, cosine)."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hyperplanes(seed: str, n_tables: int, planes_per_table: int, dim: int) -> np.ndarray:
    """(n_tables·planes_per_table) × dim hyperplanes, table-major, with
    md5-derived coefficients (functions/vectors.py::_pseudo_coeff) —
    the same derivation in any engine, no RNG state. Model-sized, so
    it rides in UDF closures."""
    from osarchiver_spark.functions.vectors import _pseudo_coeff

    return np.array(
        [
            [_pseudo_coeff(f"{seed}{l}", k, i) for i in range(dim)]
            for l in range(n_tables)
            for k in range(planes_per_table)
        ]
    )


def bucket_keys(V: np.ndarray, planes: np.ndarray, planes_per_table: int) -> np.ndarray:
    """len(V) × n_tables int64 bucket keys: bit k of table l's key is the
    sign of V against plane (l, k) of :func:`hyperplanes`."""
    b = planes_per_table
    signs = (V @ planes.T) >= 0
    return signs.reshape(len(V), len(planes) // b, b) @ (1 << np.arange(b)).astype("int64")


def threshold_pairs(
    keyed: DataFrame, keys: list[str], threshold: float, hot: Column | None
) -> DataFrame:
    """Near-dup pairs within each ``keys`` group of ``keyed`` (columns
    ``keys`` + vid, v): (vec_a < vec_b, rounded cosine >= threshold).

    A group is scored in ONE task by one gram matrix (applyInPandas),
    and only the survivors leave Python. AQE cannot split such a
    group, so rows matching the ``hot`` predicate (the groups the
    caller's census found too wide) take a plain self equi-join on
    ``keys`` instead — a shuffle join AQE skew-join CAN split — and
    are verified by Arrow-batched row-wise cosine. Same pairs, same
    rounding; ``hot=None`` (no hot group) skips the overflow subtree.
    """
    thr = float(threshold)
    out_schema = pair_schema(keyed.schema["vid"].dataType, "vec_a", "vec_b")

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty_pairs("vec_a", "vec_b")
        V = vec_matrix(pdf["v"])
        norms = safe_norms(V)
        C = cosine_matrix(V, V, norms, norms)
        ia, ib = np.triu_indices(n, 1)
        vals = C[ia, ib]
        mask = vals >= thr
        ia, ib = ia[mask], ib[mask]
        vids = pdf["vid"].to_numpy(dtype=object)
        a, b = vids[ia], vids[ib]
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b), "cosine": vals[mask]}
        )

    small = keyed if hot is None else keyed.filter(~hot)
    pairs = small.groupBy(*keys).applyInPandas(group_pairs, schema=out_schema)
    if hot is None:
        return pairs

    big = keyed.filter(hot)
    a_side = big.select(*keys, F.col("vid").alias("vid_a"), F.col("v").alias("va"))
    b_side = big.select(*keys, F.col("vid").alias("vid_b"), F.col("v").alias("vb"))
    cand = (
        a_side.join(b_side, keys)
        .filter(F.col("vid_a") < F.col("vid_b"))
        .select("vid_a", "va", "vid_b", "vb")
    )

    def pair_cosine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vals = row_cosine(vec_matrix(pdf["va"]), vec_matrix(pdf["vb"]))
            mask = vals >= thr
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vid_a"].to_numpy(dtype=object)[mask],
                    "vec_b": pdf["vid_b"].to_numpy(dtype=object)[mask],
                    "cosine": vals[mask],
                }
            )

    return pairs.unionByName(cand.mapInPandas(pair_cosine, schema=out_schema))


def cogroup_topk_cosine(queries: DataFrame, corpus: DataFrame, key: str, k: int) -> DataFrame:
    """Per-``key`` group BLAS re-rank: for every key group, score the
    group's queries (columns query_id, qv) against the group's corpus
    members (columns neighbor_id, v) with one matmul and emit each
    query's :func:`local_topk`. Only candidate IDS leave Python; the
    caller finishes with a global window.
    """
    take = k + 1  # headroom for the self-match row
    id_type = queries.schema["query_id"].dataType

    def score_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # empty cogroup sides arrive column-less
        if len(left) == 0 or len(right) == 0:
            return empty_pairs()
        Q = vec_matrix(left["qv"])
        V = vec_matrix(right["v"])
        S = cosine_matrix(Q, V, safe_norms(Q), safe_norms(V))  # n_q × n_v
        return local_topk(left["query_id"].to_numpy(), right["neighbor_id"].to_numpy(), S, take)

    return (
        queries.groupBy(key)
        .cogroup(corpus.groupBy(key))
        .applyInPandas(score_group, schema=pair_schema(id_type))
    )


def cogroup_threshold_cosine(
    queries: DataFrame, corpus: DataFrame, key: str, threshold: float
) -> DataFrame:
    """Per-``key`` group BLAS THRESHOLD scorer: same cogroup/matmul
    shape as :func:`cogroup_topk_cosine`, but emits EVERY
    (query, neighbor) pair in the group with rounded cosine >=
    ``threshold`` (self-matches dropped) instead of a local top-k —
    the candidate generator for threshold dedup over a blocked/
    probed candidate space (near-dup pairs are sparse, so the output
    stays pair-shaped, never group-quadratic, at any corpus size the
    blocking keeps groups bounded)."""
    thr = float(threshold)
    id_type = queries.schema["query_id"].dataType

    def score_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty_pairs()
        Q = vec_matrix(left["qv"])
        V = vec_matrix(right["v"])
        qn = safe_norms(Q)
        vn = safe_norms(V)
        all_qids = left["query_id"].to_numpy()
        all_nids = right["neighbor_id"].to_numpy()
        # Block over the QUERY rows (same discipline as pq._adc_shortlist):
        # peak memory is block × n_v doubles instead of n_q × n_v. In
        # export_vector_store the per-cell query side is corpus-scale, so
        # the whole-group matmul's allocation grows group-quadratic — the
        # exact memory cliff the ADC scorer was rewritten to avoid. The
        # emitted pairs are identical per block (nonzero scans rows in
        # order), so output equals the unblocked form row-for-row.
        block = 256
        out_q, out_n, out_s = [], [], []
        for s in range(0, len(Q), block):
            S = cosine_matrix(Q[s : s + block], V, qn[s : s + block], vn)  # block × n_v
            qi, vi = np.nonzero(S >= thr)
            qids = all_qids[s + qi]
            nids = all_nids[vi]
            keep = qids != nids
            out_q.append(qids[keep])
            out_n.append(nids[keep])
            out_s.append(S[qi, vi][keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_s),
            }
        )

    return (
        queries.groupBy(key)
        .cogroup(corpus.groupBy(key))
        .applyInPandas(score_group, schema=pair_schema(id_type))
    )
