"""SemDeDup-style semantic deduplication: k-means-partitioned
embedding near-dup pruning (Abbas et al., 2023, arXiv:2303.09540 —
public paper; no counterpart in the reference, which has no vector
code at all).

Where hyperplane LSH (operators/dedup.py::embedding_lsh_neardup_pairs)
generates candidates by sign-pattern collision, SemDeDup's candidate
generator is a k-means clustering: pairwise cosine comparison happens
only WITHIN a cluster, so the all-pairs O(n²) gram never exists.

The 100 TB shape:

- Lloyd's runs as Arrow/BLAS DataFrame passes with model-sized
  collects only (operators/ivf.py::kmeans_fit); the centroid matrix
  rides in task closures, never shuffled with the data.
- ``k`` scales as n / target_cluster_size, so each in-cluster gram is
  a bounded ``target²`` block and the group count — hence available
  parallelism — grows linearly with the corpus.
- an ``applyInPandas`` group must land in ONE task (AQE cannot split
  it), so clusters wider than ``max_cluster`` leave the grouped path:
  the cluster census (k rows — model-sized by construction) is
  collected driver-side and oversized clusters take a plain self
  equi-join on ``cid`` — which AQE skew-join CAN split — verified by
  Arrow-batched row-wise cosine. Same pairs, same rounding; only the
  physical strategy changes, so the exact oracle is unaffected.

Determinism/oracle story: centroids are quantized to ``quantize``
decimals after every Lloyd's update (kmeans_fit(quantize=...)), which
makes the clustering bit-reproducible in any engine — the DuckDB
oracle replays the same iterations as SQL CTEs (init = k lowest-id
vectors, squared-euclidean argmin with ties to the lowest cid,
per-dimension mean, empty clusters keep their previous centroid) and
lands on identical assignments. Cosines compare ROUNDED (6 decimals)
against the threshold so engine last-ulp noise can't flip membership
— the same discipline as the rest of the dedup family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from osarchiver_spark.functions.precision import money_sum
from pyspark.sql import types as T

from osarchiver_spark.functions.vectors import as_double
from osarchiver_spark.operators.blas import vec_matrix
from osarchiver_spark.operators.ivf import _assign_pandas, kmeans_fit


def semantic_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(vid, v, cid): nearest-centroid assignment (squared euclidean,
    ties to the lowest cid) — one BLAS matmul per Arrow batch."""
    base = df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    return _assign_pandas(base, centroids)


def _pair_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("vec_a", id_type),
            T.StructField("vec_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_clusters: int = 8,
    iters: int = 2,
    quantize: int | None = 6,
    max_cluster: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Within-cluster near-dup pairs: (vec_a < vec_b, rounded cosine
    >= threshold). Clustering is the (lossy-by-design) candidate
    generator — cross-cluster pairs are intentionally not compared,
    exactly the SemDeDup trade."""
    thr = float(threshold)
    id_type = df.schema[id_col].dataType
    if centroids is None:
        try:
            centroids = kmeans_fit(
                df, id_col, vec_col, k=n_clusters, iters=iters, quantize=quantize
            )
        except ValueError:  # empty input: no clusters, no pairs
            return df.sparkSession.createDataFrame([], _pair_schema(id_type))

    from osarchiver_spark.operators.cache import transient

    # three consumers (census, grouped grams, overflow join): cache so
    # the assignment matmul runs once, not once per consumer —
    # transient (not persist) because the returned pairs DataFrame
    # outlives this function; blocks are auto-released when the caller
    # drops the result instead of pinning the cache manager
    assigned = transient(semantic_assign(df, id_col, vec_col, centroids))
    out_schema = _pair_schema(id_type)

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype=object),
                "vec_b": pd.Series([], dtype=object),
                "cosine": pd.Series([], dtype="float64"),
            }
        )

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return _empty()
        V = np.stack(pdf["v"].to_numpy())
        norms = np.sqrt((V * V).sum(axis=1))
        safe = np.where(norms > 0, norms, np.inf)  # zero-norm -> cosine 0
        C = np.round((V @ V.T) / np.outer(safe, safe), 6)
        ia, ib = np.triu_indices(n, 1)
        vals = C[ia, ib]
        mask = vals >= thr
        ia, ib = ia[mask], ib[mask]
        vids = pdf["vid"].to_numpy(dtype=object)
        a, b = vids[ia], vids[ib]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "cosine": vals[mask],
            }
        )

    # cluster census: k rows, model-sized by construction — also the
    # action that materializes the persisted assignment exactly once
    hot = [
        int(r["cid"])
        for r in assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cluster)
        .collect()
    ]
    small = assigned.filter(~F.col("cid").isin(hot)) if hot else assigned
    pairs_small = small.groupBy("cid").applyInPandas(group_pairs, schema=out_schema)
    if not hot:
        return pairs_small

    big = assigned.filter(F.col("cid").isin(hot))
    a_side = big.select("cid", F.col("vid").alias("vid_a"), F.col("v").alias("va"))
    b_side = big.select("cid", F.col("vid").alias("vid_b"), F.col("v").alias("vb"))
    cand = (
        a_side.join(b_side, "cid")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .select("vid_a", "va", "vid_b", "vb")
    )

    def pair_cosine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["va"].to_numpy())
            B = np.stack(pdf["vb"].to_numpy())
            na = np.sqrt((A * A).sum(axis=1))
            nb = np.sqrt((B * B).sum(axis=1))
            na = np.where(na > 0, na, np.inf)
            nb = np.where(nb > 0, nb, np.inf)
            vals = np.round((A * B).sum(axis=1) / (na * nb), 6)
            mask = vals >= thr
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vid_a"].to_numpy(dtype=object)[mask],
                    "vec_b": pdf["vid_b"].to_numpy(dtype=object)[mask],
                    "cosine": vals[mask],
                }
            )

    return pairs_small.unionByName(cand.mapInPandas(pair_cosine, schema=out_schema))


def semdedup_losers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_clusters: int = 8,
    iters: int = 2,
    quantize: int | None = 6,
    max_cluster: int = 4096,
) -> DataFrame:
    """The prune decision: every vector with a smaller-id in-cluster
    neighbor at rounded cosine >= threshold is a loser, reported with
    its best such neighbor (cosine desc, id asc — deterministic).
    Keeping the lowest id of each near-dup set is the same
    survivorship rule as exact dedup's keep-min."""
    pairs = semdedup_pairs(
        df,
        id_col,
        vec_col,
        threshold=threshold,
        n_clusters=n_clusters,
        iters=iters,
        quantize=quantize,
        max_cluster=max_cluster,
    )
    w = W.partitionBy("vec_b").orderBy(F.desc("cosine"), F.col("vec_a"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("dup_of"),
            "cosine",
        )
    )


def semantic_cluster_profile(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    iters: int = 2,
    quantize: int | None = 6,
) -> DataFrame:
    """Per-cluster (cid, n_vecs, inertia) — the clustering-quality
    report that sizes ``k`` (inertia plateaus) and flags pathological
    clusters before they become single-task grams. Per-row squared
    distance is rounded to 6 decimals on both engines BEFORE the sum
    (and the sum to 3 after), so the map-combinable aggregation is
    order-noise-proof."""
    try:
        centroids = kmeans_fit(
            df, id_col, vec_col, k=n_clusters, iters=iters, quantize=quantize
        )
    except ValueError:  # empty input: an empty profile
        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("cid", T.IntegerType()),
                    T.StructField("n_vecs", T.LongType()),
                    T.StructField("inertia", T.DoubleType()),
                ]
            ),
        )
    C = np.asarray(centroids, dtype="float64")
    c_sq = (C * C).sum(axis=1)
    base = df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType()),
            T.StructField("d2", T.DoubleType()),
        ]
    )

    def assign_dist(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = vec_matrix(pdf["v"])
            # d2 = |v|^2 - 2 v.c + |c|^2 — the same expression the SQL
            # oracle evaluates, so rounding lands on the same grid
            d = -2.0 * (V @ C.T) + c_sq
            cid = d.argmin(axis=1)
            v_sq = (V * V).sum(axis=1)
            d2 = np.round(v_sq + d[np.arange(len(V)), cid], 6)
            yield pd.DataFrame({"cid": cid.astype("int32"), "d2": d2})

    return (
        base.mapInPandas(assign_dist, schema=schema)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # d2 is already on a 1e-6 grid (np.round above): quantize to
            # bigint micro-units so the cluster sum is exact integer
            # arithmetic, then rescale to the 3-dp output in integer
            # space (the psi_drift discipline; a double sum here is
            # accumulation-order-sensitive across engines).
            money_sum(F.col("d2"), 6, 3).alias("inertia"),
        )
    )
