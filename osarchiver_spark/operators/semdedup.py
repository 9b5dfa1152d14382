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
  rides in task closures, never shuffled with the data, and every
  assignment is operators/blas.py's nearest-centroid kernel
  (ivf._assign_pandas; the cluster profile's distances are
  blas.centroid_dists).
- ``k`` scales as n / target_cluster_size, so each in-cluster gram is
  a bounded ``target²`` block and the group count — hence available
  parallelism — grows linearly with the corpus.
- an ``applyInPandas`` group must land in ONE task (AQE cannot split
  it), so clusters wider than ``max_cluster`` leave the grouped path:
  the cluster census (k rows — model-sized by construction) is
  collected driver-side and oversized clusters take a plain self
  equi-join on ``cid`` — which AQE skew-join CAN split — verified by
  Arrow-batched row-wise cosine. Same pairs, same rounding; only the
  physical strategy changes, so the exact oracle is unaffected. Both
  paths are operators/blas.py::threshold_pairs, the verify the
  hyperplane-LSH dedup runs over its (table_idx, bucket) groups.

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
from osarchiver_spark.operators.blas import (
    centroid_dists,
    pair_schema,
    threshold_pairs,
    vec_matrix,
)
from osarchiver_spark.operators.ivf import _assign_pandas, kmeans_fit


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
    if centroids is None:
        try:
            centroids = kmeans_fit(
                df, id_col, vec_col, k=n_clusters, iters=iters, quantize=quantize
            )
        except ValueError:  # empty input: no clusters, no pairs
            return df.sparkSession.createDataFrame(
                [], pair_schema(df.schema[id_col].dataType, "vec_a", "vec_b")
            )

    from osarchiver_spark.operators.cache import transient

    # three consumers (census, grouped grams, overflow join): cache so
    # the assignment matmul runs once, not once per consumer —
    # transient (not persist) because the returned pairs DataFrame
    # outlives this function; blocks are auto-released when the caller
    # drops the result instead of pinning the cache manager
    base = df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    assigned = transient(_assign_pandas(base, centroids))  # (vid, v, cid)

    # cluster census: k rows, model-sized by construction — also the
    # action that materializes the persisted assignment exactly once
    hot = [
        int(r["cid"])
        for r in assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cluster)
        .collect()
    ]
    return threshold_pairs(
        assigned, ["cid"], threshold, F.col("cid").isin(hot) if hot else None
    )


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
            d = centroid_dists(V, C)
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
