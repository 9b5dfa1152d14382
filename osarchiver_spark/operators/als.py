"""Rank-2 ALS matrix factorization as DataFrame passes — the
collaborative-filtering / embedding-learning member of the iterative
trainer family (k-means, BPE, PageRank, logistic GD).

Factorizes the (user × event_type) mean-value matrix R ≈ U Vᵀ with
alternating least squares at rank 2, where each half-step's
regularized normal equations are a 2×2 system solved in CLOSED FORM
inside the aggregation — no linear-algebra library, no Python, no
collect of anything data-sized:

    solve for each user u:  (VᵤᵀVᵤ + λI) uᵤ = Vᵤᵀ rᵤ
    a = λ + Σv₁², b = Σv₁v₂, c = λ + Σv₂², p = Σv₁r, q = Σv₂r
    det = ac − b²;  u₁ = (cp − bq)/det;  u₂ = (aq − bp)/det

The 100 TB shape: each half-step is ONE equi-join (ratings ⋈ current
factors on the opposite key) plus ONE map-combinable aggregation
producing a factor row per entity. The item side is tiny and
broadcasts; the user side is data-sized and stays distributed —
user factors are never collected. λ > 0 bounds det away from zero,
so the closed form is total.

Determinism/oracle: item factors initialize from an md5-derived
fraction (the KMV hash-frac convention — bit-identical in DuckDB)
and every solved factor is rounded to 6 decimals before the next
half-step, so the SQL oracle replays the full alternation as CTEs
and lands on identical factors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osarchiver_spark.operators.cache import transient

ALS_LAMBDA = 0.1
ALS_ITERS = 2
ALS_QUANT = 6


def hash_frac(col: Column) -> Column:
    """md5-derived uniform fraction in (0, 1] — the KMV convention,
    reproducible bit-for-bit in any engine."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") + 1) / F.lit(
        float(1 << 32)
    )


def als_ratings(events: DataFrame) -> DataFrame:
    """(user_id, event_type, r): the interaction matrix — mean value
    per cell, scaled to O(1) (values run 0..~560; /100 keeps the
    normal-equation sums small enough that float noise sits orders of
    magnitude below the factor-rounding grid) and rounded so both
    engines see identical entries."""
    return events.groupBy("user_id", "event_type").agg(
        F.round(F.avg("value") / 100.0, 6).alias("r")
    )


def _solve_side(
    ratings: DataFrame,
    factors: DataFrame,
    solve_key: str,
    join_key: str,
    lam: float,
    quant: int,
) -> DataFrame:
    """One ALS half-step: given the opposite side's factors, solve the
    regularized 2×2 normal equations per ``solve_key`` entity."""
    j = ratings.join(factors, join_key)
    agg = j.groupBy(solve_key).agg(
        (F.lit(lam) + F.sum(F.col("f1") * F.col("f1"))).alias("a"),
        F.sum(F.col("f1") * F.col("f2")).alias("b"),
        (F.lit(lam) + F.sum(F.col("f2") * F.col("f2"))).alias("c"),
        F.sum(F.col("f1") * F.col("r")).alias("p"),
        F.sum(F.col("f2") * F.col("r")).alias("q"),
    )
    det = F.col("a") * F.col("c") - F.col("b") * F.col("b")
    return agg.select(
        F.col(solve_key),
        F.round((F.col("c") * F.col("p") - F.col("b") * F.col("q")) / det, quant).alias("f1"),
        F.round((F.col("a") * F.col("q") - F.col("b") * F.col("p")) / det, quant).alias("f2"),
    )


def als_factors(
    events: DataFrame,
    iters: int = ALS_ITERS,
    lam: float = ALS_LAMBDA,
    quant: int = ALS_QUANT,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` full alternations; returns (user_factors,
    item_factors) — (user_id, f1, f2) and (event_type, f1, f2)."""
    # transient, not persist: the returned factor frames still reference
    # ratings, so an in-function unpersist is impossible; auto-release
    # on caller drop (operators/cache.py)
    ratings = transient(als_ratings(events))
    items = ratings.select("event_type").distinct()
    v = items.select(
        "event_type",
        F.lit(1.0).alias("f1"),
        F.round(hash_frac(F.col("event_type")), quant).alias("f2"),
    )
    u = None
    for _ in range(iters):
        u = _solve_side(ratings, v, "user_id", "event_type", lam, quant)
        v = _solve_side(ratings, u, "event_type", "user_id", lam, quant)
    return u, v


def als_reconstruction_report(
    events: DataFrame,
    iters: int = ALS_ITERS,
    lam: float = ALS_LAMBDA,
    quant: int = ALS_QUANT,
) -> DataFrame:
    """Per-item reconstruction error of the factorization:
    (event_type, n_cells, rmse, mae) — the fit report that sizes the
    rank / iteration count. One join of the ratings against both
    factor sides, map-combinable error moments."""
    ratings = als_ratings(events)
    u, v = als_factors(events, iters=iters, lam=lam, quant=quant)
    uf = u.select("user_id", F.col("f1").alias("u1"), F.col("f2").alias("u2"))
    vf = v.select("event_type", F.col("f1").alias("v1"), F.col("f2").alias("v2"))
    err = F.col("r") - (F.col("u1") * F.col("v1") + F.col("u2") * F.col("v2"))
    return (
        ratings.join(uf, "user_id")
        .join(vf, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
        )
    )


def _init_item_factors_rank(items: DataFrame, rank: int, quant: int) -> DataFrame:
    """Deterministic rank-r item init: dim 1 is the constant 1.0,
    higher dims are md5 fractions of ``event_type || '|d'`` — the
    same hash-frac convention, engine-reproducible at any rank."""
    cols = [F.lit(1.0)] + [
        F.round(hash_frac(F.concat(F.col("event_type"), F.lit(f"|{d}"))), quant)
        for d in range(1, rank)
    ]
    return items.select("event_type", F.array(*cols).alias("f"))


def _solve_rank(ratings, factors, solve_key, join_key, rank, lam, quant, key_type):
    """General-rank ALS half-step: per-entity regularized normal
    equations solved with LAPACK inside an Arrow group — one group
    per entity, group width = that entity's interaction count. The
    rank-2 closed-form path stays pure codegen; this is the scale
    path for r where Cramer stops being sane."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from osarchiver_spark.operators.blas import vec_matrix

    j = ratings.join(factors, join_key).select(solve_key, "f", "r")
    schema = T.StructType(
        [
            T.StructField(solve_key, key_type),
            T.StructField("f", T.ArrayType(T.DoubleType())),
        ]
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        Fm = vec_matrix(pdf["f"])
        r = pdf["r"].to_numpy(dtype="float64")
        A = Fm.T @ Fm + lam * np.eye(rank)
        w = np.round(np.linalg.solve(A, Fm.T @ r), quant)
        return pd.DataFrame({solve_key: [pdf[solve_key].iloc[0]], "f": [w]})

    return j.groupBy(solve_key).applyInPandas(solve, schema)


def als_factors_rank(
    events: DataFrame,
    rank: int = 3,
    iters: int = ALS_ITERS,
    lam: float = ALS_LAMBDA,
    quant: int = ALS_QUANT,
    item_init: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """General-rank ALS (array-typed factors). λ > 0 keeps every
    normal-equation matrix positive definite, so the solve is total;
    per-half-step quantization keeps the alternation
    engine-reproducible (the rank-3 oracle replays it with Cramer's
    rule in SQL — validated bit-equal against this LAPACK path)."""
    ratings = transient(als_ratings(events))  # auto-release, see als_factors
    if item_init is None:
        item_init = _init_item_factors_rank(
            ratings.select("event_type").distinct(), rank, quant
        )
    v = item_init
    u = None
    utype = events.schema["user_id"].dataType
    ttype = events.schema["event_type"].dataType
    for _ in range(iters):
        u = _solve_rank(ratings, v, "user_id", "event_type", rank, lam, quant, utype)
        v = _solve_rank(ratings, u, "event_type", "user_id", rank, lam, quant, ttype)
    return u, v
