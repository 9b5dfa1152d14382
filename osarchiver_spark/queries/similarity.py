"""Similarity-search queries over ``embeddings`` (north-star).

Brute-force top-k gets an exact DuckDB oracle (ranking on rounded
cosine with id tie-break is engine-reproducible). The ANN variants
(hyperplane LSH, IVF) are registered in FULL-RECALL oracle mode —
probe depth swept until they reproduce the exact ranking on the
fixtures — so all three share the same brute-force oracle; the
cheaper production probe depths keep their recall pinned in
tests/test_similarity.py and tests/test_ivf.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark import storage
from osarchiver_spark.functions.vectors import as_double, norm
from osarchiver_spark.operators.ivf import (
    INDEXED_PROBE_MAX_QUERIES,
    IVF_STORE_SCHEMA,
    guard_batch,
    ivf_index,
    ivf_reindex,
    ivf_topk_indexed,
    kmeans_fit,
    prep_indexed_probe,
    query_frame,
)
from osarchiver_spark.operators.pq import (
    PQ_STORE_SCHEMA,
    ivf_pq_index,
    ivf_pq_reindex,
    ivf_pq_topk_indexed,
    pq_joint_fit,
    unit_frame,
)
from osarchiver_spark.operators.similarity import brute_force_topk, lsh_topk
from osarchiver_spark.queries.scratch import reap_at_exit, scratch_dir
from osarchiver_spark.session import concurrently
from osarchiver_spark.sources.parquet import load_table

QUERY_MOD = 100  # vec_id % 100 == 0 → small deterministic query set
TOP_K = 5
EMBED_DIM = 64


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return brute_force_topk(emb, queries, "vec_id", "embedding", k=TOP_K)


# Oracle-mode ANN parameters: probe depths swept at sf0.001/sf0.01
# until recall vs brute force hit 1.0 (the hyperplanes/centroid seeds
# are deterministic, so the sweep result is stable run-to-run). This
# gives both ANN queries the EXACT brute-force oracle — the same trick
# that made dedup_embedding oracle-matchable. The fixture embeddings
# are near-uniform random (ANN worst case: top neighbors at cosine
# ≈0.45), which is why full recall needs near-exhaustive probing here;
# production parameters on clustered real embeddings are far cheaper
# (lsh probe_hamming=2, ivf nprobe=4 — operator defaults) and their
# recall/cost tradeoff is pinned in tests/test_similarity.py and
# tests/test_ivf.py.
LSH_ORACLE_PROBE_HAMMING = 5
IVF_ORACLE_NPROBE = 16  # == n_clusters: probe everything => exact


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return lsh_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        dim=EMBED_DIM,
        k=TOP_K,
        probe_hamming=LSH_ORACLE_PROBE_HAMMING,
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osarchiver_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=TOP_K,
        n_clusters=16,
        nprobe=IVF_ORACLE_NPROBE,
    )


def _staged_store_build(standing_index: DataFrame, drop_index: DataFrame, idx_dir: str) -> None:
    """Write the standing store and the drop batch CONCURRENTLY:
    concurrent writers to one parquet root are unsafe, so the drop
    batch lands in its own staging root while the standing overwrite
    runs, and ``storage.publish_partitions`` then moves its cid=* part
    files into the standing layout, one ``FileSystem.rename`` each.
    Row-identical to a sequential overwrite + ``mode("append")`` (same
    two write batches under the same frozen models), but the drop's
    scan/assign/encode job no longer waits behind the standing write's
    commit. Every ANN chain's bit-exact parity run re-certifies it.

    The store must be a local path: the staging root is registered
    with ``reap_at_exit``, a Python ``rmtree`` at process exit, when
    the JVM may be gone; any other URI scheme is rejected before the
    first write."""
    parsed = urlparse(idx_dir)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"the staged store's staging root is removed at exit by a "
            f"Python rmtree and needs a local path, got {idx_dir!r}"
        )
    stage_dir = idx_dir.rstrip("/") + "__stage"
    # a crash between the staged write and the publish below must not
    # leak the staging root past process exit
    reap_at_exit((parsed.path if parsed.scheme else idx_dir).rstrip("/") + "__stage")
    spark = drop_index.sparkSession
    concurrently(
        spark,
        lambda: standing_index.write.mode("overwrite").partitionBy("cid").parquet(idx_dir),
        lambda: drop_index.write.mode("overwrite").partitionBy("cid").parquet(stage_dir),
    )
    storage.publish_partitions(spark, stage_dir, idx_dir)


@dataclass(frozen=True)
class IndexCodec:
    """What one persisted-index kind supplies to :func:`ann_chain`.
    A model is whatever ``fit`` returns; the chain only hands it back.

    - ``fit(emb, k)``: train a k-cell model on an embeddings frame;
    - ``index(rows, model)``: the store rows for an embeddings frame;
    - ``reindex(store, emb, model)``: a store migrated to a new model;
    - ``prep(queries, model, nprobe)``: the query-side probe half;
    - ``probe(store, queries, emb, model, nprobe, batch_rows, prepped)``:
      top-``TOP_K`` over the read-back store."""

    op_name: str  # the probe's batch-contract label
    # the store layout, declared on read-back: inference would cost a
    # driver-side footer job per chain and a cast of the cid type
    store_schema: str
    fit: Callable[..., Any]
    index: Callable[..., DataFrame]
    reindex: Callable[..., DataFrame]
    prep: Callable[..., tuple[DataFrame, list[int]]]
    probe: Callable[..., DataFrame]


#: Plain IVF: the store holds full vectors (neighbor_id, v, cid).
IVF_CODEC = IndexCodec(
    op_name="ivf_topk_indexed",
    store_schema=IVF_STORE_SCHEMA,
    fit=lambda emb, k: kmeans_fit(emb, "vec_id", "embedding", k=k),
    index=lambda rows, cents: ivf_index(rows, "vec_id", "embedding", cents),
    reindex=lambda store, emb, cents: ivf_reindex(store, cents),
    prep=lambda q, cents, nprobe: prep_indexed_probe(
        query_frame(q, "vec_id", "embedding"), cents, nprobe
    ),
    probe=lambda store, q, emb, cents, nprobe, batch_rows, prepped: ivf_topk_indexed(
        store, q, "vec_id", "embedding", cents, k=TOP_K, nprobe=nprobe,
        batch_rows=batch_rows, prepped=prepped,
    ),
)


def pq_codec(shortlist: int) -> IndexCodec:
    """IVF-PQ: the store holds PQ codes (neighbor_id, code, cid) — the
    FAISS IVFPQ on-disk shape a 100 TB embedding corpus serves from
    (~16 ints vs 64 doubles per vector). The model is (coarse
    centroids, m=16 × 16-code books), fit by one fused Lloyd's loop
    over unit vectors; the probe is partition-pruned ADC over codes,
    then an exact re-rank of the ``shortlist`` best ids per query
    against the source table's full vectors."""

    def fit(emb, k):
        unit = unit_frame(emb, "vec_id", "embedding", "vid", "v")
        return pq_joint_fit(unit, "vid", "v", n_clusters=k, m=16, codes=16)

    return IndexCodec(
        op_name="ivf_pq_topk_indexed",
        store_schema=PQ_STORE_SCHEMA,
        fit=fit,
        index=lambda rows, model: ivf_pq_index(rows, "vec_id", "embedding", *model),
        reindex=lambda store, emb, model: ivf_pq_reindex(
            store, emb, "vec_id", "embedding", *model
        ),
        prep=lambda q, model, nprobe: prep_indexed_probe(
            unit_frame(q, "vec_id", "embedding", "query_id", "qv"), model[0], nprobe
        ),
        probe=lambda store, q, emb, model, nprobe, batch_rows, prepped: ivf_pq_topk_indexed(
            store, q, emb, "vec_id", "embedding", *model, k=TOP_K, nprobe=nprobe,
            shortlist=shortlist, batch_rows=batch_rows, prepped=prepped,
        ),
    )


def ann_chain(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    codec: IndexCodec,
    nprobe: int,
    dir_prefix: str,
    migrate: bool = False,
) -> DataFrame:
    """The persisted-index ANN chain, shared by the registered
    ``knn_ivf{,_pq}_{indexed,reindexed}`` queries and bench.py's
    production-depth overrides so the benched path cannot drift from
    the adjudicated one. Two shapes:

    - build (``migrate=False``): fit a k=16 model on the full corpus,
      write the standing 90% as a cid-partitioned store and APPEND the
      10% drop under the FROZEN model (FAISS ``IndexIVF.add``
      semantics) via the staged publish, then probe at ``nprobe``.
    - migrate (``migrate=True``): build the store under a
      deliberately-different OLD model (k=8, fit on half the corpus),
      retrain on the full corpus (k=16) and ``reindex`` the old store
      into a NEW directory — the FAISS retrain discipline (a new
      ``train()`` invalidates assignments; re-``add`` everything) —
      then probe the migrated store.

    Mutually independent legs run as concurrent driver-thread jobs
    through ``session.concurrently`` (guide §2.6: actions are only
    sequential because the driver calls them sequentially): the
    probe's batch-contract count beside the fit(s), the migrate
    shape's old leg beside the new fit, and the query-side probe prep
    beside the store write (whose standing and drop writes overlap in
    turn, :func:`_staged_store_build`). The batch guard runs before
    the prep, so an oversized batch fails before its queries × nprobe
    frame is materialized. Every job carries the caller's job group,
    so it is attributed to the query and ``cancelJobGroup`` reaches
    all of them. Each leg's own job chain, and therefore its math, is
    the sequential one."""
    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)

    def count_batch() -> int:
        return queries.limit(INDEXED_PROBE_MAX_QUERIES + 1).count()

    def build_store(model, store_dir: str) -> None:
        _staged_store_build(codec.index(standing, model), codec.index(drop, model), store_dir)

    if migrate:
        old_dir = scratch_dir(spark, sf_dir, dir_prefix, "_old")
        store_dir = scratch_dir(spark, sf_dir, dir_prefix, "_new")

        def old_leg() -> None:
            build_store(codec.fit(emb.filter(F.col("vec_id") % 2 == 0), 8), old_dir)

        _, model, batch_rows = concurrently(spark, old_leg, lambda: codec.fit(emb, 16), count_batch)
        old_store = spark.read.schema(codec.store_schema).parquet(old_dir)
    else:
        store_dir = scratch_dir(spark, sf_dir, dir_prefix)
        model, batch_rows = concurrently(spark, lambda: codec.fit(emb, 16), count_batch)
    guard_batch(queries, INDEXED_PROBE_MAX_QUERIES, codec.op_name, batch_rows)

    def write_store() -> None:
        if migrate:
            codec.reindex(old_store, emb, model).write.mode("overwrite").partitionBy(
                "cid"
            ).parquet(store_dir)
        else:
            build_store(model, store_dir)

    _, prepped = concurrently(spark, write_store, lambda: codec.prep(queries, model, nprobe))
    store = spark.read.schema(codec.store_schema).parquet(store_dir)
    return codec.probe(store, queries, emb, model, nprobe, batch_rows, prepped)


def _oracle_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % QUERY_MOD == 0)


def q_knn_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index IVF chain: train centroids once, build the
    inverted file from the standing corpus, APPEND a later drop's
    assignments (frozen centroids — FAISS IndexIVF.add semantics),
    read the cid-partitioned index back, and probe it. Per-drop ANN
    cost is probe-shaped (only probed cid partitions are read; the
    cid IN pushdown is plan-pinned in tests/test_plans.py), the
    vector analog of dedup_incremental_indexed's band index.

    Runs at full-recall oracle depth (nprobe == n_clusters) like the
    other ANN entries, so the exact brute-force ranking is its
    oracle; production nprobe recall is pinned in tests/test_ivf.py.
    The two-batch append is part of the REGISTERED query on purpose:
    the oracle match certifies that append == one-shot build."""
    return ann_chain(
        spark, sf_dir, _oracle_queries(spark, sf_dir), IVF_CODEC,
        nprobe=IVF_ORACLE_NPROBE, dir_prefix="ivf_index_",
    )


# PQ oracle mode: probe all cells AND shortlist everything => the
# exact cosine re-rank sees every candidate, so the brute-force
# ranking survives regardless of ADC noise — the same "disable the
# lossy stage" convention as IVF_ORACLE_NPROBE above (on the fixture's
# near-uniform embeddings no affordable shortlist reaches recall 1.0:
# swept 32→256 gave 0.56→0.92). The encode/probe/ADC/re-rank machinery
# still runs end-to-end and must be exact for the hash to match;
# production pruning (nprobe=4, shortlist=32) is recall-tested in
# tests/test_pq.py.
PQ_ORACLE_SHORTLIST = 1_000_000


def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osarchiver_spark.operators.pq import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_pq_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=TOP_K,
        n_clusters=16,
        nprobe=IVF_ORACLE_NPROBE,
        shortlist=PQ_ORACLE_SHORTLIST,
    )


def q_knn_ivf_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted COMPRESSED-index serving chain adjudicated
    end-to-end: PQ codes (not vectors) written cid-partitioned,
    frozen-model append, partition-pruned ADC probe, exact re-rank.
    Runs at the established full-recall oracle split (probe every
    cell + shortlist everything ⇒ the exact brute-force ranking is
    the oracle; the lossy stages' machinery still runs and must be
    exact for the hash to match). Production pruning depth
    (nprobe=4, shortlist=32) is recall-tested in tests/test_pq.py
    and benched via the same chain."""
    return ann_chain(
        spark, sf_dir, _oracle_queries(spark, sf_dir), pq_codec(PQ_ORACLE_SHORTLIST),
        nprobe=IVF_ORACLE_NPROBE, dir_prefix="ivfpq_index_",
    )


def q_knn_ivf_reindexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN/MIGRATION chain adjudicated end-to-end (r09 verdict
    item 1) — :func:`ann_chain`'s migrate shape. The migrated store is
    probed at full-recall depth (nprobe == n_clusters), so the exact
    brute-force ranking is the oracle: a hash match certifies that
    migration preserved membership and vectors exactly AND that the
    re-assigned layout serves correctly. Production-depth behavior
    (recall/cell balance/read amplification before vs after retrain)
    is pinned in tests/test_ivf.py and measured at sf10 in SCALE.md
    (BENCH_SF10_REINDEX.json)."""
    return ann_chain(
        spark, sf_dir, _oracle_queries(spark, sf_dir), IVF_CODEC,
        nprobe=IVF_ORACLE_NPROBE, dir_prefix="ivf_reidx_", migrate=True,
    )


def q_knn_ivf_pq_reindexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-store retrain/migration chain adjudicated
    end-to-end — the PQ twin of knn_ivf_reindexed. Migration re-fetches
    vectors by an id semi-join (the code store holds none) and
    re-encodes. Probed at the established full-recall oracle split
    (every cell + shortlist everything), so the exact brute-force
    ranking is the oracle: a hash match certifies the re-fetch
    preserved membership exactly AND the re-encoded codes serve
    correctly. Fingerprint identity with a fresh build is pinned in
    tests/test_pq.py; sf10 walls in BENCH_SF10_PQ_REINDEX.json."""
    return ann_chain(
        spark, sf_dir, _oracle_queries(spark, sf_dir), pq_codec(PQ_ORACLE_SHORTLIST),
        nprobe=IVF_ORACLE_NPROBE, dir_prefix="ivfpq_reidx_", migrate=True,
    )


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN weak labeling: predict each query vector's label by
    majority vote over its TOP_K exact cosine neighbors (vote-count
    desc, label asc tie-break — fully deterministic), reported next
    to the true label — the semi-supervised label-propagation /
    label-denoising primitive a training pipeline runs over an
    embedded corpus. Composition: the brute-force ranking (one BLAS
    scoring pass, no join), a neighbor→label equi-join against the
    corpus (AQE broadcasts the small side), one count agg and a
    per-query top-1 window."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    topk = brute_force_topk(emb, queries, "vec_id", "embedding", k=TOP_K)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.col("n_label"))
    best = votes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    truth = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return best.join(truth, "query_id").select(
        "query_id",
        F.col("n_label").alias("pred_label"),
        F.col("votes").cast("int").alias("votes"),
        "true_label",
        (F.col("n_label") == F.col("true_label")).alias("correct"),
    )


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm(as_double(F.col("embedding"))), 6).alias("l2_norm"),
    )


def q_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats — the 'cluster profile' aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = norm(as_double(F.col("embedding")))
    return (
        emb.select("label", n.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector — the centroid computation behind IVF
    init, label denoising and class-prototype dedup. Emitted as
    exploded (label, dim, centroid) rows: sortable/hashable for the
    driver's canonicalizer (arrays are not — the frame_sample
    lesson), and re-assembly is a downstream array_agg away. Shape at
    100 TB: posexplode → one map-combinable (label, dim) hash agg —
    64·|labels| output rows, linear scan, no join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"), F.count("*").alias("n_vecs"))
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vecs")
    )


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding table —
    the compression step an ANN index applies before serving (4× the
    density of float32). One posexplode, per-dimension min/max
    aggregate broadcast back, quantize/reconstruct in codegen, and a
    per-dimension error report proving the codec's bound. At 100 TB
    the explode is the only data-sized pass; the dim stats are
    |dims| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), F.col("v").cast("double").alias("v"))
    stats = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    scale = (F.col("mx") - F.col("mn")) / 255.0
    q = F.when(scale == 0, F.lit(0)).otherwise(
        F.round((F.col("v") - F.col("mn")) / scale, 0)
    )
    recon = F.col("mn") + q * scale
    err = F.abs(F.col("v") - recon)
    return (
        e.join(F.broadcast(stats), "dim")
        .groupBy("dim")
        .agg(
            F.round(F.first("mn"), 6).alias("dim_min"),
            F.round(F.first("mx"), 6).alias("dim_max"),
            F.round(F.max(err), 6).alias("max_abs_err"),
            F.round(F.avg(err), 6).alias("mean_abs_err"),
        )
    )



NEG_K = 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each query
    vector's top-NEG_K most-similar neighbors whose LABEL DIFFERS —
    the near-but-wrong examples a retrieval/embedding trainer needs.
    Shape: the 10-row distinct-label dim joins each query to its 9
    negative label groups (model-sized broadcast), then the per-label
    cogrouped BLAS scorer emits group-local top-k and one global
    window finishes — the corpus is scored once per foreign label
    group, never all-pairs against itself."""
    from osarchiver_spark.operators.blas import cogroup_topk_cosine, global_topk

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select(F.col("label").alias("neg_label")).distinct()
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qv"),
        "label",
    )
    probed = q.join(
        F.broadcast(labels), F.col("neg_label") != F.col("label")
    ).select("query_id", "qv", F.col("neg_label").alias("lbl"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("v"),
        F.col("label").alias("lbl"),
    )
    return global_topk(cogroup_topk_cosine(probed, corpus, "lbl", NEG_K), NEG_K)


QUERIES = {
    "hard_negatives": q_hard_negatives,
    "embedding_quantization": q_embedding_quantization,
    "knn_bruteforce": q_knn_bruteforce,
    "knn_label_vote": q_knn_label_vote,
    "knn_lsh": q_knn_lsh,
    "knn_ivf": q_knn_ivf,
    "knn_ivf_indexed": q_knn_ivf_indexed,
    "knn_ivf_reindexed": q_knn_ivf_reindexed,
    "knn_ivf_pq_reindexed": q_knn_ivf_pq_reindexed,
    "knn_ivf_pq": q_knn_ivf_pq,
    "knn_ivf_pq_indexed": q_knn_ivf_pq_indexed,
    "vector_norms": q_vector_norms,
    "label_stats": q_label_stats,
    "label_centroids": q_label_centroids,
}

_COS = (
    "round(list_dot_product(q.e, c.e) / "
    "(sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)"
)

_TOPK_ORACLE = f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cosine
            FROM v q JOIN v c ON q.vec_id != c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
            FROM scored)
        SELECT query_id, rank, neighbor_id, cosine
        FROM ranked WHERE rank <= {TOP_K}
    """

ORACLES = {
    "embedding_quantization": """
        WITH e AS (
            SELECT vec_id, t.i AS dim, CAST(t.v AS DOUBLE) AS v
            FROM embeddings emb,
                 LATERAL (SELECT unnest(emb.embedding) AS v,
                                 generate_subscripts(emb.embedding, 1) AS i) t),
        stats AS (
            SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1)
        SELECT dim,
               round(any_value(mn), 6) AS dim_min,
               round(any_value(mx), 6) AS dim_max,
               round(max(abs(v - (mn + CASE WHEN (mx - mn) / 255.0 = 0 THEN 0
                                            ELSE round((v - mn) / ((mx - mn) / 255.0), 0)
                                       END * ((mx - mn) / 255.0)))), 6)
                   AS max_abs_err,
               round(avg(abs(v - (mn + CASE WHEN (mx - mn) / 255.0 = 0 THEN 0
                                            ELSE round((v - mn) / ((mx - mn) / 255.0), 0)
                                       END * ((mx - mn) / 255.0)))), 6)
                   AS mean_abs_err
        FROM e JOIN stats USING (dim)
        GROUP BY dim
    """,
    "knn_bruteforce": _TOPK_ORACLE,
    # the ANN variants run in full-recall oracle mode (see the sweep
    # note above), so the exact brute-force ranking IS their oracle
    "knn_lsh": _TOPK_ORACLE,
    "knn_ivf": _TOPK_ORACLE,
    "knn_ivf_pq": _TOPK_ORACLE,
    # persisted-index chains at full-recall depth: the append == one-shot
    # identity plus exhaustive probing makes the exact ranking the oracle
    "knn_ivf_indexed": _TOPK_ORACLE,
    "knn_ivf_pq_indexed": _TOPK_ORACLE,
    # the retrain/migration chains at full-recall depth: migration must
    # preserve membership (and vectors/codes) exactly for the hash to match
    "knn_ivf_reindexed": _TOPK_ORACLE,
    "knn_ivf_pq_reindexed": _TOPK_ORACLE,
    "knn_label_vote": f"""
        WITH topk AS (SELECT * FROM ({_TOPK_ORACLE})),
        votes AS (
            SELECT t.query_id, e.label AS n_label, count(*) AS votes
            FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
            GROUP BY 1, 2),
        best AS (
            SELECT query_id, n_label, votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, n_label) AS rk
            FROM votes)
        SELECT b.query_id, b.n_label AS pred_label,
               CAST(b.votes AS INT) AS votes,
               e.label AS true_label,
               b.n_label = e.label AS correct
        FROM best b JOIN embeddings e ON b.query_id = e.vec_id
        WHERE rk = 1
    """,
    "vector_norms": """
        SELECT vec_id, label,
               CAST(len(embedding) AS INT) AS dim,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
                   AS l2_norm
        FROM embeddings
    """,
    "label_centroids": """
        SELECT label, CAST(dim AS INT) AS dim,
               round(avg(v), 6) AS centroid, count(*) AS n_vecs
        FROM (SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS dim,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings)
        GROUP BY 1, 2
    """,
    "label_stats": """
        WITH n AS (
            SELECT label,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings)
        SELECT label, count(*) AS n,
               round(avg(nrm), 6) AS avg_norm,
               round(min(nrm), 6) AS min_norm,
               round(max(nrm), 6) AS max_norm
        FROM n GROUP BY label
    """,
}


ORACLES["hard_negatives"] = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS} AS cosine
        FROM v q JOIN v c ON q.label != c.label
        WHERE q.vec_id % {QUERY_MOD} = 0),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {NEG_K}
"""


OUTLIER_TOPK = 50


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anomaly detection: per-dimension z-scores
    against the corpus moments, reported as the top-50 vectors by
    max |z| — the screen that catches corrupt/degenerate embeddings
    (an all-zero row, a fp-overflow spike, a wrong-model import)
    before they poison an ANN index or a SemDeDup pass.

    Determinism discipline: per-dim mean and std are rounded to 6
    decimals and each z to 4 BEFORE the per-vector aggregation, so
    the summed z² terms are EXACT multiples of 1e-8 — which is
    precisely why the per-vector norm² must be quantized to that grid
    (bigint) before summation and floor-rescaled to 3 dp: an exact
    1e-8-multiple sum can land exactly ON a .0005 decimal boundary,
    where ``round()`` is the one op Spark and DuckDB disagree on
    (functions/precision.py). Constant dimensions (std 0) contribute
    z = 0 by definition.

    Scale shape: posexplode → one map-combinable (dim) moment agg (64
    rows — broadcast), re-join the exploded scan on dim, per-vector
    agg, TakeOrderedAndProject for the top-k: no window over the
    corpus, no sort of the fact table."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"))
    stats = ex.groupBy("dim").agg(
        F.round(F.avg("v"), 6).alias("m"),
        F.round(F.sqrt(F.greatest(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), F.lit(0.0))), 6).alias("sd"),
    )
    z = F.when(F.col("sd") > 0, F.round((F.col("v") - F.col("m")) / F.col("sd"), 4)).otherwise(0.0)
    from osarchiver_spark.functions.precision import quantize

    return (
        ex.join(F.broadcast(stats), "dim")
        .select("vec_id", z.alias("z"))
        .groupBy("vec_id")
        .agg(
            (
                F.floor((F.sum(quantize(F.col("z") * F.col("z"), 8)) + F.lit(50000)) / F.lit(100000))
                / F.lit(1e3)
            ).alias("z_norm2"),
            F.max(F.abs(F.col("z"))).alias("max_abs_z"),
        )
        .orderBy(F.col("max_abs_z").desc(), "vec_id")
        .limit(OUTLIER_TOPK)
    )


QUERIES["embedding_outliers"] = q_embedding_outliers

ORACLES["embedding_outliers"] = f"""
    WITH ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings),
    stats AS (
        SELECT dim, round(avg(v), 6) AS m,
               round(sqrt(greatest(avg(v * v) - avg(v) * avg(v), 0.0)), 6) AS sd
        FROM ex GROUP BY 1),
    zs AS (
        SELECT e.vec_id,
               CASE WHEN s.sd > 0 THEN round((e.v - s.m) / s.sd, 4) ELSE 0.0 END AS z
        FROM ex e JOIN stats s USING (dim))
    SELECT vec_id,
           floor((sum(CAST(floor(z * z * 100000000.0 + 0.5) AS BIGINT)) + 50000)
                 / 100000) / 1000.0 AS z_norm2,
           max(abs(z)) AS max_abs_z
    FROM zs GROUP BY vec_id
    ORDER BY max_abs_z DESC, vec_id
    LIMIT {OUTLIER_TOPK}
"""
