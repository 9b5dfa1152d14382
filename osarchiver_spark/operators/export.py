"""End-to-end training-set export — the operational capstone that
WRITES the artifacts the analytic queries only report on.

``export_training_set`` composes the pipeline the registry proves
piecewise (every stage's semantics is oracle-checked through its
query twin) and lands the result as the thing a trainer actually
consumes: gzip JSONL shards per split plus a manifest.

    documents
      → quality + language gate          (queries/text.py::corpus_gate)
      → near-dup removal                 (MinHash-LSH losers anti-join)
      → leakage-free train/val/test     (split keyed on the cluster
                                         rep, so no near-dup pair
                                         straddles a split)
      → <out>/<split>/part-*.json.gz    (shard count = upstream
                                         partitioning)
      → manifest DataFrame               (split, n_docs, n_tokens)

Scale shape: one pass over the corpus for the gates (fused into the
scan), the LSH pair graph + closure for dedup/split keys (equi-joins
only), and one write per split from the same cached survivor set.
Determinism: every decision is a pure function of doc content/ids
(md5 splits, min-id cluster reps), so a re-run writes byte-identical
membership — the export is idempotent at the row level.

The two INDEXED builds (``export_training_set_indexed``,
``export_vector_store_indexed``) land the corpus drop by drop; each
drop's appends span several directories and are one
``storage.run_epoch`` transaction, so a crashed build resumes, or
refuses until ``storage.repair_torn_epochs`` rolls the torn drop back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark import storage

SPLITS = ("train", "val", "test")


N_PACK_SHARDS = 8
PACK_SEQ_LEN = 2048


def export_training_set(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    compression: str | None = "gzip",
    pack_train: bool = True,
) -> DataFrame:
    """Run the full corpus build and write one JSONL dataset per
    split under ``out_dir``. Returns the manifest (split, n_docs,
    n_tokens), also written to ``out_dir``/manifest (parquet).
    With ``pack_train`` (default) the TRAIN split additionally gets a
    packing layout at ``out_dir``/train_layout — each surviving doc's
    (shard, seq_id, offset, spans_boundary) position in a stream of
    PACK_SEQ_LEN-token training sequences (the sequence_pack
    assignment computed over the survivors, not the raw corpus), so a
    trainer can assemble fixed-length batches without re-planning."""
    from osarchiver_spark.operators.dedup import minhash_lsh_pairs
    from osarchiver_spark.queries.dedup import MINHASH_THRESHOLD, PRODUCTION_LSH
    from osarchiver_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    # The pair graph feeds TWO consumers (the dedup anti-join's losers
    # and the split keys' connected components). Without pinning it,
    # each consumer re-runs the whole MinHash pipeline — the sf10
    # chained rehearsal measured the unshared form at 607 s vs 333 s
    # of per-stage work (BENCH_SF10_CAPSTONE.json / SCALE.md). persist
    # + count materializes it exactly once; xxhash64 is the production
    # sketch mode (~1.6x over md5). NOTE the hash-family caveat:
    # banding is probabilistic for threshold-ADJACENT pairs in any
    # hash family, so md5 and xxhash64 runs are not guaranteed the
    # same candidate set — the exact-Jaccard verify gives surviving
    # pairs exact precision, and both consumers (the loser set AND
    # the split keys) derive from this ONE graph, so the pipeline is
    # internally consistent either way. On the shipped fixtures the
    # two modes produce identical membership (pinned in
    # tests/test_similarity.py and observed byte-identical at sf10).
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=MINHASH_THRESHOLD, **PRODUCTION_LSH
    ).persist()
    try:
        return _finalize_export(
            spark, docs, pairs, out_dir, compression, pack_train
        )
    finally:
        pairs.unpersist()


def export_training_set_indexed(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str,
    n_batches: int = 4,
    compression: str | None = "gzip",
    pack_train: bool = True,
) -> DataFrame:
    """The INCREMENTAL-INDEX build of the same training set: the
    corpus arrives as ``n_batches`` doc_id-ordered drops; each drop is
    a PROBE of the persisted LSH band index (never a corpus re-sketch)
    followed by an APPEND of the drop's bands — the maintenance loop
    whose sf10 run is recorded in BENCH_SF10_INDEX_CHAIN.json, here
    wired through to the full gate → dedup → split → export chain.

    Row-identical to :func:`export_training_set` BY CONSTRUCTION, not
    by luck: with id-ordered batches, {intra-batch pairs} ∪
    {cross-batch probe matches} is exactly the one-shot pair graph —
    band-bucket sharing is symmetric and independent of batching, the
    exact-Jaccard verify is the same rounded expression, and every
    batch's bands go into the index (losers too: the one-shot loser
    rule drops a doc that near-dups ANY earlier doc, surviving or
    not, and loser-loser edges can change a component's min-id rep).
    The accumulated graph then feeds the literally-shared
    :func:`_finalize_export` tail. Pinned by
    tests/test_export.py::test_indexed_export_is_row_identical and
    rehearsed at sf10 (SCALE.md).

    Scale shape per drop: one banded broadcast probe with pushed
    band_key IN / doc_id IN predicates (row-group skipping on the
    band_key-sorted index files), one intra-batch LSH pass sized to
    the DROP, one band append — nothing rescans the standing corpus
    text except the candidate rows the verify actually needs. A
    drop's edges come from ``operators/dedup.py::minhash_drop_edges``,
    the same step the streaming text maintenance calls; they are
    materialized before the index append, so the lazily-planned probe
    can never observe files appended after it. The export does not
    drive the streaming step itself: that step also lands every raw
    batch row in a corpus store, a full text copy per drop, where
    this build probes the source table it already has.

    Crash safety: each drop persists its edge set to a sibling pairs
    store (``<index>__pairs``), and its two appends are one
    ``storage.run_epoch`` transaction (markers under
    ``<index>__epochs``) — a re-run after a mid-build crash skips
    DONE drops (their bands AND edges are on disk), refuses on a torn
    drop until ``storage.repair_torn_epochs`` rolls it back, then
    completes identically (tests/test_crash_recovery.py).
    Index/pairs/marker dirs are single-use; rebuilds need fresh
    directories.
    """
    from osarchiver_spark.operators.dedup import minhash_drop_edges, minhash_lsh_index
    from osarchiver_spark.queries.dedup import MINHASH_THRESHOLD, PRODUCTION_LSH
    from osarchiver_spark.sources.parquet import load_table
    from osarchiver_spark.streaming.text_store import read_pair_graph

    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1: {n_batches}")
    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        raise ValueError(f"no documents under {sf_dir}")
    # id-ordered range batches: every cross edge is (earlier, later),
    # which is what makes the loser rule batch-order-independent
    span = int(hi) - int(lo) + 1
    step = max(1, -(-span // n_batches))  # ceil
    bounds = [int(lo) + i * step for i in range(n_batches)] + [int(hi) + 1]
    pairs_dir = f"{index_dir.rstrip('/')}__pairs"
    marker_dir = f"{index_dir.rstrip('/')}__epochs"

    for i in range(n_batches):
        batch = docs.filter(
            (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
        )

        def stage():
            index = storage.read_parquet(spark, index_dir) if i else None
            corpus = docs.filter(F.col("doc_id") < bounds[i])
            return minhash_drop_edges(
                batch, index, corpus, MINHASH_THRESHOLD, **PRODUCTION_LSH
            )

        def append(batch_edges):
            minhash_lsh_index(batch, "doc_id", "text", **PRODUCTION_LSH).write.mode(
                "overwrite" if i == 0 else "append"
            ).parquet(index_dir)
            batch_edges.write.mode(
                "overwrite" if not storage.exists(spark, pairs_dir) else "append"
            ).parquet(pairs_dir)

        # called before the next iteration rebinds batch and i
        storage.run_epoch(spark, marker_dir, i, [index_dir, pairs_dir], stage, append)

    pairs = read_pair_graph(spark, pairs_dir)
    return _finalize_export(spark, docs, pairs, out_dir, compression, pack_train)


def _finalize_export(
    spark: SparkSession,
    docs: DataFrame,
    pairs: DataFrame,
    out_dir: str,
    compression: str | None,
    pack_train: bool,
) -> DataFrame:
    """Shared tail of both export paths: losers/components from the
    pair graph (doc_a, doc_b), gate, split, write, pack, manifest.
    Keeping this literally shared is what makes the one-shot and the
    indexed-incremental builds row-identical BY CONSTRUCTION once
    their pair graphs agree."""
    from osarchiver_spark.functions.text import token_count
    from osarchiver_spark.operators.dedup import connected_components
    from osarchiver_spark.queries.sampling import _TRAIN_UB, _VAL_UB
    from osarchiver_spark.queries.text import corpus_gate

    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    comps = connected_components(pairs)

    survivors = corpus_gate(docs).join(losers, "doc_id", "left_anti")
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id"))
    bucket = F.substring(F.md5(rep.cast("string")), 1, 2)
    split = (
        F.when(bucket < _TRAIN_UB, "train").when(bucket < _VAL_UB, "val").otherwise("test")
    )
    tagged = (
        survivors.join(comps, "doc_id", "left")
        .select(
            "doc_id", "text", "lang", "source",
            token_count(F.col("text")).alias("n_tokens"),
            split.alias("split"),
        )
        .persist()
    )
    try:
        tagged.count()  # materialize while the pair graph is pinned
        pairs.unpersist()  # no-op when the caller didn't persist
        for s in SPLITS:
            writer = (
                tagged.filter(F.col("split") == s)
                .drop("split")
                .write.mode("overwrite")
            )
            if compression:
                writer = writer.option("compression", compression)
            writer.json(f"{out_dir.rstrip('/')}/{s}")
        if pack_train:
            from pyspark.sql import Window as W

            sized = tagged.filter(F.col("split") == "train").select(
                "doc_id",
                (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
                (F.col("n_tokens") + 1).alias("n_slots"),  # +1 separator
            )
            w = W.partitionBy("shard").orderBy("doc_id")
            start = (F.sum("n_slots").over(w) - F.col("n_slots")).alias("start_slot")
            layout = sized.select("doc_id", "shard", "n_slots", start).select(
                "doc_id",
                "shard",
                F.col("n_slots").cast("int").alias("n_slots"),
                F.floor(F.col("start_slot") / PACK_SEQ_LEN).cast("int").alias("seq_id"),
                (F.col("start_slot") % PACK_SEQ_LEN).cast("int").alias("offset"),
                (
                    F.floor((F.col("start_slot") + F.col("n_slots") - 1) / PACK_SEQ_LEN)
                    > F.floor(F.col("start_slot") / PACK_SEQ_LEN)
                ).alias("spans_boundary"),
            )
            layout.write.mode("overwrite").parquet(f"{out_dir.rstrip('/')}/train_layout")
        manifest = tagged.groupBy("split").agg(
            F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
        )
        manifest.write.mode("overwrite").parquet(f"{out_dir.rstrip('/')}/manifest")
        return storage.read_parquet(spark, f"{out_dir.rstrip('/')}/manifest")
    finally:
        tagged.unpersist()


def export_vector_store(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    nprobe: int = 4,
    max_batch_rows: int | None = None,
    pq_models: tuple[list[list[float]], list[list[list[float]]]] | None = None,
) -> DataFrame:
    """The VECTOR capstone: embedding near-dup removal + a persisted
    IVF serving index of the survivors — the artifact an embedding
    corpus actually serves retrieval from, one-shot build.

        embeddings
          → IVF-cell near-dup candidates     (ivf_neardup_probe: each
            vector probes its nprobe nearest cells under the FROZEN
            ``centroids`` model; cosine >= threshold)
          → loser rule                        (higher id of each pair)
          → <out>/store/cid=*/                (ivf_index of survivors,
                                               cid-partitioned parquet)
          → manifest (cid, n_vectors)         (<out>/manifest, parquet)

    The candidate rule depends only on the frozen model, never on
    batching — so :func:`export_vector_store_indexed` (drops +
    probe/append) lands a row-identical store BY CONSTRUCTION
    (tests/test_vector_store.py). The model is an argument, not
    trained here: IVF practice freezes centroids between retrains,
    and the frozen model is what makes one-shot and incremental
    builds comparable at all.

    ``max_batch_rows`` (default: the probe's
    INDEXED_PROBE_MAX_QUERIES ceiling) bounds the query side of the
    one-shot probe: the whole corpus plays the query batch here, so
    above the bound the probe runs in ceil(n / max_batch_rows)
    deterministic xxhash64 chunks of the corpus whose match sets are
    unioned — matches are independent per query, so the union equals
    the single probe row-for-row, while each chunk's materialized
    probe frame stays batch-sized. A >1M-vector corpus therefore
    chunks instead of tripping the probe's batch guard.

    ``pq_models`` = (coarse, books): write the survivor store as a
    COMPRESSED IVF-PQ code index (the format a 100 TB corpus actually
    serves from — ~2 B/vector on disk vs ~42) instead of full
    vectors. The dedup decision itself always runs on full vectors
    under ``centroids``; the PQ models only shape the persisted
    artifact, so the survivor MEMBERSHIP is format-independent and
    the incremental build's code store is row-identical by the same
    frozen-model argument (codes depend only on the frozen models and
    the vector, never on batching)."""
    from osarchiver_spark.operators.ivf import (
        INDEXED_PROBE_MAX_QUERIES,
        ivf_index,
        ivf_neardup_probe,
    )
    from osarchiver_spark.sources.parquet import load_table

    if max_batch_rows is None:
        max_batch_rows = INDEXED_PROBE_MAX_QUERIES
    emb = load_table(spark, sf_dir, "embeddings")
    full_index = ivf_index(emb, "vec_id", "embedding", centroids)
    n = emb.count()
    n_chunks = max(1, -(-n // max_batch_rows))  # ceil
    chunk_pairs = []
    for c in range(n_chunks):
        chunk = (
            emb if n_chunks == 1
            else emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_chunks)) == c)
        )
        # hash chunks are near-equal-sized, not exactly bounded; the
        # cap is a memory ceiling, not a semantic bound, so the guard
        # is satisfied by the chunking itself (batch_rows=0 would be
        # dishonest — disable it instead)
        chunk_pairs.append(
            ivf_neardup_probe(
                full_index, chunk, "vec_id", "embedding", centroids,
                threshold=threshold, nprobe=nprobe,
                max_batch_rows=None if n_chunks > 1 else max_batch_rows,
                batch_rows=n if n_chunks == 1 else None,
            )
        )
    pairs = chunk_pairs[0]
    for p in chunk_pairs[1:]:
        pairs = pairs.unionByName(p)
    pairs = pairs.filter(F.col("neighbor_id") < F.col("query_id"))
    losers = pairs.select(F.col("query_id").alias("vec_id")).distinct()
    survivors = emb.join(losers, "vec_id", "left_anti")
    _write_store(survivors, centroids, pq_models, f"{out_dir.rstrip('/')}/store", "overwrite")
    return _vector_manifest(spark, out_dir)


def _write_store(survivors, centroids, pq_models, store_dir: str, mode: str) -> None:
    """Shared store writer: full-vector IVF cells, or PQ codes when
    ``pq_models`` is given — same cid-partitioned layout either way."""
    from osarchiver_spark.operators.ivf import ivf_index

    if pq_models is None:
        out = ivf_index(survivors, "vec_id", "embedding", centroids)
    else:
        from osarchiver_spark.operators.pq import ivf_pq_index

        coarse, books = pq_models
        out = ivf_pq_index(survivors, "vec_id", "embedding", coarse, books)
    out.write.mode(mode).partitionBy("cid").parquet(store_dir)


def export_vector_store_indexed(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str,
    centroids: list[list[float]],
    n_batches: int = 4,
    threshold: float = 0.9,
    nprobe: int = 4,
    max_batch_rows: int | None = None,
    pq_models: tuple[list[list[float]], list[list[list[float]]]] | None = None,
) -> DataFrame:
    """The INCREMENTAL-INDEX build of the same vector store: the
    corpus arrives as ``n_batches`` vec_id-ordered drops. Each drop
    PROBES the persisted dedup index (every earlier vector, losers
    included — the loser rule matches against any earlier vector,
    surviving or not, exactly like the text capstone), then APPENDS
    its own cell assignments to the dedup index and its SURVIVORS to
    the serving store. Per-drop cost is probe-shaped: the dedup probe
    reads only the drop's probed cid partitions, nothing re-scans or
    re-assigns the standing corpus.

    Row-identical to :func:`export_vector_store` BY CONSTRUCTION:
    "q matches n iff n is in q's nprobe nearest cells (frozen
    centroids) and cosine >= threshold, n < q" — n is either in an
    earlier drop (found by the cross probe) or the same drop (found
    by the intra probe), and the union over drops is exactly the
    one-shot match set. Loser status is final the moment a drop is
    processed (a future vector has a higher id and can only lose
    against the past), which is what makes per-drop survivor appends
    sound.

    ``max_batch_rows`` (default: the probe's
    INDEXED_PROBE_MAX_QUERIES ceiling) is validated against EVERY
    drop's ROW COUNT up front — one corpus scan producing a
    model-sized (batch, count) table — so an id-range batch that is
    denser than the value split anticipated fails BEFORE anything is
    written, never mid-build after earlier drops were appended. Each
    drop's probes then check the same bound against that drop's own
    count.

    Each drop is one run of the streaming loop's maintenance step
    (streaming/vector_store.py::make_maintenance_batch_fn), so its two
    appends are one ``storage.run_epoch`` transaction
    (``<store>__epochs/``). A re-run after a mid-build crash skips
    DONE drops whole and REFUSES on a torn drop (BEGIN without DONE)
    until ``storage.repair_torn_epochs`` rolls its partial appends
    back — then the re-run completes the build identically to a
    never-crashed one (pinned in tests/test_crash_recovery.py).
    Consequence: out/index dirs are single-use — a deliberate rebuild
    needs fresh (or cleared) directories, matching the streaming
    maintainers' contract."""
    from osarchiver_spark.operators.ivf import INDEXED_PROBE_MAX_QUERIES
    from osarchiver_spark.sources.parquet import load_table
    from osarchiver_spark.streaming.vector_store import make_maintenance_batch_fn

    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1: {n_batches}")
    if max_batch_rows is None:
        max_batch_rows = INDEXED_PROBE_MAX_QUERIES
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    if lo is None:
        raise ValueError(f"no embeddings under {sf_dir}")
    span = int(hi) - int(lo) + 1
    step = max(1, -(-span // n_batches))  # ceil
    bounds = [int(lo) + i * step for i in range(n_batches)] + [int(hi) + 1]
    store_dir = f"{out_dir.rstrip('/')}/store"

    # all batch counts in ONE pass, validated before any write
    batch_of = F.least(
        F.lit(n_batches - 1),
        F.floor((F.col("vec_id") - F.lit(int(lo))) / F.lit(step)),
    ).cast("int")
    counts = {
        r["b"]: r["n"]
        for r in emb.select(batch_of.alias("b")).groupBy("b").agg(
            F.count("*").alias("n")
        ).collect()
    }
    oversized = {b: c for b, c in counts.items() if c > max_batch_rows}
    if oversized:
        raise ValueError(
            f"export_vector_store_indexed: id-range batches {oversized} "
            f"exceed max_batch_rows={max_batch_rows} rows; raise "
            f"n_batches (or max_batch_rows deliberately). Checked "
            f"up front so no partial store is written."
        )

    # id-ordered drops: every standing match has a smaller id, so the
    # streaming step's first-arrival-wins rule IS the one-shot rule
    step_fn = make_maintenance_batch_fn(
        spark, index_dir, store_dir, centroids, threshold, nprobe,
        pq_models=pq_models, max_batch_rows=max_batch_rows,
    )
    for i in range(n_batches):
        step_fn(emb.filter((F.col("vec_id") >= bounds[i]) & (F.col("vec_id") < bounds[i + 1])), i)
    return _vector_manifest(spark, out_dir)


def _vector_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Shared tail: (cid, n_vectors) of the serving store, written to
    <out>/manifest and returned."""
    store = storage.read_parquet(spark, f"{out_dir.rstrip('/')}/store").withColumn(
        "cid", F.col("cid").cast("int")
    )
    manifest = store.groupBy("cid").agg(F.count("*").alias("n_vectors"))
    manifest.write.mode("overwrite").parquet(f"{out_dir.rstrip('/')}/manifest")
    return storage.read_parquet(spark, f"{out_dir.rstrip('/')}/manifest")
