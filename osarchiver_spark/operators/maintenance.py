"""Archive maintenance: small-file compaction.

Every nightly incremental archival run appends a few files per table;
after a year a 100 TB archive is millions of kilobyte-scale files and
scan planning (footer reads, task scheduling) dominates every restore
query — the classic small-file problem. Compaction rewrites a parquet
directory into ceil(bytes / target) files of ~target size.

The rewrite goes through ``storage.swap_in``: a sibling temp
directory first, then a checked two-rename swap, so a crash
mid-compaction leaves one complete copy that ``storage.recover``
puts back on the next swap or stream open (the same
archive-before-delete discipline as the pipeline itself).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from osarchiver_spark import storage


def data_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory."""
    files = storage.list_files(spark, path)
    return len(files), sum(n for _, n in files)


def compact_parquet_dir(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Rewrite ``path`` into ~target-sized files; returns
    (files_before, files_after). Row content is preserved exactly —
    compaction is a pure physical re-layout."""
    before, total = data_file_stats(spark, path)
    n_out = max(1, math.ceil(total / target_bytes))
    if before <= n_out:
        return before, before  # already compact enough
    df = storage.read_parquet(spark, path)
    storage.swap_in(
        spark, path,
        lambda tmp: df.repartition(n_out).write.mode("overwrite").parquet(tmp),
    )
    after, _ = data_file_stats(spark, path)
    return before, after


def compact_partitioned_store(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_within: list[str] | None = None,
) -> tuple[int, int]:
    """Layout-PRESERVING compaction for a hive-partitioned store (the
    cid-partitioned IVF/IVF-PQ serving indexes, the band_key LSH
    index): every per-drop append adds at least one file per touched
    partition directory, so after N drops a probe of one cell plans N
    small files — scan planning, not bytes, starts to dominate the
    partition-pruned read this layout exists for.
    ``compact_parquet_dir`` would be WRONG here: its global
    repartition writes an unpartitioned copy, destroying the
    PartitionFilters pruning.

    This rewrite keeps the directory layout: per-partition byte
    counts (one fs listing) size each partition's output at
    ceil(bytes/target) files; rows re-shuffle on (partition,
    content-hash ⊕ row-ordinal salt) so no output file exceeds ~target
    while cells smaller than target land in ONE file each (the common
    case — a probe then opens exactly one file per pruned cell). The
    per-partition file-count map is model-sized (n_partitions rows,
    broadcast). Each (partition, salt) group is pinned to its OWN
    shuffle task: a plain ``repartition(cols)`` hash-distributes the
    groups over the default shuffle partitions, so two salts of one
    partition can collide into one task and merge into a ~2×-target
    file the per-partition file-count early-exit would then never
    split. The pinning precomputes, per global
    group id gid ∈ [0, Σfiles), a small integer key whose
    murmur3-hash lands in shuffle partition gid (repartition(N, col)
    IS pmod(hash(col), N) — one ~64·N-row driver-side probe job), and
    shuffles on that key with numPartitions=Σfiles.
    ``sort_within`` re-applies an intra-file ordering
    after the shuffle (the band index's band_key sort, which its
    row-group min/max skipping relies on). Content is preserved
    exactly (pure physical re-layout — fingerprint identity pinned in
    tests); the swap is the same ``storage.swap_in`` as
    compact_parquet_dir. Returns (files_before, files_after)."""
    from pyspark.sql import functions as F

    from urllib.parse import unquote

    # dir value -> (files, bytes, max file bytes); the key is the
    # DECODED value (hive escapes 'a:b' as 'a%3Ab') and None for
    # __HIVE_DEFAULT_PARTITION__, so the mapping join below matches
    # cast(col as string) exactly
    per_part: dict[str | None, tuple[int, int, int]] = {}
    for f, size in storage.list_files(spark, path):
        name = f.rsplit("/", 2)[-2]
        if "=" not in name:
            continue
        raw = name.split("=", 1)[1]
        value = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
        n, b, max_b = per_part.get(value, (0, 0, 0))
        per_part[value] = (n + 1, b + size, max(max_b, size))
    if not per_part:
        raise ValueError(f"{path} has no {partition_col}=* partition dirs")
    before = sum(n for n, _, _ in per_part.values())
    n_files = {
        v: max(1, math.ceil(b / target_bytes)) for v, (_, b, _) in per_part.items()
    }
    # compactness is PER PARTITION: a global file-count comparison lets
    # one over-provisioned cell mask another's fragmentation forever
    # (3-file cell with target 1 + 1-file cell with target 3 nets out).
    # An OVERSIZED file also triggers (n == ceil(bytes/target) can hide
    # one ~2×-target file next to a sliver — e.g. a pre-fix compaction's
    # salt collision); 1.5× slack absorbs encoding variance so a store
    # this function just wrote never re-triggers — at REAL targets:
    # with target under ~2× parquet's per-file metadata floor (a few
    # KiB) the overhead alone can exceed the slack and a rewrite
    # cannot converge below it; production targets (128 MiB default)
    # sit four orders of magnitude above that floor.
    if not any(
        n > n_files[v] or max_b > target_bytes * 1.5
        for v, (n, _, max_b) in per_part.items()
    ):
        return before, before  # every partition already compact

    df = storage.read_parquet(spark, path)
    data_cols = [c for c in df.columns if c != partition_col]
    ordered = sorted(n_files.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))
    offsets: dict[str | None, int] = {}
    acc = 0
    for v, nf in ordered:
        offsets[v] = acc
        acc += nf
    n_total = acc
    mapping = spark.createDataFrame(
        [(v, nf, offsets[v]) for v, nf in ordered],
        "_pv string, _nf int, _off int",
    )
    # pin each global group id gid = offset(partition) + salt to its
    # own shuffle task: repartition(N, col) routes a row to partition
    # pmod(murmur3(col), N), so probe small ints until every gid in
    # [0, N) has a key that hashes onto it (coupon-collector: 64·N
    # candidates miss a slot with probability ~N·e^-64)
    keys: dict[int, int] = {}
    span = 64
    while span <= 4096:
        cand = spark.range(n_total * span).select(
            F.col("id").cast("int").alias("_skey")
        )
        hit = (
            cand.withColumn("_gid", F.pmod(F.hash("_skey"), F.lit(n_total)))
            .groupBy("_gid")
            .agg(F.min("_skey").alias("_skey"))
        )
        keys = {r["_gid"]: r["_skey"] for r in hit.collect()}
        if len(keys) == n_total:
            break
        span *= 4
    # null-safe equality so a __HIVE_DEFAULT_PARTITION__ (null) value
    # still matches its mapping row instead of being dropped
    # the salt mixes the row's content hash with a per-row ordinal:
    # content alone would send ALL copies of a duplicated row to one
    # salt (a partition of near-identical rows then lands in a single
    # >target file that NO rewrite can split — the oversized-file
    # early-exit would re-trigger a futile full rewrite forever).
    # monotonically_increasing_id is stable for a deterministic scan
    # within this one job, which is all the salt needs — it routes
    # rows, it is not persisted.
    salted = df.join(
        F.broadcast(mapping),
        F.col(partition_col).cast("string").eqNullSafe(F.col("_pv")),
    ).withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(
                F.to_json(F.struct(*data_cols)), F.monotonically_increasing_id()
            ),
            F.col("_nf"),
        ).cast("int"),
    )
    if len(keys) == n_total:
        gid_map = spark.createDataFrame(
            sorted(keys.items()), "_gid int, _skey int"
        )
        salted = (
            salted.withColumn("_gid", F.col("_off") + F.col("_salt"))
            .join(F.broadcast(gid_map), "_gid")
            .repartition(n_total, F.col("_skey"))
            .drop("_pv", "_nf", "_off", "_salt", "_gid", "_skey")
        )
    else:  # probe failed (practically unreachable): fall back to the
        # hash shuffle — files stay correct, merely less evenly sized
        salted = salted.repartition(
            n_total, F.col(partition_col), F.col("_salt")
        ).drop("_pv", "_nf", "_off", "_salt")
    if sort_within:
        # lead with the partition column: the partitioned writer's
        # required ordering is then already satisfied, so it does not
        # re-sort the task (its own partition-col sort is not stable
        # and would scramble the intra-file ordering)
        salted = salted.sortWithinPartitions(partition_col, *sort_within)

    # the swap DELETES the original, so refuse to proceed unless the
    # rewrite provably carries every row — a mapping-join miss (an
    # unanticipated partition-name encoding, a listing race) must fail
    # loudly here, never silently truncate the store
    n_before, n_after = df.count(), salted.count()
    if n_before != n_after:
        raise RuntimeError(
            f"compact_partitioned_store: rewrite would carry {n_after} of "
            f"{n_before} rows (partition mapping mismatch under {path}); "
            f"aborting before the swap — original left untouched."
        )

    storage.swap_in(
        spark, path,
        lambda tmp: salted.write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp),
    )
    after, _ = data_file_stats(spark, path)
    return before, after
