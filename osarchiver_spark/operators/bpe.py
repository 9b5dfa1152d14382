"""Byte-pair-encoding vocabulary induction (Sennrich et al., 2016 —
public algorithm) as a driver loop of DataFrame passes, plus the
apply path that segments a corpus with the learned merges.

The reference has no tokenizer-training analog (its value is archival
plumbing); this is a north-star LLM-pipeline operator. The existing
``bpe_merge_step`` query is the single pair-count step; this operator
runs the REAL iteration: count pairs → merge the argmax → recount —
so later merges combine previously-merged multi-char symbols.

The 100 TB shape:

- the corpus collapses to its VOCABULARY first (one map-combinable
  token-count agg); every training iteration then runs on |vocab|
  rows, never on the corpus again — for web-scale text |vocab| is
  millions of rows while the corpus is billions, so the loop costs a
  fixed small multiple of one vocabulary scan per merge.
- per step, exactly ONE row crosses to the driver (the argmax pair —
  the same model-sized-collect rule as k-means centroids).
- the merge rewrite is a row-local JVM fold (``F.aggregate`` over the
  symbol array — no shuffle, no Python): left-to-right greedy
  non-overlapping, the textbook BPE application order. A fold that
  checks "does the accumulated tail end with ``a``" is exactly greedy
  because a merged symbol ``a||b`` can never equal ``a``.
- the apply path (``bpe_segment``) never re-runs merges over
  documents: segmentation is a pure function of the word, so
  documents just equi-join the |vocab|-sized segmentation table
  (broadcast at realistic vocab sizes).

Determinism/oracle: the argmax pair tie-breaks (count desc, sym_a
asc, sym_b asc) and all counts are integers, so a SQL replay of the
same iterations (chained CTEs, one pair-count + one list_reduce fold
per step) is bit-identical — validated against an independent
pure-Python BPE trainer before registration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark.functions.text import tokens

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType()),
        T.StructField("sym_a", T.StringType()),
        T.StructField("sym_b", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)

#: (token, freq, syms) — the vocabulary relation shape shared by the
#: distributed loop's DataFrame lineage and the driver-collapsed
#: path's reconstructed local relation.
VOCAB_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("freq", T.LongType()),
        T.StructField("syms", T.ArrayType(T.StringType())),
    ]
)


def _char_syms(token: Column) -> Column:
    """Split a token into single-character symbols (code points —
    matches DuckDB substring semantics)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(token)), lambda i: token.substr(i, F.lit(1))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs; empty for
    single-symbol words (guarded — sequence(1, 0) would count DOWN)."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("a"), F.element_at(syms, i + 1).alias("b")
        ),
    )
    empty = F.array().cast("array<struct<a:string,b:string>>")
    return F.when(F.size(syms) >= 2, pairs).otherwise(empty)


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Left-to-right greedy non-overlapping merge of (a, b) -> a||b.
    F.get is 0-indexed and NULL-safe, so the empty-accumulator start
    falls through to append under ANSI mode."""
    merged = F.lit(a + b)
    zero = F.array().cast("array<string>")
    return F.aggregate(
        syms,
        zero,
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_vocab(docs: DataFrame, text_col: str = "text", lowercase: bool = True) -> DataFrame:
    """(token, freq, syms): the word-frequency table with initial
    character segmentation — the only corpus-sized pass BPE makes."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    tok = docs.select(F.explode(tokens(text)).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", _char_syms(F.col("token")))
    )


#: Sufficient-statistic collapse bound for the BPE trainer (the
#: LR_CELL_CAP pattern, r12 optimization round): every merge step's
#: argmax depends on the corpus only through the (token, freq)
#: vocabulary table, so when that table fits comfortably on the
#: driver the whole merge loop runs there over ONE collected copy —
#: one corpus pass + one vocab collect instead of n_merges sequential
#: vocab-sized Spark jobs. Above the cap (web-scale vocabularies),
#: the original distributed per-step loop runs unchanged.
BPE_VOCAB_CAP = 1 << 18


def _merge_fold_py(syms: list[str], a: str, b: str) -> list[str]:
    """Driver-side twin of :func:`_merge_fold`: left-to-right greedy
    non-overlapping merge of (a, b) -> a+b. Semantically identical to
    the F.aggregate fold (check the accumulated tail, append or
    replace) — pinned against it in tests/test_bpe.py."""
    acc: list[str] = []
    for x in syms:
        if acc and acc[-1] == a and x == b:
            acc[-1] = a + b
        else:
            acc.append(x)
    return acc


def _bpe_driver_loop(
    vocab: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[int, str, str, int]], list[list[str]]]:
    """The merge loop over a driver-held vocabulary: incrementally
    maintained integer pair counts (only tokens containing the merged
    pair are re-counted — Sennrich's reference trick), argmax
    tie-broken (count desc, sym_a asc, sym_b asc) exactly like the
    distributed ``orderBy(desc(n), a, b)``: Python str comparison is
    code-point order == Spark's UTF8 byte order, and all counts are
    exact integers, so the two forms are bit-identical. Returns
    (merges, final segmentations aligned with ``vocab``)."""
    from collections import defaultdict

    segs = [list(tok) for tok, _ in vocab]
    freqs = [f for _, f in vocab]
    pair_n: dict[tuple[str, str], int] = defaultdict(int)
    pair_toks: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, ss in enumerate(segs):
        f = freqs[i]
        for p in zip(ss, ss[1:]):
            pair_n[p] += f
            pair_toks[p].add(i)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        if not pair_n:
            break  # vocabulary fully merged — nothing adjacent left
        (a, b), n = min(pair_n.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, int(n)))
        for i in list(pair_toks.get((a, b), ())):
            ss, f = segs[i], freqs[i]
            for p in zip(ss, ss[1:]):
                pair_n[p] -= f
                if pair_n[p] == 0:
                    del pair_n[p]
                s = pair_toks.get(p)
                if s is not None:
                    s.discard(i)
                    if not s:
                        del pair_toks[p]
            ss = _merge_fold_py(ss, a, b)
            segs[i] = ss
            for p in zip(ss, ss[1:]):
                pair_n[p] += f
                pair_toks[p].add(i)
    return merges, segs


def _train_collapsed(
    docs: DataFrame, text_col: str, n_merges: int, lowercase: bool
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int, list[str]]]] | None:
    """Sufficient-statistic BPE training (guide §1.2/§8 "decide with
    small rows"): ONE corpus pass builds the (token, freq) vocabulary,
    ONE capped collect brings it to the driver, and the whole merge
    loop runs there. Returns (merges, final (token, freq, syms) rows)
    or ``None`` when the vocabulary exceeds :data:`BPE_VOCAB_CAP`
    (callers fall back to the distributed per-step loop)."""
    rows = (
        bpe_vocab(docs, text_col, lowercase=lowercase)
        .select("token", "freq")
        .limit(BPE_VOCAB_CAP + 1)
        .collect()
    )
    if len(rows) > BPE_VOCAB_CAP:
        return None
    vocab = [(r["token"], int(r["freq"])) for r in rows]
    merges, segs = _bpe_driver_loop(vocab, n_merges)
    return merges, [(t, f, ss) for (t, f), ss in zip(vocab, segs)]


def _train_loop(
    docs: DataFrame, text_col: str, n_merges: int, lowercase: bool
) -> tuple[list[tuple[int, str, str, int]], DataFrame, DataFrame | None, bool]:
    """The distributed per-step merge loop — the fallback when the
    vocabulary exceeds :data:`BPE_VOCAB_CAP`. Returns (merges, vocab,
    parent, cached):

    - on a full run, ``vocab`` is the LAZY final generation (one
      un-materialized fold on top of ``parent``, the cached and
      already-materialized previous generation) — the caller decides
      whether to pay for materializing it (bpe_train with_vocab=True
      persists+counts it; bpe_segment_counts checkpoints only the
      2-column projection it joins on), then releases ``parent``;
    - on early exhaustion (vocabulary fully merged before n_merges),
      ``vocab`` is cached+materialized, ``parent`` is None, and
      ``cached`` is True — the caller must unpersist it when done.

    The final generation is deliberately NOT persisted inside the
    loop: doing so (pre-r5 shape) forced every caller to pay a full
    extra vocabulary materialization just to avoid leaking the pinned
    parent — the bpe_train/bpe_segment 1.4x regression in BENCH_r04."""
    v = bpe_vocab(docs, text_col, lowercase=lowercase).persist()
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
    cached = True
    try:
        for step in range(1, n_merges + 1):
            top = (
                v.select("freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), "a", "b")
                .limit(1)
                .collect()
            )
            # this collect just materialized v's cache, so its parent
            # (one step behind) can go — no extra count() job per step
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                break  # vocabulary fully merged — nothing adjacent left
            a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
            merges.append((step, a, b, n))
            folded = v.withColumn("syms", _merge_fold(F.col("syms"), a, b))
            if step < n_merges:
                prev, v = v, folded.persist()
            else:
                prev, v, cached = v, folded, False
    except Exception:
        if prev is not None:
            prev.unpersist()
        if cached:
            v.unpersist()
        raise
    return merges, v, prev, cached


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    lowercase: bool = True,
    with_vocab: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Learn ``n_merges`` BPE merges. Returns (merges, vocab):
    merges = (step, sym_a, sym_b, n) — the model, n_merges rows;
    vocab  = (token, freq, syms) segmented with ALL learned merges —
    the apply-path lookup table.

    ``with_vocab=True``: vocab is returned persisted+materialized —
    the caller owns the cache entry and must ``unpersist()`` it.
    ``with_vocab=False``: the model is the only deliverable; vocab is
    ``None`` on both paths and nothing is left pinned — the collapsed
    path builds no vocab relation, the distributed loop releases its
    generations without materializing the last one."""
    spark = docs.sparkSession
    collapsed = _train_collapsed(docs, text_col, n_merges, lowercase)
    if collapsed is not None:
        merges, vocab_rows = collapsed
        merges_df = spark.createDataFrame(merges, MERGE_SCHEMA)
        if not with_vocab:
            return merges_df, None
        # a driver-local relation: "materialized" by construction and
        # unpersist() is a no-op
        return merges_df, spark.createDataFrame(vocab_rows, VOCAB_SCHEMA)
    merges, v, parent, cached = _train_loop(docs, text_col, n_merges, lowercase)
    merges_df = spark.createDataFrame(merges, MERGE_SCHEMA)
    if not with_vocab:
        if parent is not None:
            parent.unpersist()
        if cached:
            v.unpersist()
        return merges_df, None
    if not cached:
        v = v.persist()
        v.count()  # materialize the final gen before dropping its parent
        if parent is not None:
            parent.unpersist()
    return merges_df, v


def bpe_segment_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    lowercase: bool = True,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, n_pieces): per-document BPE piece budget
    after ``n_merges`` merges — the sequence-length accounting a
    training pipeline provisions from. Documents never see the merge
    loop: they equi-join the segmented vocabulary."""
    if vocab is None:
        collapsed = _train_collapsed(docs, text_col, n_merges, lowercase)
        if collapsed is not None:
            # driver-trained segmentation re-enters as a vocab-sized
            # local relation: broadcast-joinable, nothing cached
            _, vocab_rows = collapsed
            seg = docs.sparkSession.createDataFrame(
                [(t, len(ss)) for t, _, ss in vocab_rows],
                T.StructType(
                    [
                        T.StructField("token", T.StringType()),
                        T.StructField("n_syms", T.IntegerType()),
                    ]
                ),
            )
        else:
            # only the (token, n_syms) projection is needed for the
            # join, so skip bpe_train's full-vocab materialization:
            # checkpoint the projection straight off the loop's lazy
            # final fold (one pass over the cached parent generation),
            # then release every loop cache before returning
            from osarchiver_spark.operators.cache import transient

            _, v, parent, cached = _train_loop(docs, text_col, n_merges, lowercase)
            seg = transient(
                v.select("token", F.size("syms").alias("n_syms")), eager=True
            )
            if parent is not None:
                parent.unpersist()
            if cached:
                v.unpersist()
    else:
        seg = vocab.select("token", F.size("syms").alias("n_syms"))
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    dtok = docs.select(F.col(id_col), F.explode(tokens(text)).alias("token"))
    return (
        dtok.join(seg, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_syms").alias("n_pieces"),
        )
    )
