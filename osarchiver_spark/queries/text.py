"""Text-analysis queries over ``documents`` (north-star operators:
language-ID, quality scoring, token counting, fingerprinting).

Every query has an exact DuckDB oracle: tokenization, md5 sketches
and score formulas are reproduced digit-for-digit in SQL (the marker
lexicons are embedded from the same LANG_MARKERS constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from osarchiver_spark.functions.precision import exact_round, quantize
from osarchiver_spark.functions.text import (
    ENGLISH_STOPWORDS,
    LANG_MARKERS,
    lang_id,
    lang_scores,
    normalized_fingerprint,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
    winnow_fingerprint,
)
from osarchiver_spark.sources.parquet import load_table

# Shared SQL fragments (must mirror functions/text.py exactly).
_SQL_TOKENS = "list_filter(regexp_split_to_array(trim({col}), '\\s+'), t -> t <> '')"
_SQL_TOKENS_LOWER = _SQL_TOKENS.format(col="lower(text)")


def _sql_in_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    # div-by-zero guards: ANSI mode errors on x/0, and an all-
    # whitespace doc in a future fixture would otherwise kill the scan
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("text_len"),
        F.when(n > 0, F.round(total_len.cast("double") / n, 6)).alias("avg_token_len"),
        F.when(n > 0, F.round(F.size(F.array_distinct(toks)).cast("double") / n, 6)).alias("distinct_ratio"),
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency: top 20 tokens (count desc, token
    asc). The whole-corpus groupBy is the canonical map-side-combine
    aggregation — linear at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: stopword presence, length saturation,
    punctuation penalty — the standard cheap pre-filter of a training
    data pipeline.

    One tokenization feeds both the count and the stopword hits:
    whitespace splitting is case-invariant, so sizing the lowercased
    token array is bit-identical to token_count(text) at one fewer
    regex-split pass over every document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    n_toks = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(ENGLISH_STOPWORDS)))
    stop_r = F.when(n_toks > 0, hits / n_toks).otherwise(F.lit(0.0))
    punct_r = punct_ratio(F.col("text"))
    len_score = F.least(n_toks.cast("double") / 100.0, F.lit(1.0))
    quality = 0.5 * stop_r + 0.3 * len_score + 0.2 * (1.0 - punct_r)
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(stop_r, 6).alias("stopword_ratio"),
        F.round(punct_r, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        lang_id(F.col("text")).alias("lang_pred"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # char-shingle hashing is CPU-bound: spread the single-split scan
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return docs.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fp_exact"),
        winnow_fingerprint(F.col("text")).alias("fp_winnow"),
    )


def corpus_gate(df: DataFrame) -> DataFrame:
    """The stateless ingest gate (quality >= 0.5 AND predicted lang
    'en') shared by the batch corpus pipeline and its streaming twin
    — pure codegen'd column expressions, so it applies unchanged to a
    readStream micro-batch."""
    n_toks = token_count(F.col("text"))
    stop_r = stopword_ratio(F.col("text"))
    punct_r = punct_ratio(F.col("text"))
    len_score = F.least(n_toks.cast("double") / 100.0, F.lit(1.0))
    quality = 0.5 * stop_r + 0.3 * len_score + 0.2 * (1.0 - punct_r)
    return df.filter((F.round(quality, 6) >= 0.5) & (lang_id(F.col("text")) == "en"))


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pre-filter: quality gate + language
    gate + near-dup removal in one plan. Documents survive when
    (a) quality >= 0.5, (b) predicted language is 'en', and (c) they
    are not the higher-id member of any >=0.5-Jaccard near-dup pair.
    One declarative plan: Catalyst fuses the scalar gates into the
    scan and the dedup anti-join runs on the LSH pair set only."""
    from osarchiver_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    gated = corpus_gate(docs)
    dup_losers = (
        minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return gated.join(dup_losers, "doc_id", "left_anti").select("doc_id", "lang", "source")


def q_streaming_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest of training data: the stateless quality+lang
    gate (corpus_gate — identical column expressions as the batch
    pipeline) fused into the SAME micro-batch pass as the stateful
    first-seen fingerprint dedup (applyInPandasWithState). Over one
    micro-batch of the whole table this equals the batch min-per-
    fingerprint of the gated documents — the SQL oracle; cross-batch
    state is pinned in tests/test_streaming_dedup.py."""
    from osarchiver_spark.streaming.dedup import run_streaming_dedup
    from osarchiver_spark.streaming.text_store import DOCUMENTS_RAW_SCHEMA

    return run_streaming_dedup(
        spark, sf_dir, "documents", DOCUMENTS_RAW_SCHEMA, transform=corpus_gate, scratch="scorpus"
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish pre-tokenizer counts per document — the
    LLM-pipeline cost estimate (functions/text.py::BPE_LIKE_PATTERN
    runs identically under Java regex and RE2)."""
    from osarchiver_spark.functions.text import bpe_like_token_count

    docs = load_table(spark, sf_dir, "documents")
    n_bpe = bpe_like_token_count(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_bpe > 0, F.round(F.length("text").cast("double") / n_bpe, 6)).alias(
            "chars_per_token"
        ),
    )


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    3-gram shingle with a held-out benchmark slice (doc_id % 10 == 0
    stands in for the eval set). The shingle-share equi-join is the
    decontamination shape at 100 TB — candidates come from an
    explode + shuffle join on the shingle, never a cross join; the
    benchmark side is the small one and broadcasts."""
    from osarchiver_spark.functions.text import word_shingles

    # shingling is CPU-bound: spread the single-split fixture scan
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh"))
    bench = sh.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    corp = sh.filter(F.col("doc_id") % 10 != 0)
    return (
        corp.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule: fraction of duplicate
    word 3-grams per document (1 - distinct/total). Pure codegen'd
    array expressions — no shuffle, no Python."""
    from osarchiver_spark.functions.text import word_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = word_grams(F.col("text"), 3)
    n_total = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    ratio = F.when(
        n_total > 0,
        F.round(1.0 - n_distinct.cast("double") / n_total.cast("double"), 6),
    )
    return docs.select(
        "doc_id",
        n_total.alias("n_grams"),
        n_distinct.alias("n_distinct_grams"),
        ratio.alias("rep_ratio"),
        F.coalesce(ratio <= 0.2, F.lit(True)).alias("keep"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: emails → <EMAIL>, IPv4 → <IP>, long digit
    runs (phone-ish) → <PHONE>, applied in that order so earlier
    redactions can't be re-matched. Pure regexp_replace /
    regexp_extract_all codegen — at 100 TB this runs at scan speed
    inside the projection, no shuffle, no Python. The fixture corpus
    is digit-free (zero redactions, verified by the oracle hash);
    firing behaviour is pinned on synthetic rows in
    tests/test_text_pipeline.py."""
    from osarchiver_spark.functions.text import PII_EMAIL, PII_IPV4, PII_PHONE

    docs = load_table(spark, sf_dir, "documents")
    t0 = F.col("text")
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")

    def n_matches(col, pat):
        return F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("int")

    return docs.select(
        "doc_id",
        n_matches(t0, PII_EMAIL).alias("n_emails"),
        n_matches(t1, PII_IPV4).alias("n_ips"),
        n_matches(t2, PII_PHONE).alias("n_phones"),
        t3.alias("clean_text"),
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality proxy (the CCNet-style perplexity filter,
    with the corpus itself as the language model): score each document
    by the mean log10 unigram probability of its tokens. Shape at
    100 TB: one map-combinable vocab aggregation, an equi-join of the
    exploded corpus against the vocab on the token (AQE promotes the
    vocab side to broadcast when it fits), and a per-doc re-agg —
    linear, no cross joins, no Python."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = tok.agg(F.count("*").alias("total"))
    logp = F.log10(F.col("cnt").cast("double") / F.col("total"))
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(F.avg(logp), 4).alias("avg_logprob"),
        )
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality score — the next step up from
    unigram_logprob toward the KenLM-style perplexity filter: each
    document's mean log10 add-one-smoothed bigram probability
    p(w2|w1) = (c(w1 w2)+1) / (c(w1 ·)+V), with the corpus itself as
    the LM. Shape at 100 TB: bigrams come from one zip_with over the
    token array inside the scan (no per-token explode before the
    counts), then two map-combinable count aggs (bigram and context),
    equi-joins of the exploded bigram stream against both count
    tables on their keys (AQE broadcasts them when they fit), and a
    per-doc re-agg. Linear, no cross joins, no Python."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = tokens(F.lower(F.col("text")))
    big = docs.filter(F.size(t) >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("bg")),
            )
        ).alias("_p"),
    ).select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.bg").alias("bg"))
    c2 = big.groupBy("bg").agg(F.count("*").alias("n2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = (
        docs.select(F.explode(t).alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    logp = F.log10((F.col("n2") + 1).cast("double") / (F.col("n1") + F.col("v")))
    return (
        big.join(c2, "bg")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logprob"),
        )
    )


JM_LAMBDA = 0.7  # Jelinek-Mercer bigram weight


def q_interpolated_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated LM score — the smoothing family's
    third member next to the unigram MLE and the add-one bigram:
    p(w2|w1) = λ·p_bi_MLE + (1-λ)·p_uni(w2). On held-out text the
    unigram term absorbs unseen bigrams; scored over the training
    corpus itself every bigram is seen, so the mixture is exact
    arithmetic both engines reproduce. Same plan shape as
    bigram_logprob: zip_with bigrams in the scan, map-combinable
    count aggs, key equi-joins, per-doc re-agg."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = tokens(F.lower(F.col("text")))
    big = docs.filter(F.size(t) >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.struct(
                    a.alias("w1"), b.alias("w2"), F.concat_ws(" ", a, b).alias("bg")
                ),
            )
        ).alias("_p"),
    ).select("doc_id", "_p.w1", "_p.w2", "_p.bg")
    c2 = big.groupBy("bg").agg(F.count("*").alias("n2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    uni = (
        docs.select(F.explode(t).alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").alias("nu"))
    )
    tot = docs.select(F.explode(t).alias("tok")).agg(F.count("*").alias("total"))
    p = JM_LAMBDA * (F.col("n2") / F.col("n1")) + (1 - JM_LAMBDA) * (
        F.col("nu") / F.col("total")
    )
    return (
        big.join(c2, "bg")
        .join(c1, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg(F.log10(p)), 4).alias("avg_logprob"),
        )
    )


HASH_DIM = 64  # feature-hashing bucket count


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorization (the HashingVectorizer trick):
    tokens hash into a fixed HASH_DIM-bucket count vector — the
    stateless, vocabulary-free featurizer that never needs a fitted
    dictionary, so it applies to a 100 TB corpus in one explode +
    map-combinable (doc, dim) hash agg with zero joins and zero
    Python. Emitted as exploded (doc_id, dim, n) rows (sortable for
    the harness; sparse by construction — only occupied buckets)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    dim = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long") % HASH_DIM
    )
    return (
        tok.select("doc_id", dim.cast("int").alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("n"))
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 400-char / 100-overlap chunk windows per document
    (operators/chunking.py built-in path — sequence → explode →
    substring, all codegen; the UDTF twin is equality-pinned in
    tests/test_chunking.py)."""
    from osarchiver_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text")


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary-overlap matrix: for every source pair,
    the number of shared distinct tokens and the overlap coefficient
    |A∩B| / min(|A|,|B|) — the corpus diagnostic that flags two crawl
    sources as near-mirrors before document-level dedup even runs.
    Distinct (source, token) sets self-equi-join on the token; the
    per-source vocabulary sizes broadcast in. Fan-out is bounded by
    sources-per-token², never documents²."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count("*").alias("n_vocab"))
    a, b = st.alias("a"), st.alias("b")
    shared = (
        a.join(b, "token")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n_vocab").alias("va"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n_vocab").alias("vb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("va", "vb"), 6).alias("overlap"),
        )
    )


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the domain-shift score a data-mixing pipeline uses to spot outlier
    sources. KL(src ‖ corpus) = Σ p_s(t) · ln(p_s(t)/p_c(t)); both
    distributions come from the same two map-combinable token aggs,
    joined on the token and re-aggregated per source. The corpus
    marginal joins by token (AQE broadcasts it when it fits); nothing
    is all-pairs and nothing leaves codegen."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    src_counts = tok.groupBy("source", "token").agg(F.count("*").alias("sc"))
    src_totals = tok.groupBy("source").agg(F.count("*").alias("s_total"))
    corpus_counts = tok.groupBy("token").agg(F.count("*").alias("cc"))
    corpus_total = tok.agg(F.count("*").alias("c_total"))
    p_s = F.col("sc") / F.col("s_total")
    p_c = F.col("cc") / F.col("c_total")
    return (
        src_counts.join(corpus_counts, "token")
        .join(F.broadcast(src_totals), "source")
        .crossJoin(F.broadcast(corpus_total))
        .groupBy("source")
        .agg(
            # psi_drift discipline: ln pre-rounded to the coarse 1e-6
            # grid (libm last-ulp), term quantized to a 1e-9 bigint
            # grid before the sum (accumulation order), 6-dp output
            # derived in exact integer arithmetic.
            (
                F.floor(
                    (F.sum(quantize(p_s * exact_round(F.log(p_s / p_c), 6), 9)) + F.lit(500))
                    / F.lit(1000)
                )
                / F.lit(1000000.0)
            ).alias("kl_divergence"),
            F.count("*").alias("n_terms"),
        )
    )


def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-induction step: the 20 most frequent
    adjacent character pairs across the corpus, counted over the
    aggregated vocabulary (pair occurrences weighted by word
    frequency) — exactly what a byte-pair-encoding trainer merges
    next. Scale shape: the corpus collapses to its vocabulary FIRST
    (one map-combinable agg; the heavy explode then runs on |vocab|,
    not |corpus|), pairs explode via codegen sequence+substr, and the
    top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("freq"))
    pairs = (
        vocab.filter(F.length("token") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("token") - 1),
                    lambda i: F.col("token").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


def q_training_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone accounting query: run the composed pre-filter
    (quality + language gate + near-dup loser removal =
    corpus_pipeline), assign every surviving document its
    deterministic md5 train/val/test split, and report each split's
    document and token budget — the numbers a training run is actually
    provisioned from. Every stage reuses an already-oracle-checked
    building block, and the output is integer-only."""
    from osarchiver_spark.functions.text import token_count
    from osarchiver_spark.queries.sampling import _TRAIN_UB, _VAL_UB

    survivors = q_corpus_pipeline(spark, sf_dir).select("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < _TRAIN_UB, "train").when(bucket < _VAL_UB, "val").otherwise("test")
    )
    return (
        survivors.join(docs, "doc_id")
        .select(split.alias("split"), token_count(F.col("text")).alias("n_tok"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


BPE_N_MERGES = 8


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL BPE trainer (driver loop of vocab-sized passes —
    operators/bpe.py): count adjacent symbol pairs, merge the argmax,
    recount, so later merges combine earlier multi-char symbols
    (bpe_merge_step is the single-step version). Oracle replays the
    iterations as chained CTEs (one pair-count + one list_reduce fold
    per step); validated against an independent pure-Python BPE
    trainer."""
    from osarchiver_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    # the model rows are the deliverable: with_vocab=False skips the
    # final vocabulary materialization (and leaves nothing cached)
    merges, _ = bpe_train(docs, "text", n_merges=BPE_N_MERGES, with_vocab=False)
    return merges


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE apply path: per-document piece budget after
    BPE_N_MERGES learned merges. Documents never see the merge loop —
    segmentation is a pure function of the word, so they equi-join
    the |vocab|-sized segmentation table."""
    from osarchiver_spark.operators.bpe import bpe_segment_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_segment_counts(docs, "doc_id", "text", n_merges=BPE_N_MERGES)



QUERIES = {
    "training_mix_report": q_training_mix_report,
    "bpe_merge_step": q_bpe_merge_step,
    "bpe_train": q_bpe_train,
    "bpe_segment": q_bpe_segment,
    "source_overlap": q_source_overlap,
    "source_divergence": q_source_divergence,
    "streaming_corpus_pipeline": q_streaming_corpus_pipeline,
    "pii_scrub": q_pii_scrub,
    "unigram_logprob": q_unigram_logprob,
    "bigram_logprob": q_bigram_logprob,
    "interpolated_logprob": q_interpolated_logprob,
    "hashed_features": q_hashed_features,
    "doc_chunks": q_doc_chunks,
    "corpus_pipeline": q_corpus_pipeline,
    "token_count_bpe": q_token_count_bpe,
    "contamination_check": q_contamination_check,
    "repetition_filter": q_repetition_filter,
    "text_stats": q_text_stats,
    "token_histogram": q_token_histogram,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
}


def _score_sql(lang: str) -> str:
    return (
        f"len(list_filter({_SQL_TOKENS_LOWER}, "
        f"t -> list_contains({_sql_in_list(LANG_MARKERS[lang])}, t)))"
    )


_LANG_CASE = (
    "CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = greatest(score_en, score_de, score_es, score_fr) THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    + " ELSE 'und' END"
)

def _corpus_pipeline_sql() -> str:
    from osarchiver_spark.queries.dedup import (
        _JACCARD,
        _SQL_BANDS,
        _SQL_SHINGLES,
        _SQL_SIG,
        BANDS,
        MINHASH_THRESHOLD,
    )

    return f"""
        WITH toked AS (
            SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS toks FROM documents),
        shingled AS (
            SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toked
            WHERE len({_SQL_SHINGLES}) > 0),
        sigs AS (SELECT doc_id, sh, {_SQL_SIG} AS sig FROM shingled),
        banded AS (
            SELECT doc_id, unnest({_SQL_BANDS}) AS band_key,
                   unnest(range(0, {BANDS})) AS band_idx
            FROM sigs),
        cands AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM banded x JOIN banded y
              ON x.band_idx = y.band_idx AND x.band_key = y.band_key
            WHERE x.doc_id < y.doc_id),
        losers AS (
            SELECT DISTINCT doc_b AS doc_id
            FROM cands JOIN shingled a ON doc_a = a.doc_id
                       JOIN shingled b ON doc_b = b.doc_id
            WHERE {_JACCARD} >= {MINHASH_THRESHOLD}),
        scored AS (
            SELECT doc_id, lang, source,
                   CASE WHEN len({_SQL_TOKENS_LOWER}) > 0 THEN
                       CAST(len(list_filter({_SQL_TOKENS_LOWER},
                           t -> list_contains({_sql_in_list(LANG_MARKERS['en'])}, t))) AS DOUBLE)
                       / len({_SQL_TOKENS_LOWER})
                   ELSE 0.0 END AS stop_r,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       / length(text)
                   ELSE 0.0 END AS punct_r,
                   len({_SQL_TOKENS.format(col='text')}) AS n_tokens,
                   CAST({_score_sql('en')} AS INT) AS score_en,
                   CAST({_score_sql('de')} AS INT) AS score_de,
                   CAST({_score_sql('es')} AS INT) AS score_es,
                   CAST({_score_sql('fr')} AS INT) AS score_fr
            FROM documents)
        SELECT doc_id, lang, source FROM scored
        WHERE round(0.5 * stop_r + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                    + 0.2 * (1.0 - punct_r), 6) >= 0.5
          AND ({_LANG_CASE}) = 'en'
          AND doc_id NOT IN (SELECT doc_id FROM losers)
    """


_SQL_GRAMS = """
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, greatest(len(toks) - 2, 0) + 1)]
"""

def _pii_scrub_sql() -> str:
    from osarchiver_spark.functions.text import PII_EMAIL, PII_IPV4, PII_PHONE

    return f"""
        WITH s AS (
            SELECT doc_id, text AS t0,
                   regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
            FROM documents),
        s2 AS (SELECT *, regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2 FROM s)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t0, '{PII_EMAIL}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(t1, '{PII_IPV4}')) AS INT) AS n_ips,
               CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS INT) AS n_phones,
               regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS clean_text
        FROM s2
    """


ORACLES = {
    "bpe_merge_step": f"""
        WITH tok AS (
            SELECT unnest({_SQL_TOKENS_LOWER}) AS token FROM documents),
        vocab AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
        pairs AS (
            SELECT freq,
                   unnest(list_transform(range(1, length(token)),
                                         i -> substr(token, CAST(i AS INT), 2))) AS pair
            FROM vocab WHERE length(token) >= 2)
        SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        FROM pairs GROUP BY 1
        ORDER BY n DESC, pair
        LIMIT 20
    """,
    "source_overlap": f"""
        WITH st AS (
            SELECT DISTINCT source, unnest({_SQL_TOKENS_LOWER}) AS token
            FROM documents),
        sizes AS (SELECT source, count(*) AS n_vocab FROM st GROUP BY 1)
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared,
               round(count(*) / least(sa.n_vocab, sb.n_vocab), 6) AS overlap
        FROM st a
        JOIN st b ON a.token = b.token AND a.source < b.source
        JOIN sizes sa ON sa.source = a.source
        JOIN sizes sb ON sb.source = b.source
        GROUP BY 1, 2, sa.n_vocab, sb.n_vocab
    """,
    "source_divergence": f"""
        WITH tok AS (
            SELECT source, unnest({_SQL_TOKENS_LOWER}) AS token FROM documents),
        sc AS (SELECT source, token, count(*) AS sc FROM tok GROUP BY 1, 2),
        stot AS (SELECT source, count(*) AS s_total FROM tok GROUP BY 1),
        cc AS (SELECT token, count(*) AS cc FROM tok GROUP BY 1),
        ctot AS (SELECT count(*) AS c_total FROM tok)
        SELECT source,
               floor((sum(CAST(floor((sc / s_total)
                                     * (floor(ln((sc / s_total) / (cc / CAST(c_total AS DOUBLE)))
                                              * 1000000.0 + 0.5) / 1000000.0)
                                     * 1000000000.0 + 0.5) AS BIGINT)) + 500) / 1000)
                   / 1000000.0 AS kl_divergence,
               count(*) AS n_terms
        FROM sc JOIN cc USING (token) JOIN stot USING (source) CROSS JOIN ctot
        GROUP BY source
    """,
    "pii_scrub": _pii_scrub_sql(),
    "unigram_logprob": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_SQL_TOKENS_LOWER}) AS token FROM documents),
        vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM tok)
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_tokens,
               round(avg(log10(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
        FROM tok JOIN vocab USING (token) CROSS JOIN tot
        GROUP BY doc_id
    """,
    "interpolated_logprob": f"""
        WITH tok AS (
            SELECT doc_id, {_SQL_TOKENS_LOWER} AS toks FROM documents),
        uni AS (
            SELECT token AS w2, count(*) AS nu
            FROM (SELECT unnest(toks) AS token FROM tok) GROUP BY 1),
        tot AS (SELECT sum(nu) AS total FROM uni),
        pos AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM tok),
        big AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
                   toks[i] || ' ' || toks[i + 1] AS bg
            FROM pos),
        c2 AS (SELECT bg, count(*) AS n2 FROM big GROUP BY 1),
        c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY 1)
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_bigrams,
               round(avg(log10({JM_LAMBDA} * (CAST(n2 AS DOUBLE) / n1)
                              + {1 - JM_LAMBDA} * (CAST(nu AS DOUBLE) / total))), 4)
                   AS avg_logprob
        FROM big JOIN c2 USING (bg) JOIN c1 USING (w1) JOIN uni USING (w2)
             CROSS JOIN tot
        GROUP BY doc_id
    """,
    "bigram_logprob": f"""
        WITH tok AS (
            SELECT doc_id, {_SQL_TOKENS_LOWER} AS toks FROM documents),
        uni AS (
            SELECT count(DISTINCT token) AS v
            FROM (SELECT unnest(toks) AS token FROM tok)),
        pos AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM tok),
        big AS (
            SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg
            FROM pos),
        c2 AS (SELECT bg, count(*) AS n2 FROM big GROUP BY 1),
        c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY 1)
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_bigrams,
               round(avg(log10(CAST(n2 + 1 AS DOUBLE) / (n1 + v))), 4) AS avg_logprob
        FROM big JOIN c2 USING (bg) JOIN c1 USING (w1) CROSS JOIN uni
        GROUP BY doc_id
    """,
    "hashed_features": f"""
        SELECT doc_id, CAST(dim AS INT) AS dim, count(*) AS n
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5(token), 1, 8)) AS UBIGINT) % {HASH_DIM}
                         AS dim
              FROM (SELECT doc_id, unnest({_SQL_TOKENS_LOWER}) AS token
                    FROM documents))
        GROUP BY 1, 2
    """,
    "contamination_check": f"""
        WITH toked AS (
            SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS toks FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct({_SQL_GRAMS})) AS sh FROM toked),
        bench AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 10 = 0),
        corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 <> 0)
        SELECT corp.doc_id,
               count(DISTINCT corp.sh) AS n_shared_shingles,
               count(DISTINCT bench.bench_id) AS n_bench_docs
        FROM corp JOIN bench USING (sh)
        GROUP BY 1
    """,
    "repetition_filter": f"""
        WITH t AS (
            SELECT doc_id, {_SQL_GRAMS.replace('toks', _SQL_TOKENS.format(col='text'))} AS grams
            FROM documents)
        SELECT doc_id,
               CAST(len(grams) AS INT) AS n_grams,
               CAST(len(list_distinct(grams)) AS INT) AS n_distinct_grams,
               CASE WHEN len(grams) > 0
                    THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
               END AS rep_ratio,
               coalesce(CASE WHEN len(grams) > 0
                             THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
                        END <= 0.2, TRUE) AS keep
        FROM t
    """,
    "text_stats": f"""
        WITH t AS (SELECT doc_id, length(text) AS text_len,
                          {_SQL_TOKENS.format(col='text')} AS toks
                   FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(text_len AS INT) AS text_len,
               CASE WHEN len(toks) > 0 THEN
                   round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                         / len(toks), 6) END AS avg_token_len,
               CASE WHEN len(toks) > 0 THEN
                   round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
               END AS distinct_ratio
        FROM t
    """,
    "token_histogram": f"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest({_SQL_TOKENS_LOWER}) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
    "text_quality": f"""
        WITH t AS (
            SELECT doc_id,
                   len({_SQL_TOKENS.format(col='text')}) AS n_tokens,
                   CASE WHEN len({_SQL_TOKENS_LOWER}) > 0 THEN
                       CAST(len(list_filter({_SQL_TOKENS_LOWER},
                           t -> list_contains({_sql_in_list(LANG_MARKERS['en'])}, t))) AS DOUBLE)
                       / len({_SQL_TOKENS_LOWER})
                   ELSE 0.0 END AS stop_r,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       / length(text)
                   ELSE 0.0 END AS punct_r
            FROM documents)
        SELECT doc_id,
               CAST(n_tokens AS INT) AS n_tokens,
               round(stop_r, 6) AS stopword_ratio,
               round(punct_r, 6) AS punct_ratio,
               round(0.5 * stop_r + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                     + 0.2 * (1.0 - punct_r), 6) AS quality
        FROM t
    """,
    "lang_id": f"""
        WITH scored AS (
            SELECT doc_id, lang AS lang_label,
                   CAST({_score_sql('en')} AS INT) AS score_en,
                   CAST({_score_sql('de')} AS INT) AS score_de,
                   CAST({_score_sql('es')} AS INT) AS score_es,
                   CAST({_score_sql('fr')} AS INT) AS score_fr
            FROM documents)
        SELECT doc_id, lang_label, {_LANG_CASE} AS lang_pred,
               score_en, score_de, score_es, score_fr
        FROM scored
    """,
    "token_count_bpe": f"""
        WITH t AS (
            SELECT doc_id,
                   len({_SQL_TOKENS.format(col='text')}) AS n_ws,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]+'))
                       AS n_bpe,
                   length(text) AS n_chars
            FROM documents)
        SELECT doc_id,
               CAST(n_ws AS INT) AS n_ws_tokens,
               CAST(n_bpe AS INT) AS n_bpe_tokens,
               CASE WHEN n_bpe > 0 THEN round(CAST(n_chars AS DOUBLE) / n_bpe, 6) END
                   AS chars_per_token
        FROM t
    """,
    "doc_fingerprint": """
        WITH t AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_exact,
                   list_sort(list_transform(
                       list_distinct([substr(text, i, 5)
                           for i in range(1, greatest(length(text) - 4, 1) + 1)]),
                       s -> md5(s))) AS sorted_hashes
            FROM documents)
        SELECT doc_id, fp_exact,
               array_to_string(array_slice(sorted_hashes, 1, 4), '|') AS fp_winnow
        FROM t
    """,
}

ORACLES["corpus_pipeline"] = _corpus_pipeline_sql()


def _training_mix_sql() -> str:
    from osarchiver_spark.queries.sampling import _TRAIN_UB, _VAL_UB

    toks = _SQL_TOKENS.format(col="text")
    return f"""
        WITH survivors AS (
            SELECT doc_id FROM ({_corpus_pipeline_sql()})),
        j AS (
            SELECT d.doc_id, len({toks}) AS n_tok
            FROM documents d JOIN survivors USING (doc_id))
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_UB}'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_UB}'
                        THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens
        FROM j
        GROUP BY 1
    """


ORACLES["training_mix_report"] = _training_mix_sql()


def _streaming_corpus_sql() -> str:
    """Gate + first-occurrence fingerprint dedup (the streaming
    pipeline's single-micro-batch equivalent)."""
    fp = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    return f"""
        WITH scored AS (
            SELECT doc_id,
                   CASE WHEN len({_SQL_TOKENS_LOWER}) > 0 THEN
                       CAST(len(list_filter({_SQL_TOKENS_LOWER},
                           t -> list_contains({_sql_in_list(LANG_MARKERS['en'])}, t))) AS DOUBLE)
                       / len({_SQL_TOKENS_LOWER})
                   ELSE 0.0 END AS stop_r,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       / length(text)
                   ELSE 0.0 END AS punct_r,
                   len({_SQL_TOKENS.format(col='text')}) AS n_tokens,
                   CAST({_score_sql('en')} AS INT) AS score_en,
                   CAST({_score_sql('de')} AS INT) AS score_de,
                   CAST({_score_sql('es')} AS INT) AS score_es,
                   CAST({_score_sql('fr')} AS INT) AS score_fr
            FROM documents),
        gated AS (
            SELECT doc_id FROM scored
            WHERE round(0.5 * stop_r + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                        + 0.2 * (1.0 - punct_r), 6) >= 0.5
              AND ({_LANG_CASE}) = 'en')
        SELECT {fp} AS fingerprint, min(doc_id) AS keep_id
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM gated)
        GROUP BY 1
    """


ORACLES["streaming_corpus_pipeline"] = _streaming_corpus_sql()

ORACLES["doc_chunks"] = """
    SELECT doc_id,
           CAST((start - 1) // 300 AS INT) AS chunk_id,
           CAST(start AS INT) AS start,
           substr(text, CAST(start AS INT), 400) AS chunk
    FROM (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text), 1) + 1, 300)) AS start
        FROM documents
    )
"""


# BPE oracle: chained CTEs, one (pair-count argmax, greedy-fold
# rewrite) pair per merge step. list_reduce's running accumulator
# checks "tail ends with sym_a" — exactly left-to-right greedy
# non-overlapping because a merged symbol a||b can never equal a.
def _bpe_ctes(n: int) -> str:
    parts = [
        f"tok AS (SELECT unnest({_SQL_TOKENS_LOWER}) AS token FROM documents)",
        "vocab AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1)",
        "v0 AS (SELECT token, freq, list_transform(range(1, length(token)+1), "
        "i -> substring(token, CAST(i AS INT), 1)) AS syms FROM vocab)",
    ]
    for i in range(1, n + 1):
        prev = f"v{i-1}"
        parts.append(
            f"p{i} AS (SELECT sy[t.i] AS a, sy[t.i+1] AS b, "
            f"CAST(sum(freq) AS BIGINT) AS n "
            f"FROM (SELECT freq, syms AS sy FROM {prev} WHERE len(syms) >= 2) vv, "
            f"UNNEST(range(1, len(sy))) AS t(i) "
            f"GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1)"
        )
        # LEFT JOIN ON TRUE (not a comma cross join): when the corpus is
        # fully merged before step i, p{i} is empty and the CASE carries
        # v{i-1} forward unchanged — matching bpe_train's early stop,
        # which breaks the loop and keeps the last vocab
        # (test_trainer_stops_when_fully_merged).
        parts.append(
            f"v{i} AS (SELECT token, freq, "
            f"CASE WHEN p.a IS NULL OR len(syms) < 2 THEN syms ELSE "
            f"list_reduce(list_transform(syms, x -> [x]), "
            f"(acc, x) -> CASE WHEN acc[-1] = p.a AND x[1] = p.b "
            f"THEN list_append(acc[1:len(acc)-1], p.a || p.b) "
            f"ELSE list_concat(acc, x) END) END AS syms "
            f"FROM {prev} LEFT JOIN p{i} p ON TRUE)"
        )
    merge_rows = " UNION ALL ".join(
        f"SELECT {i} AS step, a AS sym_a, b AS sym_b, n FROM p{i}"
        for i in range(1, n + 1)
    )
    parts.append(f"merges AS ({merge_rows})")
    return ",\n".join(parts)


ORACLES["bpe_train"] = f"""
    WITH {_bpe_ctes(BPE_N_MERGES)}
    SELECT CAST(step AS INT) AS step, sym_a, sym_b, n FROM merges
"""

ORACLES["bpe_segment"] = f"""
    WITH {_bpe_ctes(BPE_N_MERGES)},
    dtok AS (SELECT doc_id, unnest({_SQL_TOKENS_LOWER}) AS token FROM documents)
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(len(v.syms)) AS BIGINT) AS n_pieces
    FROM dtok JOIN v{BPE_N_MERGES} v USING (token)
    GROUP BY doc_id
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty curve: per document, the share of its distinct
    3-gram shingles whose FIRST corpus occurrence (minimum doc_id) is
    this document — the marginal-information measure behind "order
    your data by novelty" curricula and crawl-frontier dedup. A
    boilerplate rehash scores near 0; genuinely new text near 1.

    Scale shape: one shingle explode (distinct per doc by
    construction), a map-combinable min(doc_id) agg per shingle, and
    an equi-join back on the shingle — the same join key the
    decontamination and Jaccard family use; no corpus pairing
    anywhere."""
    from osarchiver_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh"))
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
            # exact integer ratio -> portable floor-round (boundary-
            # safe across engines, functions/precision.py)
            exact_round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


QUERIES["ngram_novelty"] = q_ngram_novelty

ORACLES["ngram_novelty"] = f"""
    WITH toked AS (
        SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS toks FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct({_SQL_GRAMS})) AS sh FROM toked),
    first AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT s.doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           floor(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS novelty
    FROM sh s JOIN first f USING (sh)
    GROUP BY s.doc_id
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: counts per (metadata label,
    n-gram prediction) cell plus each cell's share of its label row —
    the evaluation readout for the lang_id heuristic (which cells
    justify a better model, which languages the marker lexicons
    confuse). One codegen scan + one small hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(F.col("text"))
    cells = docs.groupBy(
        F.col("lang").alias("lang_label"), pred.alias("lang_pred")
    ).agg(F.count("*").alias("n"))
    label_tot = F.sum("n").over(W.partitionBy("lang_label"))
    return cells.select(
        "lang_label",
        "lang_pred",
        "n",
        exact_round(F.col("n") / label_tot, 6).alias("label_share"),
    )


QUERIES["lang_confusion"] = q_lang_confusion

ORACLES["lang_confusion"] = f"""
    WITH scored AS (
        SELECT lang AS lang_label,
               CAST({_score_sql('en')} AS INT) AS score_en,
               CAST({_score_sql('de')} AS INT) AS score_de,
               CAST({_score_sql('es')} AS INT) AS score_es,
               CAST({_score_sql('fr')} AS INT) AS score_fr
        FROM documents),
    cells AS (
        SELECT lang_label, {_LANG_CASE} AS lang_pred, count(*) AS n
        FROM scored GROUP BY 1, 2)
    SELECT lang_label, lang_pred, n,
           floor(n / sum(n) OVER (PARTITION BY lang_label) * 1000000.0 + 0.5)
               / 1000000.0 AS label_share
    FROM cells
"""
