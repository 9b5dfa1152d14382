"""BPE trainer semantics on constructed corpora: merges match an
independent pure-Python BPE reference, the greedy fold handles
overlapping pair runs, and the apply path agrees with the learned
segmentation. Oracle parity for the registered queries runs in
tests/test_oracle_parity.py."""

from __future__ import annotations

import collections

from pyspark.sql import types as T

from osarchiver_spark.operators.bpe import bpe_segment_counts, bpe_train

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _py_bpe(texts: list[str], n_merges: int):
    """Independent reference: textbook BPE over whitespace words."""
    vocab = collections.Counter()
    for t in texts:
        vocab.update(t.lower().split())
    segs = {w: list(w) for w in vocab}
    merges = []
    for step in range(1, n_merges + 1):
        pc = collections.Counter()
        for w, syms in segs.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += vocab[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, n))
        for w, syms in segs.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            segs[w] = out
    return merges, segs


def test_merges_match_reference(spark):
    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    merges_df, vocab = bpe_train(docs, "text", n_merges=6)
    got = [(r["step"], r["sym_a"], r["sym_b"], r["n"]) for r in merges_df.collect()]
    expected, segs = _py_bpe(texts, 6)
    assert got == expected
    # learned segmentation matches the reference word-by-word
    spark_segs = {r["token"]: list(r["syms"]) for r in vocab.collect()}
    assert spark_segs == segs
    vocab.unpersist()


def test_greedy_fold_overlapping_run(spark):
    # "aaaa" with dominant pair (a,a): greedy left-to-right gives
    # [aa, aa], not [aa, a, a] and not a triple merge
    docs = spark.createDataFrame([(0, "aaaa aaaa aaaa")], DOC_SCHEMA)
    merges_df, vocab = bpe_train(docs, "text", n_merges=1)
    (m,) = merges_df.collect()
    assert (m["sym_a"], m["sym_b"]) == ("a", "a")
    (v,) = vocab.collect()
    assert list(v["syms"]) == ["aa", "aa"]
    vocab.unpersist()


def test_segment_counts_agree_with_vocab(spark):
    texts = ["the cat sat on the mat", "the hat of the cat"]
    docs = spark.createDataFrame(list(enumerate(texts)), DOC_SCHEMA)
    _, segs = _py_bpe(texts, 4)
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_pieces"])
        for r in bpe_segment_counts(docs, "doc_id", "text", n_merges=4).collect()
    }
    for i, t in enumerate(texts):
        words = t.lower().split()
        assert out[i] == (len(words), sum(len(segs[w]) for w in words))


def test_trainer_stops_when_fully_merged(spark):
    # single repeated 2-char word: step 1 merges it whole; afterwards
    # no adjacent pairs remain and the trainer stops early
    docs = spark.createDataFrame([(0, "ab ab ab")], DOC_SCHEMA)
    merges_df, vocab = bpe_train(docs, "text", n_merges=5)
    got = merges_df.collect()
    assert len(got) == 1 and got[0]["sym_a"] == "a" and got[0]["sym_b"] == "b"
    vocab.unpersist()


def test_without_vocab_returns_same_merges_and_no_vocab(spark, sf_small):
    """sf_small's vocabulary is under BPE_VOCAB_CAP, so this is the
    collapsed (driver-loop) path: ``with_vocab=False`` returns the same
    model rows and no vocab relation."""
    from osarchiver_spark.queries.text import BPE_N_MERGES
    from osarchiver_spark.sources.parquet import load_table

    docs = load_table(spark, sf_small, "documents")
    merges_v, vocab = bpe_train(docs, "text", n_merges=BPE_N_MERGES)
    merges_nv, no_vocab = bpe_train(docs, "text", n_merges=BPE_N_MERGES, with_vocab=False)
    assert vocab is not None and no_vocab is None
    assert merges_nv.collect() == merges_v.collect()
    vocab.unpersist()


def test_segment_oracle_carries_forward_when_merges_run_dry(spark):
    """The merges run dry after 2 steps on this corpus, well before
    BPE_N_MERGES: the oracle's empty p{i} must carry v{i-1} forward
    (LEFT JOIN ON TRUE) instead of emptying every later vocab CTE,
    matching bpe_train's early stop."""
    import duckdb

    from osarchiver_spark.operators.bpe import bpe_segment_counts
    from osarchiver_spark.queries.text import ORACLES

    texts = ["abc abc ab", "abc ab ab"]
    docs = spark.createDataFrame(list(enumerate(texts)), DOC_SCHEMA)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_pieces"])
        for r in bpe_segment_counts(docs, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
        )
        rows = con.execute(ORACLES["bpe_segment"]).fetchall()
    finally:
        con.close()
    want = {r[0]: (r[1], r[2]) for r in rows}
    assert rows, "oracle returned zero rows on a merges-run-dry corpus"
    assert got == want


def test_driver_loop_matches_naive_recount():
    """The collapsed trainer's incrementally-maintained pair counts
    (only tokens containing the merged pair are re-counted) must equal
    a full recount every step — merges AND final segmentations — on
    randomized vocabularies including repeated-symbol runs."""
    import random

    from osarchiver_spark.operators.bpe import _bpe_driver_loop, _merge_fold_py

    def naive(vocab, n_merges):
        import collections

        segs = [list(t) for t, _ in vocab]
        merges = []
        for step in range(1, n_merges + 1):
            pc = collections.Counter()
            for (_, f), ss in zip(vocab, segs):
                for p in zip(ss, ss[1:]):
                    pc[p] += f
            if not pc:
                break
            (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, a, b, n))
            segs = [_merge_fold_py(ss, a, b) for ss in segs]
        return merges, segs

    rng = random.Random(20260818)
    alphabet = "abcde"
    for trial in range(20):
        vocab = []
        seen = set()
        for _ in range(rng.randint(1, 40)):
            w = "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 9))
            )
            if w in seen:
                continue
            seen.add(w)
            vocab.append((w, rng.randint(1, 50)))
        n_merges = rng.randint(1, 12)
        assert _bpe_driver_loop(vocab, n_merges) == naive(vocab, n_merges), (
            f"trial {trial}: incremental pair maintenance diverged"
        )


def test_collapsed_matches_distributed_loop(spark, monkeypatch):
    """Forcing the cap to 0 exercises the distributed fallback; its
    merges and final vocabulary must be identical to the collapsed
    driver path on the same corpus (the bit-exactness the oracle
    hash relies on)."""
    import osarchiver_spark.operators.bpe as bpe_mod

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "ab ab abab aaaa",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), DOC_SCHEMA)
    merges_c, vocab_c = bpe_train(docs, "text", n_merges=6)
    got_c = [tuple(r) for r in merges_c.collect()]
    segs_c = {r["token"]: (r["freq"], list(r["syms"])) for r in vocab_c.collect()}
    vocab_c.unpersist()

    monkeypatch.setattr(bpe_mod, "BPE_VOCAB_CAP", 0)
    merges_d, vocab_d = bpe_train(docs, "text", n_merges=6)
    got_d = [tuple(r) for r in merges_d.collect()]
    segs_d = {r["token"]: (r["freq"], list(r["syms"])) for r in vocab_d.collect()}
    vocab_d.unpersist()

    assert got_c == got_d
    assert segs_c == segs_d
