"""operators/dedup.py: the one home of the text near-dup mechanisms
(band step, shingle-set join-and-score, SimHash sketch, block probe,
per-drop edge step). The source scan keeps each written once; the
Spark tests pin what the shared forms must keep doing."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

import osarchiver_spark
from osarchiver_spark.operators import dedup
from osarchiver_spark.sources.parquet import load_table


def test_text_neardup_mechanisms_live_in_dedup_only():
    """Each form appears once in operators/dedup.py and nowhere else
    under osarchiver_spark/: a second band explode, shingle-set
    intersection, block-key build or block explode is a copy of a
    mechanism that already has a home."""
    forms = [
        "posexplode(lsh_band_keys(",
        "F.array_intersect(",
        '.alias("block_bits")',
        "F.explode(F.array(*blocks))",
    ]
    home = Path(dedup.__file__)
    root = Path(osarchiver_spark.__file__).parent
    counts = {f: home.read_text().count(f) for f in forms}
    assert counts == dict.fromkeys(forms, 1), counts
    offenders = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(f in line for f in forms)
    ]
    assert not offenders, offenders


def test_simhash16_sketch_keeps_the_hex_digit_layout(spark, sf_small):
    """The shared sketch builder's 16-bit form is an int equal to the
    per-row reference (bit p from md5 hex digit p // 4, bit p % 4);
    NULL text has no sketch, empty text sketches to 0."""
    from osarchiver_spark.functions.text import simhash16_from_hashed, token_hashes

    docs = load_table(spark, sf_small, "documents")
    sk = dedup._simhash_sketches(docs, "doc_id", "text")
    assert dict(sk.dtypes)["simhash"] == "int"
    ref = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", simhash16_from_hashed(token_hashes(F.col("text"))).alias("simhash")
    )
    assert sorted(sk.collect()) == sorted(ref.collect())
    extra = spark.createDataFrame([(10**6, ""), (10**6 + 1, None)], "doc_id long, text string")
    got = dedup._simhash_sketches(extra, "doc_id", "text").collect()
    assert [tuple(r) for r in got] == [(10**6, 0)]


def test_block_probe_rejects_only_a_64_bit_block(spark, sf_small):
    """max_hamming=0 is one block as wide as the sketch: the 64-bit
    probe raises, the 16-bit one degenerates to equal-sketch pairs."""
    docs = load_table(spark, sf_small, "documents")
    with pytest.raises(ValueError, match="max_hamming must be >= 1"):
        dedup.simhash64_multiprobe_pairs(docs, "doc_id", "text", max_hamming=0)
    got = dedup.simhash_multiprobe_pairs(docs, "doc_id", "text", max_hamming=0)
    equal = dedup.simhash_candidates(docs, "doc_id", "text")
    assert {(r.doc_a, r.doc_b, r.hamming) for r in got.collect()} == {
        (r.doc_a, r.doc_b, 0) for r in equal.collect()
    }


def test_drop_edges_accumulate_to_the_one_shot_graph(spark, sf_medium, tmp_path):
    """Two id-ordered drops through minhash_drop_edges (the second
    probing the first drop's band index) give exactly the one-shot
    minhash_lsh_pairs edge set."""
    docs = load_table(spark, sf_medium, "documents")
    cut = 250
    first = docs.filter(F.col("doc_id") < cut)
    second = docs.filter(F.col("doc_id") >= cut)
    edges = {tuple(r) for r in dedup.minhash_drop_edges(first, None, None, 0.5).collect()}
    index_dir = str(tmp_path / "index")
    dedup.minhash_lsh_index(first, "doc_id", "text").write.parquet(index_dir)
    edges |= {
        tuple(r)
        for r in dedup.minhash_drop_edges(
            second, spark.read.parquet(index_dir), first, 0.5
        ).collect()
    }
    one_shot = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    expect = {(r.doc_a, r.doc_b) for r in one_shot.collect()}
    assert any(a < cut <= b for a, b in expect), "fixture should have cross-drop pairs"
    assert edges == expect
