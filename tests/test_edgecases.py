"""Degenerate-input robustness: empty tables, empty/whitespace text,
all-NULL retention columns. The fixtures never produce these, but a
100 TB corpus always contains them somewhere — every operator must
return an empty/neutral result, not raise (ANSI mode makes silent
div-by-zero impossible, so these paths need explicit guards)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from osarchiver_spark.operators.retention import retention_filter


def _docs(spark, rows):
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    return spark.createDataFrame(rows, schema)


def test_dedup_operators_survive_empty_input(spark):
    empty = _docs(spark, [])
    assert minhash_lsh_pairs(empty, "doc_id", "text").count() == 0
    assert simhash_candidates(empty, "doc_id", "text").count() == 0
    assert ngram_jaccard_pairs(empty, "doc_id", "text").count() == 0
    assert exact_dedup(empty, "doc_id", "text").count() == 0


def test_dedup_operators_survive_degenerate_text(spark):
    rows = [
        (1, ""),  # empty
        (2, "   \t  "),  # whitespace only
        (3, "one two"),  # shorter than the 3-gram shingle
        (4, "x " * 2000),  # one token repeated (single distinct shingle)
        (5, "x " * 2000),  # its exact twin
    ]
    docs = _docs(spark, rows)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    # only the twin pair can match; the degenerate docs must not crash
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(4, 5)]
    assert simhash_candidates(docs, "doc_id", "text").filter("doc_a = 4 AND doc_b = 5").count() == 1
    # exact dedup groups whitespace-normalized twins
    groups = {r["keep_id"]: r["n_docs"] for r in exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[4] == 2


def test_text_queries_survive_degenerate_text(spark, tmp_path):
    rows = [(1, "", "en", "s", 0), (2, "  ", "en", "s", 2), (3, "hello world", "en", "s", 11)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    from osarchiver_spark.queries.text import (
        q_text_quality,
        q_text_stats,
        q_token_count_bpe,
    )
    from osarchiver_spark.queries.sampling import q_sequence_pack

    stats = {r["doc_id"]: r for r in q_text_stats(spark, str(tmp_path)).collect()}
    assert stats[1]["n_tokens"] == 0 and stats[1]["avg_token_len"] is None
    assert stats[3]["n_tokens"] == 2
    assert q_text_quality(spark, str(tmp_path)).count() == 3
    assert q_token_count_bpe(spark, str(tmp_path)).count() == 3
    # packing: empty docs still occupy their separator slot
    packed = {r["doc_id"]: r for r in q_sequence_pack(spark, str(tmp_path)).collect()}
    assert packed[1]["n_slots"] == 1


def test_retention_filter_all_null_deleted(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, deleted_at timestamp"
    )
    out = retention_filter(df, "deleted_at", datetime(2001, 1, 1))
    assert out.count() == 0  # NULL deleted_at is never archivable


def test_round3_operators_survive_empty_and_degenerate_input(spark):
    """The late round-3 operators must not blow up on empty inputs or
    single-row degenerate data."""
    from osarchiver_spark.operators.dedup import repeated_span_report
    from osarchiver_spark.operators.layout import zorder_layout
    from osarchiver_spark.operators.merge import cdc_apply
    from osarchiver_spark.streaming.cdc import reconcile_cdc_state

    empty_docs = spark.createDataFrame(
        [], T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
    )
    assert repeated_span_report(empty_docs, "doc_id", "text").count() == 0
    # text shorter than the window: no positions, no rows, no error
    short = spark.createDataFrame([(1, "tiny"), (2, "")], ["doc_id", "text"])
    assert repeated_span_report(short, "doc_id", "text").count() == 0

    log_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    empty_log = spark.createDataFrame([], log_schema)
    assert cdc_apply(empty_log, "k", "seq").count() == 0
    # delete-only changelog: no survivors but no error either
    del_only = spark.createDataFrame([(1, "D", 1, None)], log_schema)
    assert cdc_apply(del_only, "k", "seq").count() == 0
    # reconcile with a no-op empty batch keeps state unchanged
    state = reconcile_cdc_state(None, del_only, "k", "seq")
    after = reconcile_cdc_state(state, empty_log, "k", "seq")
    assert [r.asDict() for r in after.collect()] == [r.asDict() for r in state.collect()]

    # z-order layout of a single-row / constant-column frame
    one = spark.createDataFrame([(1, 2)], ["x", "y"])
    assert zorder_layout(one, "x", "y", bits=4, num_files=2).count() == 1


def test_containment_detects_subset_duplicate_jaccard_misses(spark):
    """The defining case: a short doc quoted inside a long doc has
    containment 1.0 from the short side but Jaccard far below any
    near-dup threshold — and empty/degenerate text never errors."""
    from osarchiver_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long_ = short + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(40))
    df = spark.createDataFrame([(1, short), (2, long_)], ["doc_id", "text"])
    got = ngram_containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert len(got) == 1 and got[0].containment_a == 1.0
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).count() == 0

    degenerate = spark.createDataFrame([(1, ""), (2, "one two")], ["doc_id", "text"])
    assert ngram_containment_pairs(degenerate, "doc_id", "text").count() == 0


def test_lm_scores_survive_single_token_docs(spark, tmp_path, monkeypatch):
    """Docs with < 2 tokens have no bigrams: they drop out of the
    bigram/interpolated scores (matching the oracle) without
    erroring the scan."""
    import os

    from osarchiver_spark.queries.text import q_bigram_logprob, q_interpolated_logprob

    docs = spark.createDataFrame(
        [(1, "solo", "en", "s", 4), (2, "", "en", "s", 0), (3, "a b a", "en", "s", 5)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    for fn in (q_bigram_logprob, q_interpolated_logprob):
        out = {r.doc_id: r.n_bigrams for r in fn(spark, str(tmp_path)).collect()}
        assert out == {3: 2}


def test_trainer_operators_survive_empty_input(spark):
    """Every iterative trainer must do something sane on an empty
    relation: empty results or a clear ValueError — never an
    IndexError/TypeError from deep inside the loop."""
    import pytest

    from osarchiver_spark.operators.als import als_factors, als_reconstruction_report
    from osarchiver_spark.operators.bpe import bpe_segment_counts, bpe_train
    from osarchiver_spark.operators.dedup import embedding_lsh_incremental
    from osarchiver_spark.operators.ivf import kmeans_fit
    from osarchiver_spark.operators.lr import lr_score_by_source, lr_train
    from osarchiver_spark.operators.semdedup import (
        semantic_cluster_profile,
        semdedup_losers,
    )

    empty_vec = spark.createDataFrame([], "vid long, v array<float>")
    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )

    with pytest.raises(ValueError, match="no rows"):
        kmeans_fit(empty_vec, "vid", "v", k=2)
    tiny = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(3)], "vid long, v array<float>")
    assert len(kmeans_fit(tiny, "vid", "v", k=8, iters=2)) == 3  # fewer rows than k
    assert semdedup_losers(empty_vec, "vid", "v").count() == 0
    assert semantic_cluster_profile(empty_vec, "vid", "v").count() == 0

    merges, vocab = bpe_train(empty_docs, "text", n_merges=2)
    assert merges.count() == 0
    vocab.unpersist()
    assert bpe_segment_counts(empty_docs, "doc_id", "text", n_merges=1).count() == 0

    traj, w = lr_train(empty_docs)
    assert traj == [] and w == (0.0, 0.0, 0.0)
    assert lr_score_by_source(empty_docs).count() == 0

    u, v = als_factors(empty_events)
    assert u.count() == 0 and v.count() == 0
    assert als_reconstruction_report(empty_events).count() == 0

    some_vec = spark.createDataFrame([(1, [1.0, 0.0])], "vid long, v array<float>")
    assert embedding_lsh_incremental(
        some_vec, empty_vec.withColumnRenamed("vid", "vid"), "vid", "v", dim=2
    ).count() == 0


def test_psi_drift_constant_valued_type_is_defined(spark, tmp_path):
    """An event_type whose value never varies makes the equi-width bin
    formula 0/0; both engines must pin it to bin 0 (PSI = 0 after
    smoothing) instead of depending on NaN ordering inside
    least()/floor()."""
    import duckdb

    from osarchiver_spark.queries.events_analytics import ORACLES, q_psi_drift

    rows = [
        # constant type: same value in both halves
        ("const", 5.0, datetime(2024, 1, 1, 0)),
        ("const", 5.0, datetime(2024, 1, 1, 6)),
        ("const", 5.0, datetime(2024, 1, 2, 18)),
        ("const", 5.0, datetime(2024, 1, 3, 0)),
        # varying type alongside, to keep the span two-sided
        ("vary", 1.0, datetime(2024, 1, 1, 0)),
        ("vary", 9.0, datetime(2024, 1, 3, 0)),
    ]
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    out = {r["event_type"]: r.asDict() for r in q_psi_drift(spark, str(tmp_path)).collect()}
    assert out["const"]["n_bins"] == 1
    assert out["const"]["psi_micro"] == 0

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}/*.parquet'")
        oracle = {
            r[0]: r for r in con.execute(ORACLES["psi_drift"]).fetchall()
        }
    finally:
        con.close()
    assert oracle["const"][3] == out["const"]["n_bins"]
    assert oracle["const"][4] == out["const"]["psi_micro"]
    assert oracle["vary"][4] == out["vary"]["psi_micro"]


def _events_fixture(spark, tmp_path, rows):
    """Write a minimal events table (user_id, event_type, value, ts)
    and return (sf_dir, duckdb-view SQL path)."""
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)
    return str(tmp_path), f"{path}/*.parquet"


def _bit_exact_vs_duckdb(spark, tmp_path, rows, query_fn, oracle_sql):
    """Run query + oracle on a hand-built events table; assert the
    sorted canonical rows agree BIT-exactly (driver hash semantics)."""
    import duckdb

    from tests.oracle_harness import _canon

    sf_dir, duck_glob = _events_fixture(spark, tmp_path, rows)
    sdf = query_fn(spark, sf_dir)
    cols = sorted(sdf.columns)
    s_rows = sorted(
        tuple(_canon(r[c], exact=True) for c in cols) for r in sdf.collect()
    )
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{duck_glob}'")
        res = con.execute(oracle_sql)
        d_cols = [d[0] for d in res.description]
        order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        d_rows = sorted(
            tuple(_canon(r[i], exact=True) for i in order) for r in res.fetchall()
        )
    finally:
        con.close()
    assert sorted(d_cols) == cols
    assert s_rows == d_rows, f"bit-exact mismatch:\nspark={s_rows[:3]}\nduck ={d_rows[:3]}"
    return sdf


def test_survival_curve_no_purchase_cohort_is_empty(spark, tmp_path):
    """Everyone right-censored (no purchases anywhere): every duration
    row has d=0, so the d>0 output filter leaves an EMPTY curve on
    both engines — not a div-by-zero or a NULL survival."""
    from osarchiver_spark.queries.events_analytics import ORACLES, q_survival_curve

    rows = [
        (1, "click", 1.0, datetime(2024, 1, 1, 0)),
        (1, "view", 1.0, datetime(2024, 1, 2, 0)),
        (2, "click", 1.0, datetime(2024, 1, 1, 5)),
        (3, "view", 1.0, datetime(2024, 1, 3, 12)),
    ]
    out = _bit_exact_vs_duckdb(
        spark, tmp_path, rows, q_survival_curve, ORACLES["survival_curve"]
    )
    assert out.count() == 0


def test_survival_curve_single_user_converts_pins_zero(spark, tmp_path):
    """One user, one purchase: the only at-risk subject converts, the
    factor is exactly 0, and survival must pin to 0.0 (the hit_zero
    path) instead of evaluating ln(0)."""
    from osarchiver_spark.queries.events_analytics import ORACLES, q_survival_curve

    rows = [
        (1, "click", 1.0, datetime(2024, 1, 1, 0)),
        (1, "purchase", 9.0, datetime(2024, 1, 1, 3)),
    ]
    out = _bit_exact_vs_duckdb(
        spark, tmp_path, rows, q_survival_curve, ORACLES["survival_curve"]
    )
    r = out.collect()
    assert len(r) == 1
    assert r[0]["duration_h"] == 3 and r[0]["n_risk"] == 1
    assert r[0]["survival"] == 0.0


def test_survival_curve_zero_factor_mid_curve(spark, tmp_path):
    """All remaining subjects convert at an interior time: survival
    hits exactly 0 there and must STAY 0 for later rows (the
    cumulative hit_zero guard), while earlier rows keep their
    product-limit value."""
    from osarchiver_spark.queries.events_analytics import ORACLES, q_survival_curve

    rows = [
        # u1 converts at hour 1 (2 at risk -> factor 1/2)
        (1, "click", 1.0, datetime(2024, 1, 1, 0)),
        (1, "purchase", 1.0, datetime(2024, 1, 1, 1)),
        # u2 converts at hour 2 (last subject -> factor 0)
        (2, "click", 1.0, datetime(2024, 1, 1, 0)),
        (2, "purchase", 1.0, datetime(2024, 1, 1, 2)),
    ]
    out = _bit_exact_vs_duckdb(
        spark, tmp_path, rows, q_survival_curve, ORACLES["survival_curve"]
    )
    by_h = {r["duration_h"]: r for r in out.collect()}
    assert by_h[1]["survival"] == 0.5
    assert by_h[2]["survival"] == 0.0


def test_ab_test_degenerate_arms(spark, tmp_path):
    """Everyone converts (or no one does): the pooled rate is 0 or 1,
    se = 0, and the z-stat is pinned to 0.0 / not-significant on both
    engines instead of a div-by-zero."""
    from osarchiver_spark.queries.events_analytics import ORACLES, q_ab_test_report

    everyone = [
        (2, "purchase", 1.0, datetime(2024, 1, 1, 0)),
        (4, "purchase", 1.0, datetime(2024, 1, 1, 1)),
        (1, "purchase", 1.0, datetime(2024, 1, 1, 2)),
        (3, "purchase", 1.0, datetime(2024, 1, 1, 3)),
    ]
    out = _bit_exact_vs_duckdb(
        spark, tmp_path, everyone, q_ab_test_report, ORACLES["ab_test_report"]
    ).collect()[0]
    assert out["conv_a"] == 1.0 and out["conv_b"] == 1.0
    assert out["z_conversion"] == 0.0 and out["significant"] is False

    nobody = [
        (2, "click", 1.0, datetime(2024, 1, 1, 0)),
        (4, "view", 1.0, datetime(2024, 1, 1, 1)),
        (1, "click", 1.0, datetime(2024, 1, 1, 2)),
        (3, "view", 1.0, datetime(2024, 1, 1, 3)),
    ]
    out = _bit_exact_vs_duckdb(
        spark, tmp_path / "b", nobody, q_ab_test_report, ORACLES["ab_test_report"]
    ).collect()[0]
    assert out["conv_a"] == 0.0 and out["conv_b"] == 0.0
    assert out["z_conversion"] == 0.0 and out["significant"] is False


def test_ab_test_single_arm_population_is_empty_report(spark, tmp_path):
    """Every user hashes to arm A (all-even user_ids): the report is
    the empty relation on both engines (no A-vs-B row to emit), not a
    one-sided row with NULLs."""
    from osarchiver_spark.queries.events_analytics import ORACLES, q_ab_test_report

    rows = [
        (2, "purchase", 1.0, datetime(2024, 1, 1, 0)),
        (4, "click", 1.0, datetime(2024, 1, 1, 1)),
        (6, "purchase", 1.0, datetime(2024, 1, 1, 2)),
    ]
    out = _bit_exact_vs_duckdb(
        spark, tmp_path, rows, q_ab_test_report, ORACLES["ab_test_report"]
    )
    assert out.count() == 0
