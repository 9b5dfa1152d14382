from osarchiver_spark.operators.retention import (
    frozen_now,
    retention_cutoff,
    retention_filter,
    remaining_after_archive,
)
from osarchiver_spark.operators.archive import Archiver, ArchivingFailed, archive_and_remaining
from osarchiver_spark.operators.asof import asof_join_pandas, asof_join_union
from osarchiver_spark.operators.dedup import (
    connected_components,
    embedding_lsh_incremental,
    embedding_lsh_neardup_pairs,
    embedding_neardup_pairs,
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    repeated_span_report,
    simhash_candidates,
    simhash_multiprobe_pairs,
)
from osarchiver_spark.operators.export import export_training_set
from osarchiver_spark.operators.graph import pagerank, trade_graph_edges
from osarchiver_spark.operators.als import als_factors, als_factors_rank, als_reconstruction_report
from osarchiver_spark.operators.boost import adaboost_score_by_source, adaboost_train
from osarchiver_spark.operators.bpe import bpe_segment_counts, bpe_train, bpe_vocab
from osarchiver_spark.operators.ivf import ivf_topk, kmeans_fit
from osarchiver_spark.operators.lr import lr_features, lr_score_by_source, lr_train
from osarchiver_spark.operators.pq import ivf_pq_topk, pq_joint_fit
from osarchiver_spark.operators.semdedup import (
    semantic_cluster_profile,
    semdedup_losers,
    semdedup_pairs,
)
from osarchiver_spark.operators.merge import merge_insert_if_absent, merge_upsert
from osarchiver_spark.operators.multimodal import (
    attach_binary,
    audio_features,
    extract_metadata,
    extract_metadata_codec,
    resize_thumbs,
    sample_frames,
)
from osarchiver_spark.operators.scd import scd2_apply, scd2_as_of, scd2_current, scd2_init
from osarchiver_spark.operators.similarity import brute_force_topk, lsh_topk
from osarchiver_spark.operators.skew import key_skew_profile, salted_count_sum, salted_join

__all__ = [
    "frozen_now",
    "retention_cutoff",
    "retention_filter",
    "remaining_after_archive",
    "Archiver",
    "ArchivingFailed",
    "archive_and_remaining",
    "asof_join_pandas",
    "asof_join_union",
    "connected_components",
    "embedding_lsh_incremental",
    "embedding_lsh_neardup_pairs",
    "embedding_neardup_pairs",
    "exact_dedup",
    "exact_dedup_groups",
    "export_training_set",
    "minhash_lsh_pairs",
    "ngram_containment_pairs",
    "ngram_jaccard_pairs",
    "pagerank",
    "repeated_span_report",
    "simhash_candidates",
    "simhash_multiprobe_pairs",
    "trade_graph_edges",
    "als_factors",
    "als_factors_rank",
    "als_reconstruction_report",
    "adaboost_score_by_source",
    "adaboost_train",
    "bpe_segment_counts",
    "bpe_train",
    "bpe_vocab",
    "ivf_topk",
    "ivf_pq_topk",
    "kmeans_fit",
    "lr_features",
    "lr_score_by_source",
    "lr_train",
    "semantic_cluster_profile",
    "semdedup_losers",
    "semdedup_pairs",
    "pq_joint_fit",
    "merge_insert_if_absent",
    "merge_upsert",
    "attach_binary",
    "audio_features",
    "extract_metadata",
    "extract_metadata_codec",
    "resize_thumbs",
    "sample_frames",
    "scd2_apply",
    "scd2_as_of",
    "scd2_current",
    "scd2_init",
    "brute_force_topk",
    "lsh_topk",
    "key_skew_profile",
    "salted_count_sum",
    "salted_join",
]
