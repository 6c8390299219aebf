from model_presto_spark.operators.asof import asof_join
from model_presto_spark.operators.behavior import (
    attribution,
    benford_digits,
    ordered_funnel,
    rfm_scores,
)
from model_presto_spark.operators.stats import (
    clamped_running_balance,
    correlation_matrix,
    covariance_matrix,
    grouped_ols,
    pca_project,
    theil_sen_slope,
    weighted_median,
)
from model_presto_spark.operators.bucketing import bucketed_join, write_bucketed
from model_presto_spark.operators.contamination import ngram_contamination
from model_presto_spark.operators.dedup import (
    dedup_corpus,
    embedding_dup_pairs,
    exact_dedup,
    keep_representatives,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash_signatures,
    winnow_fingerprints,
    winnow_shared_stats,
)
from model_presto_spark.operators.dsir import (
    dsir_sample,
    dsir_weights,
)
from model_presto_spark.operators.lines import (
    line_dedup_stats,
    remove_frequent_lines,
)
from model_presto_spark.operators.layout import (
    write_zordered,
    zorder_key,
)
from model_presto_spark.operators.mixing import (
    apply_mix,
    apply_mix_epochs,
    mix_plan,
)
from model_presto_spark.operators.grid import (
    bilinear_resample,
    positional_concat,
    terrain_derivatives,
)
from model_presto_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    kcore_peel,
    keep_cluster_representatives,
    label_propagation,
)
from model_presto_spark.operators.knn import (
    ann_lsh_join,
    build_ivf_index,
    ivf_index_search,
    ivf_knn_join,
    knn_classify,
    knn_join,
    quantize_vectors,
    quantized_knn_join,
)
from model_presto_spark.operators.compaction import (
    compact_parquet,
    compaction_stats,
    equi_depth_histogram,
    plan_compaction,
)
from model_presto_spark.operators.bpe import (
    apply_bpe,
    train_bpe_merges,
    word_freqs,
)
from model_presto_spark.operators.lm import (
    bigram_perplexity_scores,
    perplexity_scores,
    rrf_fuse,
    tfidf_top_terms,
)
from model_presto_spark.operators.packing import pack_sequences, prefix_sum
from model_presto_spark.operators.profile import (
    check_constraints,
    profile_columns,
    token_divergence,
)
from model_presto_spark.operators.quality import (
    c4_quality_flags,
    gopher_quality_flags,
)
from model_presto_spark.operators.pq import (
    build_ivfpq_index,
    ivfpq_search,
    pq_encode,
    pq_knn_join,
    train_pq_codebooks,
)
from model_presto_spark.operators.skew import salted_count, salted_join
from model_presto_spark.operators.splits import (
    balanced_sample,
    group_split,
    hash_rank_sample,
    hash_split,
    per_class_capped_split,
    ratio_split,
    seeded_shuffle,
    stratified_split,
)
from model_presto_spark.operators.temporal import (
    interval_join,
    session_stats,
    sessionize,
)
from model_presto_spark.operators.timeseries import (
    monthly_composite,
    month_spine,
    pad_series,
    patch_pool,
    stride_sample,
)

from model_presto_spark.operators.dedup import (
    remove_dup_spans,
    source_overlap,
    span_dup_stats,
    window_hashes,
)
from model_presto_spark.operators.graph import (
    adamic_adar,
    bfs_levels,
    grid_density_clusters,
    hits,
    pagerank,
    triangle_stats,
)
from model_presto_spark.operators.linkage import blocked_fuzzy_join
from model_presto_spark.operators.lm import bm25_scores
from model_presto_spark.operators.privacy import (
    diff_snapshots,
    k_anonymity_stats,
    k_anonymize,
)
from model_presto_spark.operators.assoc import (
    cooccurrence_pmi,
    frequent_itemsets,
)
from model_presto_spark.operators.splits import (
    kfold,
    token_budget_truncate,
)
from model_presto_spark.operators.temporal import (
    cohort_retention,
    day_streaks,
    kaplan_meier,
    max_concurrency,
    scd2_intervals,
    sequence_counts,
    transition_matrix,
)
from model_presto_spark.operators.timeseries import (
    cusum,
    ewma,
    holt_winters,
    mad_outliers,
    rolling_zscore,
    seasonal_decompose,
)

__all__ = [
    "adamic_adar",
    "ann_lsh_join",
    "apply_bpe",
    "apply_mix",
    "apply_mix_epochs",
    "asof_join",
    "attribution",
    "benford_digits",
    "ordered_funnel",
    "rfm_scores",
    "grouped_ols",
    "covariance_matrix",
    "correlation_matrix",
    "pca_project",
    "balanced_sample",
    "bfs_levels",
    "bilinear_resample",
    "blocked_fuzzy_join",
    "bm25_scores",
    "bucketed_join",
    "build_ivf_index",
    "build_ivfpq_index",
    "check_constraints",
    "cohort_retention",
    "compact_parquet",
    "compaction_stats",
    "connected_components",
    "cooccurrence_pmi",
    "cusum",
    "dedup_clusters",
    "dedup_corpus",
    "diff_snapshots",
    "dsir_sample",
    "dsir_weights",
    "embedding_dup_pairs",
    "equi_depth_histogram",
    "ewma",
    "holt_winters",
    "exact_dedup",
    "frequent_itemsets",
    "group_split",
    "hash_rank_sample",
    "hash_split",
    "interval_join",
    "ivf_index_search",
    "ivf_knn_join",
    "ivfpq_search",
    "k_anonymity_stats",
    "k_anonymize",
    "kaplan_meier",
    "keep_cluster_representatives",
    "keep_representatives",
    "kfold",
    "knn_classify",
    "knn_join",
    "label_propagation",
    "kcore_peel",
    "line_dedup_stats",
    "mad_outliers",
    "minhash_lsh_pairs",
    "mix_plan",
    "month_spine",
    "monthly_composite",
    "ngram_containment_pairs",
    "ngram_contamination",
    "ngram_jaccard_pairs",
    "pack_sequences",
    "pad_series",
    "pagerank",
    "hits",
    "grid_density_clusters",
    "max_concurrency",
    "weighted_median",
    "clamped_running_balance",
    "theil_sen_slope",
    "source_overlap",
    "patch_pool",
    "per_class_capped_split",
    "perplexity_scores",
    "rrf_fuse",
    "winnow_fingerprints",
    "winnow_shared_stats",
    "bigram_perplexity_scores",
    "semantic_dedup",
    "plan_compaction",
    "positional_concat",
    "pq_encode",
    "pq_knn_join",
    "prefix_sum",
    "profile_columns",
    "gopher_quality_flags",
    "c4_quality_flags",
    "quantize_vectors",
    "quantized_knn_join",
    "ratio_split",
    "remove_dup_spans",
    "remove_frequent_lines",
    "rolling_zscore",
    "seasonal_decompose",
    "salted_count",
    "salted_join",
    "seeded_shuffle",
    "session_stats",
    "sessionize",
    "simhash_signatures",
    "span_dup_stats",
    "stratified_split",
    "stride_sample",
    "terrain_derivatives",
    "tfidf_top_terms",
    "token_budget_truncate",
    "token_divergence",
    "train_bpe_merges",
    "train_pq_codebooks",
    "transition_matrix",
    "scd2_intervals",
    "day_streaks",
    "sequence_counts",
    "triangle_stats",
    "window_hashes",
    "word_freqs",
    "write_bucketed",
    "write_zordered",
    "zorder_key",
]
