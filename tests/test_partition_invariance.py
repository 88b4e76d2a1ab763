"""Partition-count invariance: results must be identical under
different parallelism (the local stand-in for 'same answer on any
cluster size'). The exact-decimal aggregation convention and
deterministic tie-breaks are what make this hold bit-exactly."""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import SF_SMOKE

from tb_scale_spatial_data_pipeline_spark.plans import all_queries

REPRESENTATIVE = [
    "pricing_summary",
    "grouped_median",
    "argmax_composite",
    "dual_model_fallback",
    "minhash_lsh_pairs",
    "cosine_topk",
    "sessionization",
    "salted_skew_agg",
    # round-5 additions: skew join, union-window as-of, composed ANN,
    # weighted sample, PIP join, funnel
    "salted_skew_join",
    "asof_union_window",
    "ivf_search_nprobe",
    "weighted_sample_orders",
    "spatial_point_in_polygon",
    "funnel_conversion",
    "weighted_median_price",
    "max_concurrency_sweep",
    "rolling_zscore_anomaly",
    "triangle_count",
    # round-6 additions: corpus dedup/decontamination shuffle on
    # content hashes; ANOVA's ordered double fold; skyline's global
    # sort sweep
    "corpus_segment_dedup",
    "benchmark_decontamination",
    "anova_f_oneway",
    "ks_two_sample",
    "skyline_parts",
    # later round-6 batches: sampling ring, sequential packing,
    # attribution windows, CDC last-wins merge
    "mixture_sample_sources",
    "sequence_packing",
    "purchase_attribution",
    "cdc_apply_changes",
    "bfs_hop_distance",
    # continuation-session additions: iterative relaxation, decimal
    # CUSUM windows, decimal-lattice similarity sums, lattice
    # silhouette, sketch merge, ntile under ties
    "sssp_weighted",
    "cusum_changepoint",
    "item_recommendations",
    "cluster_silhouette_report",
    "hll_groupwise_merge",
    "range_partition_planner",
    "bpe_merge_train",
    "incremental_dedup_ingest",
    # later continuation batches: global ntile under ties, dwell-time
    # decimal products, islands via running max, lattice projections
    "rfm_segmentation",
    "time_weighted_average",
    "interval_union_coverage",
    "jl_projection_distortion",
    "sorted_neighborhood_pairs",
    "dd_quantile_sketch",
    "personalized_pagerank",
    # final batches: decimal-lattice chain iteration, integer power
    # sums over edges, fixed-round component labels, prefix counting
    "markov_removal_attribution",
    "degree_assortativity",
    "hub_removal_resilience",
    "heaps_law_vocab_growth",
    # the registry_mix benchmark queries whose default width follows
    # the slot count (pricing_summary is listed above)
    "weisfeiler_leman_colors",
    "q3_shipping_priority",
    "tfidf_topk",
]


def canon(df) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns), na_position="last").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_partition_invariance(name, spark):
    qs = all_queries()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = canon(qs[name](spark, SF_SMOKE))
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = canon(qs[name](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    pd.testing.assert_frame_equal(a, b)
