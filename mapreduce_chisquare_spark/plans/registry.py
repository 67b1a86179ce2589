"""Merged query registry: name → (spark_builder, oracle_sql | None).

Split by domain:
- registry_text: the reference's own surface (SURVEY.md §2).
- registry_relational: join/agg/window/set-op proof over TPC-H-ish tables.
- registry_extensions: LLM-data-pipeline ops (dedup, simsearch, text
  analysis, windows, multimodal).
"""

from __future__ import annotations

from .registry_text import TEXT_QUERIES
from .registry_relational import RELATIONAL_QUERIES
from .registry_extensions import EXTENSION_QUERIES
from .registry_analytics import ANALYTICS_QUERIES

REGISTRY: dict = {
    **TEXT_QUERIES,
    **RELATIONAL_QUERIES,
    **EXTENSION_QUERIES,
    **ANALYTICS_QUERIES,
}

# Certification-window rotation: the driver's per-round correctness
# sweep certifies the FIRST 50 entries of this dict in order, so each
# round leads with entries that do not yet have a driver-green row.
# Membership here changes nothing about semantics or coverage — only
# visit order.
#
# Audit trail of driver-certified coverage:
# - r1 ∪ r2 greens: json_schema_parse map_scalars project scan_json
#   json_extract nonempty_filter casefold tokenize tokenize_positions
#   regexp_extract stopword_filter length_filter dedup_terms
#   anti_join_stopwords count_term_cat count_term count_cat
#   count_total join_term_totals join_cat_totals chi_square
#   topk_per_group format_report sink_roundtrip merged_dict
#   sketch_countmin q1_pricing_summary q3_shipping_priority
#   q5_supplier_revenue agg_rollup agg_grouping_sets sample_stratified
#   agg_stats agg_percentile agg_approx_distinct_grouped
#   agg_approx_percentile distinct_agg having_filter case_when_bucket
#   join_semi join_anti join_outer join_broadcast_dim multiway_join
#   join_salted agg_pivot agg_cube sample_hash window_rank
#   window_ranking null_scalars window_first_last
# - r3 greens (CORRECTNESS_r03): 49/50 of the round-3 window —
#   sketches, scan_csv, agg_histogram, text analysis, curation, dedup,
#   simsearch/embeddings, time-series/warehouse/layout, multimodal,
#   streaming. Sole red: embed_quantize (driver-canonicalizer shape
#   error on array<int>; value-correct — output reshaped to a CSV
#   string this round, re-windowed below).
#
# - r5 greens (CORRECTNESS_r05): all 50 of the round-5 window —
#   first all-green board since r2; includes the 19 round-4 tail
#   entries, window_moving_sum's HUGEINT fix, and the rewritten
#   dedup/tfidf/decontaminate re-certs. Cumulative driver-green: 156.
#
# Round-11 window history: the 9 round-10 tail entries, the 2 round-11
# flagship additions (image_phash_decoded, similarity_join_minhash_shuffle),
# and 39 r6-era stale re-certs — all 50 driver-green (CORRECTNESS_r11).
#
# Round-15 window history: the 18 round-14 tail entries + 2 r8-era +
# 30 r9-era stale re-certs — all 50 driver-green (CORRECTNESS_r15),
# zero overlap with the r14 window by design. Cumulative distinct
# driver-green after r15: 100 of ~334.
#
# Round-16 window (50) — this is OPTIMIZATION round 2, so the window
# leads with driver-side coverage for the optimization work (the
# round-15 verdict's item 7: weight the rotation toward touched
# queries): (a) the 14 round-15 tail additions that have never had a
# driver row; (b) the queries whose plans this round's optimizations
# changed (band-bucket self-join merge hints + their CC/pipeline
# consumers, the MMR driver-greedy rewrite [in (a)], the IVF probe-
# side filter pushdown, the image_phash sampling spread) — all
# locally oracle-green at sf0.001 + sf0.01 post-change; (c) fill to
# 50 with r9-era stale rows from the standing TODO. After this
# window lands the staleness floor is r9 (~11 rows remain on it).
_CERTIFY_WINDOW = [
    # (a) round-15 tail — first driver signature due
    "pii_screen",
    "stream_pii_screen",
    "char_entropy_screen",
    "embed_drift_centroid",
    "simsearch_mmr_topk",
    "ngram_novelty",
    "window_range_between",
    "embed_standardize",
    "source_dedup_rate",
    "events_path_topk",
    "graph_degree_distribution",
    "dq_profile_columns",
    "rank_eval_ndcg",
    "rank_eval_recall",
    # (b) round-16 touched plans — re-cert on the optimized shapes
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_k128",
    "winnowing_pairs",
    "dedup_simhash_pairs",
    "image_neardup_pairs",
    "image_neardup_decoded",
    "video_neardup",
    "er_blocking_lsh",
    "er_clusters_lsh",
    "er_clusters",
    "er_blocking_pairs",
    "pipeline_dedup_corpus",
    "dedup_keep_best",
    "image_dedup_components",
    "dedup_jaccard_estimate",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "split_no_leakage",
    "similarity_join_minhash",
    "simsearch_ivfpq",
    "simsearch_ivf_topk",
    "simsearch_ivfpq_nprobe2",
    "simsearch_ivf_assign",
    "image_phash",
    "embed_power_iteration",
    "dedup_incremental",
    "dedup_spans",
    # (c) r9-era stale re-certs
    "array_scalars",
    "join_bucketed",
    "ngram_counts",
    "join_bloom_prefilter",
    "doc_chunk",
    "pack_sequences",
    "sink_orc_roundtrip",
    "rollup_multigrain",
    "explode_outer_keywords",
]

# Register NEW queries at the registry TAIL, then promote them into
# the next round's _CERTIFY_WINDOW.
#
# Round-17 window TODO: the remaining r9-era stale rows
# (ts_anomaly_zscore dq_drift_psi similarity_join_embedding
# quality_model_score dq_quantiles_sketch dq_quantiles_sketch_merge
# heavy_hitters_mg heavy_hitters_mg_merge), then the oldest r10/r11
# rows, keeping ~130 never-certified registry entries rotating in.
_DEFER_TO_NEXT_ROTATION: list = []

assert len(_CERTIFY_WINDOW) == 50, len(_CERTIFY_WINDOW)
_head = [k for k in _CERTIFY_WINDOW if k in REGISTRY]
_mid = [k for k in _DEFER_TO_NEXT_ROTATION if k in REGISTRY]
REGISTRY = {
    **{k: REGISTRY[k] for k in _head},
    **{k: REGISTRY[k] for k in _mid},
    **{k: v for k, v in REGISTRY.items() if k not in _head and k not in _mid},
}
