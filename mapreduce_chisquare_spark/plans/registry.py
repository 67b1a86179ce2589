"""Merged query registry: name → (spark_builder, oracle_sql | None).

Split by domain:
- registry_text: the reference's own surface (SURVEY.md §2).
- registry_relational: join/agg/window/set-op proof over TPC-H-ish tables.
- registry_extensions: LLM-data-pipeline ops (dedup, simsearch, text
  analysis, windows, multimodal).
- registry_analytics: graph analytics, sketches, quantile audits.
- timeseries: the time-series family (operators/timeseries.py).
"""

from __future__ import annotations

from .registry_text import TEXT_QUERIES
from .registry_relational import RELATIONAL_QUERIES
from .registry_extensions import EXTENSION_QUERIES
from .registry_analytics import ANALYTICS_QUERIES
from .timeseries import TIMESERIES_QUERIES

REGISTRY: dict = {
    **TEXT_QUERIES,
    **RELATIONAL_QUERIES,
    **EXTENSION_QUERIES,
    **ANALYTICS_QUERIES,
    **TIMESERIES_QUERIES,
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
# Round-16 window history: the 14 round-15 tail additions, the
# entries whose plans round 16's optimizations changed, and r9-era
# stale re-certs.
#
# Round-17 window (50), ordered by the last round each entry was
# hash-matched on the driver (CORRECTNESS_r01-r16): (a) the entries
# whose builders the one-media-fixture-path change rewrote (13 media
# entries; stream_url_screen and dedup_url_canonical, now sharing one
# messy-URL column; inverted_index, now merge-joined); (b) the 8 rows
# last matched in r9; (c) simsearch_mmr_topk and the 17 entries on
# the shared graph core (graph.py / components_over_pairs); (d) the
# oldest r10 rows, to fill the window.
_CERTIFY_WINDOW = [
    # (a) builders rewritten onto the shared media / URL paths
    "image_phash_decoded",
    "image_phash_gif",
    "image_phash_jpeg",
    "image_phash_palette",
    "image_neardup_decoded",
    "image_thumbnail_decoded",
    "video_frame_phash",
    "video_neardup",
    "video_shot_boundaries",
    "audio_fingerprint",
    "audio_energy_segments",
    "audio_downsample_decoded",
    "multimodal_av_probe",
    "stream_url_screen",
    "dedup_url_canonical",
    "inverted_index",
    # (b) last hash-matched in r9
    "ts_anomaly_zscore",
    "dq_drift_psi",
    "similarity_join_embedding",
    "quality_model_score",
    "dq_quantiles_sketch",
    "dq_quantiles_sketch_merge",
    "heavy_hitters_mg",
    "heavy_hitters_mg_merge",
    # (c) the ANN mmr rewrite and the graph core
    "simsearch_mmr_topk",
    "graph_components_largestar",
    "graph_pagerank",
    "graph_triangles",
    "graph_ppr",
    "basket_rules",
    "graph_label_propagation",
    "graph_kcore",
    "graph_linkpred_jaccard",
    "graph_hits",
    "dedup_components",
    "dedup_keep_best",
    "image_dedup_components",
    "pipeline_dedup_corpus",
    "split_no_leakage",
    "er_clusters",
    "er_clusters_lsh",
    "er_survivorship",
    # (d) oldest r10 rows
    "json_schema_parse",
    "map_scalars",
    "project",
    "nonempty_filter",
    "casefold",
    "tokenize_positions",
    "regexp_extract",
    "length_filter",
]

# Register NEW queries at the registry TAIL, then promote them into
# the next round's _CERTIFY_WINDOW.
#
# Round-18 window TODO: first the 21 time-series entries that moved to
# plans/timeseries.py and are not in the window above
# (ts_anomaly_zscore is): resample_ffill, resample_interpolate,
# events_funnel, ts_paa, ts_similarity_topk, ts_similarity_refined,
# ts_sax, ts_sax_group, ts_similarity_sax_topk, ts_similarity_dtw_topk,
# ts_motif, ts_discord, ts_changepoint, ts_seasonality, ts_corr_topk,
# ts_acf, ts_decompose_classical, ts_lead_lag, ts_forecast_ewma,
# ts_forecast_holt, ts_forecast_holt_winters; then the remaining 35
# rows last hash-matched in r10 (dedup_terms onward in registry
# order), then the oldest r11 rows.
_DEFER_TO_NEXT_ROTATION: list = []

assert len(_CERTIFY_WINDOW) == 50, len(_CERTIFY_WINDOW)
_head = [k for k in _CERTIFY_WINDOW if k in REGISTRY]
_mid = [k for k in _DEFER_TO_NEXT_ROTATION if k in REGISTRY]
REGISTRY = {
    **{k: REGISTRY[k] for k in _head},
    **{k: REGISTRY[k] for k in _mid},
    **{k: v for k, v in REGISTRY.items() if k not in _head and k not in _mid},
}
