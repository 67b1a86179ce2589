"""queries()/oracle_sql() registry — LLM-data-pipeline extensions:
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search (brute-force + hyperplane LSH), text analysis, event-time
windows (tumbling/sliding/session), as-of join, multimodal plumbing,
and the Structured Streaming twin of the tumbling window.

Oracle SQL for hash-heavy operators is *generated* from the same
Python constants as the Spark plans (seeds, hyperplanes, band layout),
so both engines express byte-identical semantics.
"""

from __future__ import annotations

from ..streaming.cdc import cdc_screen_stream
from ..streaming.chisquare_stream import incremental_chi_square
from ..streaming.curation import (
    chunk_stream,
    quality_filter_stream,
    quality_model_stream,
)
from ..streaming.dedup import neardup_screen_stream
from ..streaming.diagnostics import anomaly_screen_stream
from ..streaming.joins import attribution_to_completion, enrich_stream_static
from ..streaming.linkage import er_screen_stream
from ..streaming.sessionize import sessionize_to_completion
from ..streaming.windows import dedup_stream, tumbling_counts_stream
from .ext_common import (
    DataFrame,
    F,
    SQL_DELIM,
    SparkSession,
    _docs,
    _emb,
    _events,
    dd,
    scan_parquet,
    ss,
    tx,
)
from .ext_retrieval import (
    SQL_ARRAY_SCALARS,
    SQL_DEDUP_COMPONENTS,
    SQL_DEDUP_EXACT,
    SQL_DEDUP_INCREMENTAL,
    SQL_DEDUP_JACCARD,
    SQL_DEDUP_MINHASH,
    SQL_DEDUP_MINHASH_K128,
    SQL_DEDUP_SIMHASH,
    SQL_EMBED_NEARDUP,
    SQL_EVENTS_FUNNEL,
    SQL_FINGERPRINT,
    SQL_LANG_ID,
    SQL_QUALITY,
    SQL_SIMSEARCH_LSH,
    SQL_SIMSEARCH_LSH_TOPK,
    SQL_SIMSEARCH_TOPK,
    SQL_SNAPSHOT_DIFF,
    SQL_TFIDF,
    SQL_TOKEN_COUNT,
    SQL_WINDOW_RANGE,
    _PAIR_CTES,
    _cos_sql,
    _minhash_band_ctes,
    array_scalars,
    dedup_components,
    dedup_exact,
    dedup_incremental_q,
    dedup_minhash_lsh,
    dedup_minhash_lsh_k128,
    dedup_ngram_jaccard,
    dedup_simhash,
    doc_fingerprint,
    embed_neardup,
    events_funnel_q,
    lang_id,
    quality_score,
    simsearch_lsh,
    simsearch_lsh_topk,
    simsearch_topk,
    snapshot_diff_q,
    tfidf_q,
    token_count,
    window_range_frame,
)
from .ext_temporal import (
    SQL_ASOF,
    SQL_ASOF_NEAREST,
    SQL_ASOF_TOLERANCE,
    SQL_JOIN_RANGE,
    SQL_STREAM_CHI,
    SQL_STREAM_DEDUP,
    SQL_WINDOW_SESSION,
    SQL_WINDOW_SLIDING,
    SQL_WINDOW_TUMBLING,
    asof_nearest_q,
    asof_purchase_click,
    asof_tolerance,
    join_range,
    window_session,
    window_sliding,
    window_tumbling,
)
from .ext_media import (
    SQL_DEDUP_SEMANTIC,
    SQL_EMBED_QUANTIZE,
    SQL_IVF_ASSIGN,
    SQL_IVF_TOPK,
    SQL_MULTIMODAL_DECODE,
    SQL_MULTIMODAL_FRAMES,
    SQL_MULTIMODAL_META,
    SQL_PIPELINE_CURATION,
    _km_assign_ctes,
    _km_cent_ctes,
    _km_cents,
    dedup_semantic_q,
    embed_quantize,
    multimodal_decode,
    multimodal_frames,
    multimodal_meta,
    pipeline_curation,
    simsearch_ivf_assign,
    simsearch_ivf_topk,
    simsearch_topk_pandas,
)
from .ext_curation import (
    SQL_DECONTAMINATE,
    SQL_PII_REDACT,
    SQL_REPETITION,
    SQL_SAMPLE_PER_SOURCE,
    SQL_SCAN_CSV,
    SQL_STREAM_INTERVAL_JOIN,
    SQL_WINSORIZE,
    decontaminate_q,
    pii_redact_q,
    repetition_q,
    sample_per_source_q,
    scan_csv_q,
    winsorize_q,
)
from .ext_analytics_ext import (
    SQL_BM25,
    SQL_BM25_TOPK,
    SQL_BPE_MERGES,
    SQL_BPE_PAIR_COUNTS,
    SQL_BPE_VOCAB,
    SQL_CORPUS_COMPOSITION,
    SQL_CORPUS_CUT_SPANS,
    SQL_CORPUS_SHARD,
    SQL_CORPUS_SPLIT,
    SQL_CROSS_DOC_REPETITION,
    SQL_DECONTAMINATE_SPANS,
    SQL_DEDUP_JACCARD_ESTIMATE,
    SQL_DEDUP_KEEP_BEST,
    SQL_DEDUP_NORMALIZED,
    SQL_DEDUP_SPANS,
    SQL_DOC_CHUNK,
    SQL_DQ_DRIFT_PSI,
    SQL_DQ_PROFILE,
    SQL_EMBED_LABEL_MEANS,
    SQL_EXPLODE_OUTER,
    SQL_IVFPQ,
    SQL_IVFPQ_NPROBE2,
    SQL_JOIN_BLOOM,
    SQL_JOIN_BUCKETED,
    SQL_LM_BIGRAM,
    SQL_LM_UNIGRAM,
    SQL_MULTIMODAL_RESIZE,
    SQL_NGRAM_COUNTS,
    SQL_NORMALIZE_TEXT,
    SQL_PACK_SEQUENCES,
    SQL_PIPELINE_DEDUP_CORPUS,
    SQL_PIPELINE_SPAN_SURGERY,
    SQL_PIPELINE_TRAINING_CORPUS,
    SQL_PQ_ENCODE,
    SQL_PQ_REFINED,
    SQL_PQ_TOPK,
    SQL_RESAMPLE_FFILL,
    SQL_ROLLUP_MULTIGRAIN,
    SQL_SAMPLE_WEIGHTED,
    SQL_SAMPLE_WEIGHTED_PER_SOURCE,
    SQL_SCD2_MERGE,
    SQL_SELECT_TOKEN_BUDGET,
    SQL_SIMILARITY_JOIN_MINHASH,
    SQL_SINK_ORC,
    SQL_SINK_PARTITIONED,
    SQL_SKEW_PROFILE,
    SQL_SOURCE_TEMPERATURE,
    SQL_SPLIT_NO_LEAKAGE,
    SQL_STREAM_NEARDUP,
    SQL_STREAM_QUALITY,
    SQL_STREAM_STATIC_JOIN,
    SQL_TOKENS_TO_IDS,
    SQL_TS_ANOMALY_ZSCORE,
    SQL_TS_CHANGEPOINT,
    SQL_TS_CORR_TOPK,
    SQL_TS_DISCORD,
    SQL_TS_DTW_TOPK,
    SQL_TS_MOTIF,
    SQL_TS_PAA,
    SQL_TS_SAX,
    SQL_TS_SAX_GROUP,
    SQL_TS_SAX_TOPK,
    SQL_TS_SEASONALITY,
    SQL_TS_SIMILARITY,
    SQL_TS_SIMILARITY_REFINED,
    SQL_VOCAB_OOV,
    SQL_VOCAB_TOPV,
    SQL_WINNOWING,
    SQL_WINNOWING_PAIRS,
    SQL_ZORDER_VALUES,
    _BM25_CTES,
    _bpe_ctes,
    bm25_score_q,
    bm25_topk_q,
    bpe_merges_q,
    bpe_pair_counts_q,
    bpe_vocab_q,
    corpus_composition_q,
    corpus_cut_spans_q,
    corpus_shard_q,
    corpus_split_q,
    cross_doc_repetition_q,
    decontaminate_spans_q,
    dedup_jaccard_estimate_q,
    dedup_keep_best_q,
    dedup_normalized_q,
    dedup_spans_q,
    doc_chunk_q,
    dq_drift_psi_q,
    dq_profile_q,
    embed_label_means_q,
    explode_outer_keywords_q,
    join_bloom_prefilter_q,
    join_bucketed_q,
    lm_bigram_score_q,
    lm_unigram_score_q,
    multimodal_resize,
    ngram_counts_q,
    normalize_text_q,
    pack_sequences_q,
    pipeline_dedup_corpus,
    pipeline_span_surgery_q,
    pipeline_training_corpus,
    resample_ffill_q,
    rollup_multigrain_q,
    sample_weighted_per_source_q,
    sample_weighted_q,
    scd2_merge_q,
    select_token_budget_q,
    similarity_join_minhash_q,
    simsearch_ivfpq_nprobe2_q,
    simsearch_ivfpq_q,
    simsearch_pq_encode_q,
    simsearch_pq_refined_q,
    simsearch_pq_topk_q,
    sink_orc_roundtrip_q,
    sink_partitioned_q,
    skew_profile_q,
    source_temperature_q,
    split_no_leakage_q,
    tokens_to_ids_q,
    ts_anomaly_zscore_q,
    ts_changepoint_q,
    ts_corr_topk_q,
    ts_discord_q,
    ts_motif_q,
    ts_paa_q,
    ts_sax_group_q,
    ts_sax_q,
    ts_seasonality_q,
    ts_similarity_dtw_topk_q,
    ts_similarity_refined_q,
    ts_similarity_sax_topk_q,
    ts_similarity_topk_q,
    vocab_oov_q,
    vocab_topv_q,
    winnowing_fingerprint_q,
    winnowing_pairs_q,
    zorder_values_q,
)

EXTENSION_QUERIES = {
    "decontaminate": (decontaminate_q, SQL_DECONTAMINATE),
    "repetition_metrics": (repetition_q, SQL_REPETITION),
    "pii_redact": (pii_redact_q, SQL_PII_REDACT),
    "sample_per_source": (sample_per_source_q, SQL_SAMPLE_PER_SOURCE),
    "winsorize": (winsorize_q, SQL_WINSORIZE),
    "scan_csv": (scan_csv_q, SQL_SCAN_CSV),
    "stream_interval_join": (
        attribution_to_completion,
        SQL_STREAM_INTERVAL_JOIN,
    ),
    "resample_ffill": (resample_ffill_q, SQL_RESAMPLE_FFILL),
    "dq_profile": (dq_profile_q, SQL_DQ_PROFILE),
    "scd2_merge": (scd2_merge_q, SQL_SCD2_MERGE),
    "embed_label_means": (embed_label_means_q, SQL_EMBED_LABEL_MEANS),
    "pipeline_training_corpus": (
        pipeline_training_corpus,
        SQL_PIPELINE_TRAINING_CORPUS,
    ),
    "zorder_values": (zorder_values_q, SQL_ZORDER_VALUES),
    "sink_partitioned": (sink_partitioned_q, SQL_SINK_PARTITIONED),
    "stream_static_join": (enrich_stream_static, SQL_STREAM_STATIC_JOIN),
    "dedup_exact": (dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (dedup_minhash_lsh, SQL_DEDUP_MINHASH),
    "dedup_minhash_lsh_k128": (dedup_minhash_lsh_k128, SQL_DEDUP_MINHASH_K128),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, SQL_DEDUP_JACCARD),
    "dedup_components": (dedup_components, SQL_DEDUP_COMPONENTS),
    "dedup_simhash": (dedup_simhash, SQL_DEDUP_SIMHASH),
    "simsearch_topk": (simsearch_topk, SQL_SIMSEARCH_TOPK),
    "simsearch_topk_pandas": (simsearch_topk_pandas, SQL_SIMSEARCH_TOPK),
    "multimodal_frames": (multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "embed_neardup": (embed_neardup, SQL_EMBED_NEARDUP),
    "embed_quantize": (embed_quantize, SQL_EMBED_QUANTIZE),
    "simsearch_lsh": (simsearch_lsh, SQL_SIMSEARCH_LSH),
    "simsearch_lsh_topk": (simsearch_lsh_topk, SQL_SIMSEARCH_LSH_TOPK),
    "simsearch_ivf_assign": (simsearch_ivf_assign, SQL_IVF_ASSIGN),
    "simsearch_ivf_topk": (simsearch_ivf_topk, SQL_IVF_TOPK),
    "lang_id": (lang_id, SQL_LANG_ID),
    "quality_score": (quality_score, SQL_QUALITY),
    "token_count": (token_count, SQL_TOKEN_COUNT),
    "doc_fingerprint": (doc_fingerprint, SQL_FINGERPRINT),
    "tfidf": (tfidf_q, SQL_TFIDF),
    "window_tumbling": (window_tumbling, SQL_WINDOW_TUMBLING),
    "window_sliding": (window_sliding, SQL_WINDOW_SLIDING),
    "window_session": (window_session, SQL_WINDOW_SESSION),
    "window_range_frame": (window_range_frame, SQL_WINDOW_RANGE),
    "array_scalars": (array_scalars, SQL_ARRAY_SCALARS),
    "asof_join": (asof_purchase_click, SQL_ASOF),
    "asof_tolerance": (asof_tolerance, SQL_ASOF_TOLERANCE),
    "join_range": (join_range, SQL_JOIN_RANGE),
    "stream_tumbling": (tumbling_counts_stream, SQL_WINDOW_TUMBLING),
    "stream_dedup": (dedup_stream, SQL_STREAM_DEDUP),
    "stream_sessionize": (sessionize_to_completion, SQL_WINDOW_SESSION),
    "stream_chi_square": (incremental_chi_square, SQL_STREAM_CHI),
    "pipeline_curation": (pipeline_curation, SQL_PIPELINE_CURATION),
    "multimodal_meta": (multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_decode": (multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal_resize": (multimodal_resize, SQL_MULTIMODAL_RESIZE),
    # round-3 additions — tail-registered (certification-window rule)
    "join_bucketed": (join_bucketed_q, SQL_JOIN_BUCKETED),
    "ngram_counts": (ngram_counts_q, SQL_NGRAM_COUNTS),
    "join_bloom_prefilter": (join_bloom_prefilter_q, SQL_JOIN_BLOOM),
    "stream_quality_filter": (quality_filter_stream, SQL_STREAM_QUALITY),
    "doc_chunk": (doc_chunk_q, SQL_DOC_CHUNK),
    "pack_sequences": (pack_sequences_q, SQL_PACK_SEQUENCES),
    "sink_orc_roundtrip": (sink_orc_roundtrip_q, SQL_SINK_ORC),
    "rollup_multigrain": (rollup_multigrain_q, SQL_ROLLUP_MULTIGRAIN),
    "stream_doc_chunk": (chunk_stream, SQL_DOC_CHUNK),
    "explode_outer_keywords": (explode_outer_keywords_q, SQL_EXPLODE_OUTER),
    # round-4 tail additions — queued for the round-5 certification
    # window per the registry rotation protocol (plans/registry.py)
    "pipeline_dedup_corpus": (
        pipeline_dedup_corpus,
        SQL_PIPELINE_DEDUP_CORPUS,
    ),
    "corpus_shard": (corpus_shard_q, SQL_CORPUS_SHARD),
    "corpus_split": (corpus_split_q, SQL_CORPUS_SPLIT),
    "sample_weighted": (sample_weighted_q, SQL_SAMPLE_WEIGHTED),
    "source_temperature": (source_temperature_q, SQL_SOURCE_TEMPERATURE),
    "lm_unigram_score": (lm_unigram_score_q, SQL_LM_UNIGRAM),
    "simsearch_pq_encode": (simsearch_pq_encode_q, SQL_PQ_ENCODE),
    "simsearch_pq_topk": (simsearch_pq_topk_q, SQL_PQ_TOPK),
    "simsearch_pq_refined": (simsearch_pq_refined_q, SQL_PQ_REFINED),
    "dedup_keep_best": (dedup_keep_best_q, SQL_DEDUP_KEEP_BEST),
    "dedup_incremental": (dedup_incremental_q, SQL_DEDUP_INCREMENTAL),
    "asof_nearest": (asof_nearest_q, SQL_ASOF_NEAREST),
    "snapshot_diff": (snapshot_diff_q, SQL_SNAPSHOT_DIFF),
    "corpus_composition": (corpus_composition_q, SQL_CORPUS_COMPOSITION),
    "events_funnel": (events_funnel_q, SQL_EVENTS_FUNNEL),
    "simsearch_ivfpq": (simsearch_ivfpq_q, SQL_IVFPQ),
    "sample_weighted_per_source": (
        sample_weighted_per_source_q,
        SQL_SAMPLE_WEIGHTED_PER_SOURCE,
    ),
    "simsearch_ivfpq_nprobe2": (simsearch_ivfpq_nprobe2_q, SQL_IVFPQ_NPROBE2),
    "dedup_spans": (dedup_spans_q, SQL_DEDUP_SPANS),
    "cross_doc_repetition": (cross_doc_repetition_q, SQL_CROSS_DOC_REPETITION),
    "vocab_topv": (vocab_topv_q, SQL_VOCAB_TOPV),
    "vocab_oov": (vocab_oov_q, SQL_VOCAB_OOV),
    "decontaminate_spans": (decontaminate_spans_q, SQL_DECONTAMINATE_SPANS),
    "tokens_to_ids": (tokens_to_ids_q, SQL_TOKENS_TO_IDS),
    "corpus_cut_spans": (corpus_cut_spans_q, SQL_CORPUS_CUT_SPANS),
    "select_token_budget": (select_token_budget_q, SQL_SELECT_TOKEN_BUDGET),
    "pipeline_span_surgery": (pipeline_span_surgery_q, SQL_PIPELINE_SPAN_SURGERY),
    # round-6 tail additions — queued for the round-7 certification
    # window per the registry rotation protocol (plans/registry.py)
    "bm25_score": (bm25_score_q, SQL_BM25),
    "lm_bigram_score": (lm_bigram_score_q, SQL_LM_BIGRAM),
    "similarity_join_minhash": (
        similarity_join_minhash_q,
        SQL_SIMILARITY_JOIN_MINHASH,
    ),
    "dedup_jaccard_estimate": (
        dedup_jaccard_estimate_q,
        SQL_DEDUP_JACCARD_ESTIMATE,
    ),
    "split_no_leakage": (split_no_leakage_q, SQL_SPLIT_NO_LEAKAGE),
    "winnowing_fingerprint": (winnowing_fingerprint_q, SQL_WINNOWING),
    "bm25_topk": (bm25_topk_q, SQL_BM25_TOPK),
    "winnowing_pairs": (winnowing_pairs_q, SQL_WINNOWING_PAIRS),
    "stream_neardup": (neardup_screen_stream, SQL_STREAM_NEARDUP),
    "normalize_text": (normalize_text_q, SQL_NORMALIZE_TEXT),
    "dedup_normalized": (dedup_normalized_q, SQL_DEDUP_NORMALIZED),
    "skew_profile": (skew_profile_q, SQL_SKEW_PROFILE),
    "ts_paa": (ts_paa_q, SQL_TS_PAA),
    "ts_similarity_topk": (ts_similarity_topk_q, SQL_TS_SIMILARITY),
    "ts_similarity_refined": (
        ts_similarity_refined_q,
        SQL_TS_SIMILARITY_REFINED,
    ),
    # round-7 tail additions — queued for the round-8 certification
    # window per the registry rotation protocol (plans/registry.py)
    "ts_sax": (ts_sax_q, SQL_TS_SAX),
    "ts_sax_group": (ts_sax_group_q, SQL_TS_SAX_GROUP),
    "dedup_semantic": (dedup_semantic_q, SQL_DEDUP_SEMANTIC),
    "ts_similarity_sax_topk": (
        ts_similarity_sax_topk_q,
        SQL_TS_SAX_TOPK,
    ),
    # round-8 addition — certified in the round-8 window (same-round
    # promotion per the registry rotation protocol, plans/registry.py)
    "ts_similarity_dtw_topk": (
        ts_similarity_dtw_topk_q,
        SQL_TS_DTW_TOPK,
    ),
    "ts_motif": (ts_motif_q, SQL_TS_MOTIF),
    "ts_discord": (ts_discord_q, SQL_TS_DISCORD),
    "bpe_pair_counts": (bpe_pair_counts_q, SQL_BPE_PAIR_COUNTS),
    "bpe_merges": (bpe_merges_q, SQL_BPE_MERGES),
    "bpe_vocab": (bpe_vocab_q, SQL_BPE_VOCAB),
    "ts_changepoint": (ts_changepoint_q, SQL_TS_CHANGEPOINT),
    "ts_anomaly_zscore": (ts_anomaly_zscore_q, SQL_TS_ANOMALY_ZSCORE),
    "ts_seasonality": (ts_seasonality_q, SQL_TS_SEASONALITY),
    "stream_anomaly_screen": (
        anomaly_screen_stream,
        SQL_TS_ANOMALY_ZSCORE,
    ),
    "ts_corr_topk": (ts_corr_topk_q, SQL_TS_CORR_TOPK),
    "dq_drift_psi": (dq_drift_psi_q, SQL_DQ_DRIFT_PSI),
}


# =========================================================================
# Round-9 additions: perceptual image near-dup, embedding similarity
# join, model-based quality score
# =========================================================================

from ..operators import imagehash as ih  # noqa: E402
from ..operators.spread import spread_for_kernel  # noqa: E402
from .oracle_common import (  # noqa: E402
    sql_band_cols,
    sql_grid_px_cols,
    sql_phash_hex,
)
from ..operators.curation import (  # noqa: E402
    QM_BIAS_MILLI,
    QM_BUCKETS,
    quality_model_score,
)


def _sql_px_cols(src: str = "text") -> str:
    """DuckDB twin of imagehash.sampled_pixel_exprs: the 72 sampled
    code-point columns (same positions, `//` for Spark's `div`)."""
    n = ih.N_PIX
    return ", ".join(
        f"unicode(substr({src}, 1 + ({i} * (length({src}) - 1)) "
        f"// {n - 1}, 1)) AS px{i}"
        for i in range(n)
    )


def image_phash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash fingerprint per document payload
    (operators/imagehash.py image_phash) — the content-level image
    fingerprint (LAION-style dedup methodology) over the stand-in
    decode."""
    return ih.image_phash(_docs(spark, sf_dir))


SQL_IMAGE_PHASH = f"""
WITH px AS (SELECT doc_id, {_sql_px_cols()}
            FROM documents WHERE length(text) >= 1),
h AS (SELECT doc_id, {sql_band_cols()} FROM px)
SELECT doc_id, b0, b1, b2, b3,
       {sql_phash_hex()} AS phash
FROM h
"""


# the perturbed-clone corpus: every 20th payload gets ONE sampled
# pixel (sample index 20) replaced by a far-away code point — flips
# at most the 2 adjacent dHash comparisons, so every planted pair is
# within the max_dist=3 pigeonhole-recall guarantee
_PHASH_P = ih.pixel_pos(20).format(t="text")
_PHASH_P_SQL = _PHASH_P.replace(" div ", " // ")


def _phash_corpus(docs: DataFrame) -> DataFrame:
    pert = (
        f"concat(substring(text, 1, ({_PHASH_P}) - 1), "
        f"CASE WHEN ascii(substring(text, {_PHASH_P}, 1)) > 60 "
        "THEN char(1) ELSE char(120) END, "
        f"substring(text, ({_PHASH_P}) + 1))"
    )
    base = docs.select("doc_id", "text")
    clones = (
        docs.filter((F.col("doc_id") % 20 == 0) & (F.length("text") >= 1))
        .select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.expr(pert).alias("text"),
        )
    )
    return base.unionByName(clones)


def image_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming near-duplicate image pairs over a
    perturbed-clone corpus (operators/imagehash.py
    image_neardup_pairs): 25 planted one-pixel-perturbed clones per
    500 docs, every one within the d<=3 pigeonhole recall
    guarantee."""
    hashes = ih.image_phash(_phash_corpus(_docs(spark, sf_dir)))
    return ih.image_neardup_pairs(hashes)


def _sql_phash_clone_select(offset: int, sample_i: int) -> str:
    """One clone arm of the perturbed corpus: payloads of every 20th
    doc with the pixel at sample index `sample_i` replaced by a
    far-away code point (<= 2 dHash bits — inside the pigeonhole
    guarantee)."""
    p = ih.pixel_pos(sample_i).format(t="text").replace(" div ", " // ")
    return (
        f"SELECT doc_id + {offset}, "
        f"substr(text, 1, ({p}) - 1) "
        f"|| (CASE WHEN unicode(substr(text, {p}, 1)) > 60 "
        "THEN chr(1) ELSE chr(120) END) "
        f"|| substr(text, ({p}) + 1) "
        "FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 1"
    )


def _sql_phash_pair_ctes(corpus_sql: str) -> str:
    """The px -> bands -> banded-bucket-join -> Hamming CTE chain over
    any `corpus_sql` (must yield (doc_id, text)); final CTE `d` holds
    (a_id, b_id, hamming) BEFORE the distance filter."""
    return f"""corpus AS ({corpus_sql}),
px AS (SELECT doc_id, {_sql_px_cols()} FROM corpus),
h AS (SELECT doc_id, {sql_band_cols()} FROM px),
unp AS (SELECT doc_id, b0, b1, b2, b3, u.j AS band_idx,
               CASE u.j WHEN 0 THEN b0 WHEN 1 THEN b1
                        WHEN 2 THEN b2 ELSE b3 END AS band_val
        FROM h, (SELECT unnest([0, 1, 2, 3]) AS j) u),
sized AS (SELECT *, count(*) OVER (PARTITION BY band_idx, band_val)
                 AS sz FROM unp),
keptb AS (SELECT * FROM sized WHERE sz <= {ih.MAX_BUCKET}),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
                b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
         FROM keptb a JOIN keptb b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          AND a.doc_id < b.doc_id),
d AS (SELECT a_id, b_id,
             CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
                  + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3))
                  AS INTEGER) AS hamming
      FROM cand)"""


_SQL_PHASH_CORPUS_1CLONE = (
    "SELECT doc_id, text FROM documents WHERE length(text) >= 1 "
    "UNION ALL " + _sql_phash_clone_select(1_000_000, 20)
)

SQL_IMAGE_NEARDUP_PAIRS = (
    "WITH "
    + _sql_phash_pair_ctes(_SQL_PHASH_CORPUS_1CLONE)
    + " SELECT a_id, b_id, hamming FROM d WHERE hamming <= 3"
)


def similarity_join_embedding_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-bucketed similarity JOIN between the base embedding
    corpus and a clone-perturbed second corpus (operators/simsearch.py
    similarity_join) — semantic decontamination's shape: every 10th
    vector reappears with dimension 1 shifted by +0.001 (50 planted
    cross-corpus matches per 500 vectors; the synthetic background is
    near-orthogonal, max pair cosine ~0.51, so the planted matches
    are exactly the >= 0.92 hits). Shares the base-table Lloyd fit
    (_km_cents), mirrored CTE-for-CTE in the oracle."""
    emb = _emb(spark, sf_dir)
    e = F.col("embedding")
    left = emb.select(
        "vec_id",
        F.transform(e, lambda x: x.cast("double")).alias("embedding"),
    )
    right = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(2_000_000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1).cast("double") + F.lit(0.001)),
            F.transform(
                F.slice(e, 2, ss.DIM - 1), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    return ss.similarity_join(
        left, right, cents=_km_cents(spark, sf_dir)
    )


SQL_SIMILARITY_JOIN_EMBEDDING = (
    "WITH "
    + _km_cent_ctes()
    + ", lefte AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
    "FROM embeddings), "
    "righte AS (SELECT vec_id + 2000000 AS vec_id, "
    "[CAST(embedding[1] AS DOUBLE) + 0.001] || "
    "list_transform(embedding[2:], x -> CAST(x AS DOUBLE)) AS embedding "
    "FROM embeddings WHERE vec_id % 10 = 0), "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "la", src="lefte")
    + ", "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "ra", src="righte")
    # cos projected once (no CSE across predicate and projection)
    + ", pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
    "a.centroid_id, "
    f"{_cos_sql('a.embedding', 'b.embedding')} AS cos "
    "FROM la a JOIN ra b USING (centroid_id)) "
    "SELECT a_id, b_id, centroid_id, cos FROM pairs WHERE cos >= 0.92"
)


def quality_model_score_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """fastText-architecture hashed-ngram quality score
    (operators/curation.py quality_model_score): tokens + bigrams ->
    md5 feature buckets -> broadcast weight relation -> mean-pooled
    logistic score; keep decision exact-integer."""
    return quality_model_score(_docs(spark, sf_dir))


SQL_QUALITY_MODEL_SCORE = f"""
WITH w AS (SELECT CAST(b AS BIGINT) AS bucket,
       CAST((CAST('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15)
                 AS BIGINT) % 1001) - 500 AS BIGINT) AS w
     FROM range({QM_BUCKETS}) t(b)),
tl AS (SELECT doc_id,
       list_filter(regexp_split_to_array(lower(text), '{SQL_DELIM}'),
                   x -> x <> '') AS l
       FROM documents),
grams AS (SELECT doc_id, u.g
          FROM tl, UNNEST(l || list_transform(range(1, len(l)),
                   i -> l[i] || '_' || l[i + 1])) AS u(g)),
hit AS (SELECT doc_id,
        CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
          % {QM_BUCKETS} AS bucket
        FROM grams),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(w.w) AS BIGINT) AS s
        FROM hit JOIN w USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_grams,
  1.0 / (1.0 + exp(-(({QM_BIAS_MILLI}.0
        + CAST(s AS DOUBLE) / CAST(n_grams AS DOUBLE)) / 1000.0)))
    AS quality_model_score,
  ({QM_BIAS_MILLI} * n_grams + s) >= 0 AS keep
FROM per
"""


EXTENSION_QUERIES.update(
    {
        # round-9 additions — promoted into the round-9 certification
        # window (same-round promotion per plans/registry.py protocol)
        "image_phash": (image_phash_q, SQL_IMAGE_PHASH),
        "image_neardup_pairs": (
            image_neardup_pairs_q,
            SQL_IMAGE_NEARDUP_PAIRS,
        ),
        "similarity_join_embedding": (
            similarity_join_embedding_q,
            SQL_SIMILARITY_JOIN_EMBEDDING,
        ),
        "quality_model_score": (
            quality_model_score_q,
            SQL_QUALITY_MODEL_SCORE,
        ),
    }
)


# --- round-9 second batch: image dedup components, ranked similarity
# join, streaming learned filter ------------------------------------------


def _phash_corpus2(docs: DataFrame) -> DataFrame:
    """Base docs + TWO perturbed clones of every 20th doc (different
    sampled pixels) — each clone is <= 2 bits from its base, the two
    clones may sit up to 4 bits APART (beyond max_dist), so the
    3-member group is recovered only through the base: the
    transitivity the components pass exists to provide."""
    base = docs.select("doc_id", "text")
    arms = [base]
    for offset, sample_i in ((1_000_000, 20), (2_000_000, 30)):
        p = ih.pixel_pos(sample_i).format(t="text")
        pert = (
            f"concat(substring(text, 1, ({p}) - 1), "
            f"CASE WHEN ascii(substring(text, {p}, 1)) > 60 "
            "THEN char(1) ELSE char(120) END, "
            f"substring(text, ({p}) + 1))"
        )
        arms.append(
            docs.filter(
                (F.col("doc_id") % 20 == 0) & (F.length("text") >= 1)
            ).select(
                (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
                F.expr(pert).alias("text"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def image_dedup_components_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components over the image near-dup pair graph — the
    pairs -> components -> survivors pipeline the text dedup tier
    runs, applied to perceptual hashes (operators/dedup.py
    components_over_pairs; the identical label-propagation core).
    Corpus plants 3-member clone groups whose two clones connect only
    THROUGH the base (transitivity). Returns
    (doc_id, component_id, is_kept) for docs in the pair graph."""
    from ..operators.dedup import components_over_pairs

    pairs = ih.image_neardup_pairs(
        ih.image_phash(_phash_corpus2(_docs(spark, sf_dir)))
    ).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    comps = components_over_pairs(pairs)
    return comps.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_kept"),
    )


_SQL_PHASH_CORPUS_2CLONE = (
    "SELECT doc_id, text FROM documents WHERE length(text) >= 1 "
    "UNION ALL "
    + _sql_phash_clone_select(1_000_000, 20)
    + " UNION ALL "
    + _sql_phash_clone_select(2_000_000, 30)
)

SQL_IMAGE_DEDUP_COMPONENTS = (
    "WITH RECURSIVE "
    + _sql_phash_pair_ctes(_SQL_PHASH_CORPUS_2CLONE)
    + ", pr AS (SELECT a_id, b_id FROM d WHERE hamming <= 3), "
    "edges AS (SELECT a_id AS src, b_id AS dst FROM pr "
    "UNION SELECT b_id, a_id FROM pr), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) "
    "SELECT src AS doc_id, least(src, min(dst)) AS component_id, "
    "least(src, min(dst)) = src AS is_kept "
    "FROM reach GROUP BY src"
)


def similarity_join_topk_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ranked variant of the embedding similarity join
    (operators/simsearch.py similarity_join_topk): per clone-corpus
    item, the top-3 nearest base items within its cell — planted
    truth: rank 1 is always the clone's own base vector."""
    emb = _emb(spark, sf_dir)
    e = F.col("embedding")
    left = emb.select(
        "vec_id",
        F.transform(e, lambda x: x.cast("double")).alias("embedding"),
    )
    right = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(2_000_000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1).cast("double") + F.lit(0.001)),
            F.transform(
                F.slice(e, 2, ss.DIM - 1), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    return ss.similarity_join_topk(
        left, right, cents=_km_cents(spark, sf_dir), k=3
    )


SQL_SIMILARITY_JOIN_TOPK = (
    "WITH "
    + _km_cent_ctes()
    + ", lefte AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
    "FROM embeddings), "
    "righte AS (SELECT vec_id + 2000000 AS vec_id, "
    "[CAST(embedding[1] AS DOUBLE) + 0.001] || "
    "list_transform(embedding[2:], x -> CAST(x AS DOUBLE)) AS embedding "
    "FROM embeddings WHERE vec_id % 10 = 0), "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "la", src="lefte")
    + ", "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "ra", src="righte")
    + ", pairs AS (SELECT b.vec_id AS b_id, a.vec_id AS a_id, "
    f"{_cos_sql('a.embedding', 'b.embedding')} AS cos "
    "FROM la a JOIN ra b USING (centroid_id)), "
    "r AS (SELECT b_id, a_id, cos, CAST(row_number() OVER ("
    "PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS INTEGER) AS rank "
    "FROM pairs) "
    "SELECT b_id, a_id, cos, rank FROM r WHERE rank <= 3"
)


EXTENSION_QUERIES.update(
    {
        # round-9 second batch — promoted into the round-9 window tail
        # is NOT possible (window already at 50): queued for round 10.
        "image_dedup_components": (
            image_dedup_components_q,
            SQL_IMAGE_DEDUP_COMPONENTS,
        ),
        "similarity_join_topk": (
            similarity_join_topk_q,
            SQL_SIMILARITY_JOIN_TOPK,
        ),
        "stream_quality_model": (
            quality_model_stream,
            SQL_QUALITY_MODEL_SCORE,
        ),
    }
)


# =========================================================================
# Round-10 additions: entity resolution (operators/linkage.py),
# shortlist-then-rerank similarity join, sketch-edged PSI drift
# =========================================================================

ER_FIXTURE_MOD = 7  # every 7th customer gets a typo'd clone


def _er_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER fixture over the customer dimension: the originals plus a
    deterministically 'dirty' clone of every 7th record (last name
    character dropped — Levenshtein distance exactly 1 from its
    source). Block key = (nationkey, name digits 1..8): the clone
    shares both with its source (chopping char 18 leaves chars 10..17
    intact), so every planted match is recoverable within one block,
    and two originals collide only when they share nation AND
    custkey-div-10 — realistic blocking selectivity."""
    cust = scan_parquet(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.substring("c_name", 10, 8).alias("blk"),
    )
    dirty = cust.filter(
        F.col("c_custkey") % ER_FIXTURE_MOD == 0
    ).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("rid"),
        F.substring("c_name", 1, 17).alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.substring("c_name", 10, 8).alias("blk"),
    )
    return base.unionByName(dirty)


def er_blocking_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity-resolution candidate pairs
    (operators/linkage.py blocking_pairs): records sharing the block
    key whose normalized names are within Levenshtein distance 1 —
    the match predicate is integer-exact and native in BOTH engines,
    so the oracle certifies every pair and every distance."""
    from ..operators.linkage import blocking_pairs

    return blocking_pairs(
        _er_records(spark, sf_dir),
        "rid",
        "name",
        ["nation", "blk"],
        max_edit=1,
    )


_SQL_ER_RECS = (
    "recs AS ("
    "SELECT c_custkey AS rid, lower(trim(c_name)) AS nm, "
    "c_name AS name, "
    "c_nationkey AS nation, substring(c_name, 10, 8) AS blk "
    "FROM customer "
    "UNION ALL "
    "SELECT c_custkey + 10000000, "
    "lower(trim(substring(c_name, 1, 17))), "
    "substring(c_name, 1, 17), c_nationkey, "
    "substring(c_name, 10, 8) "
    f"FROM customer WHERE c_custkey % {ER_FIXTURE_MOD} = 0)"
)

_SQL_ER_PAIRS = (
    "pr AS (SELECT a.rid AS id_a, b.rid AS id_b, "
    "CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist "
    "FROM recs a JOIN recs b "
    "ON a.nation = b.nation AND a.blk = b.blk AND a.rid < b.rid "
    "WHERE levenshtein(a.nm, b.nm) <= 1)"
)

SQL_ER_BLOCKING_PAIRS = (
    "WITH " + _SQL_ER_RECS + ", " + _SQL_ER_PAIRS
    + " SELECT id_a, id_b, dist FROM pr"
)


def er_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity clusters over the blocked match graph
    (operators/linkage.py match_clusters): min-label propagation, and
    — with records supplied — a TOTAL map (singletons cluster to
    themselves), so the output canonicalizes the whole dimension."""
    from ..operators.linkage import blocking_pairs, match_clusters

    recs = _er_records(spark, sf_dir)
    pairs = blocking_pairs(
        recs, "rid", "name", ["nation", "blk"], max_edit=1
    )
    return match_clusters(pairs, records=recs, id_col="rid")


SQL_ER_CLUSTERS = (
    "WITH RECURSIVE " + _SQL_ER_RECS + ", " + _SQL_ER_PAIRS + ", "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pr "
    "UNION SELECT id_b, id_a FROM pr), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e "
    "ON r.dst = e.src), "
    "comp AS (SELECT src AS entity_id, "
    "least(src, min(dst)) AS cluster_id FROM reach GROUP BY src) "
    "SELECT entity_id, cluster_id FROM comp "
    "UNION ALL "
    "SELECT rid, rid FROM recs "
    "WHERE rid NOT IN (SELECT entity_id FROM comp)"
)


def _wdot_sql(a: str, b: str, dim: int = ss.DIM) -> str:
    """Weighted dot with the shared (w*x)*y left-association."""
    return " + ".join(
        f"{ss.RERANK_WEIGHTS[i - 1]!r} * CAST({a}[{i}] AS DOUBLE) "
        f"* CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )


def _wcos_sql(a: str, b: str) -> str:
    return (
        f"({_wdot_sql(a, b)}) / "
        f"(sqrt({_wdot_sql(a, a)}) * sqrt({_wdot_sql(b, b)}))"
    )


def similarity_join_reranked_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shortlist-then-rerank similarity join (operators/simsearch.py
    similarity_join_reranked): the similarity_join_topk candidate
    structure shortlists 10 per right item by raw cosine, then a
    dimension-weighted cosine re-ranks the shortlist — the two-stage
    retrieval composition, zero extra exchanges."""
    emb = _emb(spark, sf_dir)
    e = F.col("embedding")
    left = emb.select(
        "vec_id",
        F.transform(e, lambda x: x.cast("double")).alias("embedding"),
    )
    right = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(2_000_000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1).cast("double") + F.lit(0.001)),
            F.transform(
                F.slice(e, 2, ss.DIM - 1), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    return ss.similarity_join_reranked(
        left, right, cents=_km_cents(spark, sf_dir), k=3, shortlist=10
    )


SQL_SIMILARITY_JOIN_RERANKED = (
    "WITH "
    + _km_cent_ctes()
    + ", lefte AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
    "FROM embeddings), "
    "righte AS (SELECT vec_id + 2000000 AS vec_id, "
    "[CAST(embedding[1] AS DOUBLE) + 0.001] || "
    "list_transform(embedding[2:], x -> CAST(x AS DOUBLE)) AS embedding "
    "FROM embeddings WHERE vec_id % 10 = 0), "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "la", src="lefte")
    + ", "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "ra", src="righte")
    + ", pairs AS (SELECT b.vec_id AS b_id, a.vec_id AS a_id, "
    f"{_cos_sql('a.embedding', 'b.embedding')} AS cos, "
    "a.embedding AS ea, b.embedding AS eb "
    "FROM la a JOIN ra b USING (centroid_id)), "
    "s AS (SELECT b_id, a_id, cos, ea, eb, row_number() OVER ("
    "PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS srn FROM pairs), "
    "sh AS (SELECT b_id, a_id, cos, "
    f"{_wcos_sql('ea', 'eb')} AS wcos FROM s WHERE srn <= 10), "
    "r AS (SELECT b_id, a_id, cos, wcos, CAST(row_number() OVER ("
    "PARTITION BY b_id ORDER BY wcos DESC, a_id ASC) AS INTEGER) AS rank "
    "FROM sh) "
    "SELECT b_id, a_id, cos, wcos, rank FROM r WHERE rank <= 3"
)


def dq_drift_psi_sketch_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PSI drift with sketch-derived reference-quantile bin edges
    (operators/warehouse.py dq_drift_psi_sketch) — the classical PSI
    binning in its mergeable one-pass form."""
    from ..operators.warehouse import dq_drift_psi_sketch

    return dq_drift_psi_sketch(_events(spark, sf_dir))


def _sql_dq_drift_psi_sketch(buckets: int = 10, k: int = 256) -> str:
    """DuckDB twin of dq_drift_psi_sketch: same md5 bottom-k kept set
    over the reference half, same ((m-1)*j) div B edge rule, bucket =
    count of edges <= c, and the identical bucket-ordered PSI fold as
    _sql_dq_drift_psi."""
    bb = int(buckets)
    edge_cols = ", ".join(
        f"max(CASE WHEN rn - 1 = ((m - 1) * {j}) // {bb} "
        f"THEN c END) AS e{j}"
        for j in range(1, bb)
    )
    bucket_expr = " + ".join(
        f"(CASE WHEN s.c >= ed.e{j} THEN 1 ELSE 0 END)"
        for j in range(1, bb)
    )
    rsum = ", ".join(
        f"CAST(sum(CASE WHEN side = 0 AND bucket = {i} THEN cnt "
        f"ELSE 0 END) AS BIGINT) AS r{i}"
        for i in range(bb)
    )
    csum = ", ".join(
        f"CAST(sum(CASE WHEN side = 1 AND bucket = {i} THEN cnt "
        f"ELSE 0 END) AS BIGINT) AS c{i}"
        for i in range(bb)
    )

    def share(col: str, n: str) -> str:
        return (
            f"((CAST({col} AS DOUBLE) + 1.0) / "
            f"(CAST({n} AS DOUBLE) + {float(bb)}))"
        )

    terms = " + ".join(
        f"(({share(f'r{i}', 'n_ref')}) - ({share(f'c{i}', 'n_cur')})) "
        f"* ln(({share(f'r{i}', 'n_ref')}) / ({share(f'c{i}', 'n_cur')}))"
        for i in range(bb)
    )
    return f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS c,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events),
md AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
sd AS (SELECT event_type, c, h,
              CASE WHEN us < md.mid THEN 0 ELSE 1 END AS side
       FROM e, md),
kept AS (SELECT event_type, c, h FROM (
   SELECT event_type, c, h, row_number() OVER (
     PARTITION BY event_type ORDER BY h, c) AS rn
   FROM sd WHERE side = 0 AND h IS NOT NULL)
   WHERE rn <= {int(k)}),
ed AS (SELECT event_type, {edge_cols} FROM (
   SELECT event_type, c, row_number() OVER (
     PARTITION BY event_type ORDER BY c, h) AS rn,
     count(*) OVER (PARTITION BY event_type) AS m
   FROM kept) GROUP BY event_type),
bk AS (SELECT s.event_type, s.side, {bucket_expr} AS bucket
       FROM sd s JOIN ed USING (event_type)),
ct AS (SELECT event_type, side, bucket,
              CAST(count(*) AS BIGINT) AS cnt
       FROM bk GROUP BY 1, 2, 3),
pv AS (SELECT event_type,
         CAST(sum(CASE WHEN side = 0 THEN cnt ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(sum(CASE WHEN side = 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS n_cur,
         {rsum}, {csum}
       FROM ct GROUP BY event_type)
SELECT event_type, 0.0 + {terms} AS psi, n_ref, n_cur
FROM pv
WHERE n_ref > 0
"""


SQL_DQ_DRIFT_PSI_SKETCH = _sql_dq_drift_psi_sketch()


EXTENSION_QUERIES.update(
    {
        # round-10 additions — promoted into the round-10 window
        "er_blocking_pairs": (
            er_blocking_pairs_q,
            SQL_ER_BLOCKING_PAIRS,
        ),
        "er_clusters": (er_clusters_q, SQL_ER_CLUSTERS),
        "similarity_join_reranked": (
            similarity_join_reranked_q,
            SQL_SIMILARITY_JOIN_RERANKED,
        ),
        "dq_drift_psi_sketch": (
            dq_drift_psi_sketch_q,
            SQL_DQ_DRIFT_PSI_SKETCH,
        ),
    }
)


# --- round-10 second batch: survivorship, hybrid retrieval fusion,
# streaming ER ingest screen -----------------------------------------------


def er_survivorship_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record selection over the ER cluster map
    (operators/linkage.py survivorship): per cluster the most
    complete record survives (longest raw name, ties by min id) —
    the merge/purge canonicalization step, total over the
    dimension."""
    from ..operators.linkage import (
        blocking_pairs,
        match_clusters,
        survivorship,
    )

    recs = _er_records(spark, sf_dir)
    pairs = blocking_pairs(
        recs, "rid", "name", ["nation", "blk"], max_edit=1
    )
    clusters = match_clusters(pairs, records=recs, id_col="rid")
    return survivorship(recs, clusters, id_col="rid", name_col="name")


SQL_ER_SURVIVORSHIP = (
    "WITH RECURSIVE " + _SQL_ER_RECS + ", " + _SQL_ER_PAIRS + ", "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pr "
    "UNION SELECT id_b, id_a FROM pr), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e "
    "ON r.dst = e.src), "
    "comp AS (SELECT src AS entity_id, "
    "least(src, min(dst)) AS cluster_id FROM reach GROUP BY src), "
    "cl AS (SELECT entity_id, cluster_id FROM comp "
    "UNION ALL SELECT rid, rid FROM recs "
    "WHERE rid NOT IN (SELECT entity_id FROM comp)), "
    "j AS (SELECT cl.cluster_id, cl.entity_id, r.name FROM cl "
    "JOIN recs r ON r.rid = cl.entity_id), "
    "w AS (SELECT cluster_id, entity_id, name, "
    "row_number() OVER (PARTITION BY cluster_id "
    "ORDER BY length(name) DESC, entity_id ASC) AS rn, "
    "count(*) OVER (PARTITION BY cluster_id) AS nm FROM j) "
    "SELECT cluster_id, entity_id AS canonical_id, "
    "name AS canonical_name, CAST(nm AS BIGINT) AS n_members "
    "FROM w WHERE rn = 1"
)


RRF_K_CONST = 60
RRF_TIER_N = 50
RRF_TERMS = ["vector", "merge", "stream"]


def hybrid_search_rrf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion
    (operators/topk.py rrf_fuse): the lexical tier's top-50 by summed
    BM25 for the fixed query terms fused with the vector tier's
    top-50 by cosine to query vector 0 (documents and embeddings
    share the id space) — the standard two-tower serving shape, each
    tier cut by its own bounded top-N before fusion."""
    from pyspark.sql import Window

    from ..operators.topk import rrf_fuse

    lex = tx.bm25_topk(
        _docs(spark, sf_dir), RRF_TERMS, k=RRF_TIER_N
    )
    # Unpartitioned rank window is BOUNDED: `lex` is bm25_topk's
    # output, already cut to <= RRF_TIER_N rows, never a corpus.
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_r = lex.withColumn("rank", F.row_number().over(wl)).select(
        "doc_id", "rank"
    )
    vec_r = ss.cosine_topk(
        _emb(spark, sf_dir), n_queries=1, k=RRF_TIER_N
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    fused = rrf_fuse(
        lex_r, vec_r, id_col="doc_id", k_const=RRF_K_CONST, k=10
    )
    return fused.select(
        "doc_id",
        F.col("a_rank").alias("lex_rank"),
        F.col("b_rank").alias("vec_rank"),
        "rrf",
        "rank",
    )


def _sql_hybrid_rrf() -> str:
    terms = RRF_TERMS
    pivots = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN bm25 END) AS s{i}"
        for i, t in enumerate(terms)
    )
    ssum = " + ".join(f"coalesce(s{i}, 0.0)" for i in range(len(terms)))
    inlist = ", ".join(f"'{t}'" for t in terms)
    kc = float(RRF_K_CONST)
    return (
        "WITH " + _BM25_CTES + ", "
        f"q AS (SELECT doc_id, {pivots} FROM sc "
        f"WHERE term IN ({inlist}) GROUP BY doc_id), "
        f"lexq AS (SELECT doc_id, {ssum} AS score FROM q "
        f"ORDER BY score DESC, doc_id LIMIT {RRF_TIER_N}), "
        "lex AS (SELECT doc_id, CAST(row_number() OVER ("
        "ORDER BY score DESC, doc_id ASC) AS INTEGER) AS lex_rank "
        "FROM lexq), "
        "qv AS (SELECT embedding AS q_emb FROM embeddings "
        "WHERE vec_id = 0), "
        "vs AS (SELECT e.vec_id AS doc_id, "
        f"{_cos_sql('e.embedding', 'q_emb')} AS cos "
        "FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0), "
        "vecr AS (SELECT doc_id, CAST(row_number() OVER ("
        "ORDER BY cos DESC, doc_id ASC) AS INTEGER) AS vec_rank "
        "FROM vs), "
        f"vec AS (SELECT * FROM vecr WHERE vec_rank <= {RRF_TIER_N}), "
        "f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, "
        "l.lex_rank, v.vec_rank, "
        f"(CASE WHEN l.lex_rank IS NOT NULL THEN 1.0 / ({kc!r} "
        "+ CAST(l.lex_rank AS DOUBLE)) ELSE 0.0 END) "
        f"+ (CASE WHEN v.vec_rank IS NOT NULL THEN 1.0 / ({kc!r} "
        "+ CAST(v.vec_rank AS DOUBLE)) ELSE 0.0 END) AS rrf "
        "FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id), "
        "r AS (SELECT doc_id, lex_rank, vec_rank, rrf, "
        "CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) "
        "AS INTEGER) AS rank FROM f) "
        "SELECT doc_id, lex_rank, vec_rank, rrf, rank FROM r "
        "WHERE rank <= 10"
    )


SQL_HYBRID_SEARCH_RRF = _sql_hybrid_rrf()


SQL_STREAM_ER_SCREEN = (
    "WITH n AS (SELECT c_custkey + 10000000 AS new_id, "
    "lower(trim(substring(c_name, 1, 17))) AS nm, "
    "c_nationkey AS nation, substring(c_name, 10, 8) AS blk "
    f"FROM customer WHERE c_custkey % {ER_FIXTURE_MOD} = 0), "
    "s AS (SELECT c_custkey AS matched_id, "
    "lower(trim(c_name)) AS m_nm, c_nationkey AS nation, "
    "substring(c_name, 10, 8) AS blk FROM customer) "
    "SELECT new_id, matched_id, "
    "CAST(levenshtein(nm, m_nm) AS BIGINT) AS dist "
    "FROM n JOIN s USING (nation, blk) "
    "WHERE levenshtein(nm, m_nm) <= 1"
)


EXTENSION_QUERIES.update(
    {
        # round-10 second batch — queued for the round-11 window
        # (the round-10 window is already at 50)
        "er_survivorship": (er_survivorship_q, SQL_ER_SURVIVORSHIP),
        "hybrid_search_rrf": (
            hybrid_search_rrf_q,
            SQL_HYBRID_SEARCH_RRF,
        ),
        "stream_er_screen": (er_screen_stream, SQL_STREAM_ER_SCREEN),
    }
)


# --- round-10 third batch: scalar-quantized search, multi-pass
# blocking, Fellegi-Sunter match scoring ------------------------------------


def simsearch_sq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization search (operators/simsearch.py sq_topk):
    int8 index, exact-integer quantized-dot shortlist, full-precision
    cosine re-rank — the third compression rung beside PQ/IVFPQ."""
    return ss.sq_topk(_emb(spark, sf_dir), n_queries=8, k=5, shortlist=20)


def _int8_dot_sql(a: str, b: str, dim: int = ss.DIM) -> str:
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1))


SQL_SIMSEARCH_SQ_TOPK = (
    "WITH q8 AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(greatest(-127, least(127, round(CAST(x AS DOUBLE) * 127)))"
    " AS BIGINT)) AS q FROM embeddings), "
    "qq AS (SELECT vec_id AS query_id, q AS qv FROM q8 WHERE vec_id < 8), "
    "adc AS (SELECT query_id, e.vec_id, "
    f"{_int8_dot_sql('e.q', 'qq.qv')} AS adc "
    "FROM q8 e CROSS JOIN qq WHERE e.vec_id <> qq.query_id), "
    "cand AS (SELECT query_id, vec_id FROM ("
    "SELECT query_id, vec_id, row_number() OVER ("
    "PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS rn "
    "FROM adc) WHERE rn <= 20), "
    "qb AS (SELECT vec_id AS query_id, embedding AS q_emb "
    "FROM embeddings WHERE vec_id < 8), "
    "resc AS (SELECT c.query_id, c.vec_id, "
    f"{_cos_sql('e.embedding', 'qb.q_emb')} AS cos "
    "FROM cand c JOIN embeddings e USING (vec_id) "
    "JOIN qb USING (query_id)), "
    "r AS (SELECT query_id, vec_id, cos, CAST(row_number() OVER ("
    "PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) "
    "AS rank FROM resc) "
    "SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5"
)


ER_FIXTURE_MOD_B = 11  # every 11th customer gets a prefix-corrupted clone


def _er_records2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-clone-type ER fixture for multi-pass blocking: clone A
    (every 7th record, last char dropped) keeps the PREFIX block key
    (name digits 1-8) but breaks the SUFFIX key (digits 3-9 — one
    char short); clone B (every 11th record, first key digit
    replaced by 'x') breaks the prefix key but keeps the suffix key.
    Each pass alone misses one clone type; the union catches both —
    the merge/purge multi-pass recall argument as a fixture."""
    cust = scan_parquet(spark, sf_dir, "customer")

    def rec(idc, namec):
        return [
            idc.alias("rid"),
            namec.alias("name"),
            F.col("c_nationkey").alias("nation"),
            F.substring(namec, 10, 8).alias("blk_p"),
            F.substring(namec, 12, 7).alias("blk_s"),
        ]

    base = cust.select(*rec(F.col("c_custkey"), F.col("c_name")))
    clone_a = cust.filter(
        F.col("c_custkey") % ER_FIXTURE_MOD == 0
    ).select(
        *rec(
            F.col("c_custkey") + F.lit(10_000_000),
            F.substring("c_name", 1, 17),
        )
    )
    clone_b = cust.filter(
        F.col("c_custkey") % ER_FIXTURE_MOD_B == 0
    ).select(
        *rec(
            F.col("c_custkey") + F.lit(20_000_000),
            F.concat(
                F.substring("c_name", 1, 9),
                F.lit("x"),
                F.substring("c_name", 11, 8),
            ),
        )
    )
    return base.unionByName(clone_a).unionByName(clone_b)


def er_blocking_multipass_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-pass blocked candidates (operators/linkage.py
    blocking_pairs_multipass): prefix-key pass ∪ suffix-key pass,
    deduplicated — each planted clone type is recoverable by exactly
    one pass."""
    from ..operators.linkage import blocking_pairs_multipass

    return blocking_pairs_multipass(
        _er_records2(spark, sf_dir),
        "rid",
        "name",
        [["nation", "blk_p"], ["nation", "blk_s"]],
        max_edit=1,
    )


_SQL_ER_RECS2 = (
    "recs AS ("
    "SELECT c_custkey AS rid, lower(trim(c_name)) AS nm, "
    "c_nationkey AS nation, "
    "substring(c_name, 10, 8) AS blk_p, "
    "substring(c_name, 12, 7) AS blk_s "
    "FROM customer "
    "UNION ALL "
    "SELECT c_custkey + 10000000, "
    "lower(trim(substring(c_name, 1, 17))), c_nationkey, "
    "substring(c_name, 10, 8), substring(c_name, 12, 6) "
    f"FROM customer WHERE c_custkey % {ER_FIXTURE_MOD} = 0 "
    "UNION ALL "
    "SELECT c_custkey + 20000000, "
    "lower(trim(substring(c_name, 1, 9) || 'x' "
    "|| substring(c_name, 11, 8))), c_nationkey, "
    "'x' || substring(c_name, 11, 7), "
    "substring(c_name, 12, 7) "
    f"FROM customer WHERE c_custkey % {ER_FIXTURE_MOD_B} = 0)"
)

SQL_ER_BLOCKING_MULTIPASS = (
    "WITH " + _SQL_ER_RECS2 + ", "
    "p1 AS (SELECT a.rid AS id_a, b.rid AS id_b, "
    "CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist "
    "FROM recs a JOIN recs b ON a.nation = b.nation "
    "AND a.blk_p = b.blk_p AND a.rid < b.rid "
    "WHERE levenshtein(a.nm, b.nm) <= 1), "
    "p2 AS (SELECT a.rid AS id_a, b.rid AS id_b, "
    "CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist "
    "FROM recs a JOIN recs b ON a.nation = b.nation "
    "AND a.blk_s = b.blk_s AND a.rid < b.rid "
    "WHERE levenshtein(a.nm, b.nm) <= 1), "
    "u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2) "
    "SELECT id_a, id_b, CAST(min(dist) AS BIGINT) AS dist, "
    "CAST(count(*) AS BIGINT) AS n_passes "
    "FROM u GROUP BY id_a, id_b"
)


def er_match_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-shaped match scoring (operators/linkage.py
    match_scores): integer agreement weights over blocked pairs,
    three-way match/possible/non_match decision."""
    from ..operators.linkage import match_scores

    return match_scores(
        _er_records(spark, sf_dir),
        "rid",
        "name",
        ["nation", "blk"],
        max_edit=2,
    )


SQL_ER_MATCH_SCORES = (
    "WITH " + _SQL_ER_RECS + ", "
    "pr AS (SELECT a.rid AS id_a, b.rid AS id_b, "
    "CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist, "
    "substring(a.nm, -1, 1) = substring(b.nm, -1, 1) AS sfx "
    "FROM recs a JOIN recs b "
    "ON a.nation = b.nation AND a.blk = b.blk AND a.rid < b.rid "
    "WHERE levenshtein(a.nm, b.nm) <= 2), "
    "sc AS (SELECT id_a, id_b, dist, "
    "CAST((3 - dist) * 300 "
    "+ (CASE WHEN sfx THEN 100 ELSE 0 END) AS BIGINT) AS score "
    "FROM pr) "
    "SELECT id_a, id_b, dist, score, "
    "CASE WHEN score >= 700 THEN 'match' "
    "WHEN score >= 400 THEN 'possible' "
    "ELSE 'non_match' END AS decision "
    "FROM sc"
)


EXTENSION_QUERIES.update(
    {
        # round-10 third batch — queued for the round-11 window
        "simsearch_sq_topk": (
            simsearch_sq_topk_q,
            SQL_SIMSEARCH_SQ_TOPK,
        ),
        "er_blocking_multipass": (
            er_blocking_multipass_q,
            SQL_ER_BLOCKING_MULTIPASS,
        ),
        "er_match_scores": (er_match_scores_q, SQL_ER_MATCH_SCORES),
    }
)


# --- round-10 fourth batch: BPE corpus encode, robust MAD anomaly
# screen, shingle containment ------------------------------------------------


def bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the learned 6-merge BPE
    vocabulary (operators/textstats.py bpe_encode) — the ENCODE rung
    that completes the BPE ladder; fertility = subwords per word."""
    return tx.bpe_encode(_docs(spark, sf_dir))


def _sql_bpe_encode(n_merges: int = 6) -> str:
    sel = f"""enc AS (SELECT word,
         CAST(len(string_split(trim(syms), '  ')) AS BIGINT) AS n_sub
       FROM v{n_merges}),
dw AS (SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS word
       FROM documents),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
        FROM dw JOIN enc USING (word) GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(per.n_words, 0) AS n_words,
  coalesce(per.n_bpe_tokens, 0) AS n_bpe_tokens,
  CASE WHEN per.n_words > 0
       THEN CAST(per.n_bpe_tokens AS DOUBLE) / CAST(per.n_words AS DOUBLE)
  END AS fertility
FROM documents d LEFT JOIN per USING (doc_id)"""
    return "WITH " + ",\n".join(_bpe_ctes(n_merges)) + ",\n" + sel


SQL_BPE_ENCODE = _sql_bpe_encode()


def dq_anomaly_mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type MAD anomaly screen (operators/warehouse.py
    dq_anomaly_mad): flag events beyond 3 x 1.4826 x MAD from the
    per-type median — the exact-integer cross-multiplied decision."""
    from ..operators.warehouse import dq_anomaly_mad

    return dq_anomaly_mad(_events(spark, sf_dir))


SQL_DQ_ANOMALY_MAD = """
WITH e AS (
  SELECT event_type, event_id, value,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
mr AS (SELECT event_type, event_id, value, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY c)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
       FROM e),
med AS (SELECT event_type, CAST(max(c) AS BIGINT) AS med
        FROM mr WHERE rn - 1 = ((n - 1) * 50) // 100
        GROUP BY event_type),
dv AS (SELECT e.event_type, e.event_id, e.value, e.c,
              abs(e.c - med.med) AS d, med.med
       FROM e JOIN med USING (event_type)),
dr AS (SELECT event_type, d,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
       FROM dv),
mad AS (SELECT event_type, CAST(max(d) AS BIGINT) AS mad
        FROM dr WHERE rn - 1 = ((n - 1) * 50) // 100
        GROUP BY event_type)
SELECT dv.event_type, dv.event_id, dv.value,
       CAST(dv.med AS DOUBLE) / 100.0 AS median_value,
       CAST(mad.mad AS DOUBLE) / 100.0 AS mad_value
FROM dv JOIN mad USING (event_type)
WHERE dv.d * 10000 > mad.mad * 44478
"""


def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment + Jaccard for the LSH
    candidate pairs (operators/dedup.py ngram_containment) — the
    Broder containment measure substring-dedup filters on."""
    docs = _docs(spark, sf_dir)
    return dd.ngram_containment(docs, dd.minhash_candidate_pairs(docs))


SQL_DEDUP_CONTAINMENT = (
    "WITH " + _PAIR_CTES + ", "
    "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM sh GROUP BY doc_id), "
    "inter AS (SELECT p.doc_a, p.doc_b, "
    "CAST(count(*) AS BIGINT) AS n_inter "
    "FROM pairs p JOIN sh a ON a.doc_id = p.doc_a "
    "JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b) "
    "SELECT p.doc_a, p.doc_b, "
    "CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) "
    "AS containment_a, "
    "CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(sb.n_sh AS DOUBLE) "
    "AS containment_b, "
    "CAST(coalesce(i.n_inter, 0) AS DOUBLE) / "
    "CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) "
    "AS jaccard "
    "FROM pairs p "
    "LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b "
    "JOIN sz sa ON sa.doc_id = p.doc_a "
    "JOIN sz sb ON sb.doc_id = p.doc_b"
)


EXTENSION_QUERIES.update(
    {
        # round-10 fourth batch — queued for the round-11 window
        "bpe_encode": (bpe_encode_q, SQL_BPE_ENCODE),
        "dq_anomaly_mad": (dq_anomaly_mad_q, SQL_DQ_ANOMALY_MAD),
        "dedup_containment": (
            dedup_containment_q,
            SQL_DEDUP_CONTAINMENT,
        ),
    }
)


# =========================================================================
# Round-11 additions: real-pixel perceptual hash, exchange-based
# cross-corpus LSH join
# =========================================================================

from ..operators import multimodal as mm  # noqa: E402


def image_phash_decoded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash over REAL decoded pixels: per document, synthesize
    a real PNG (dimensions/color type/channel values are
    SQL-stateable functions of doc_id; scanline filters cycle all
    five types), then recover the grayscale grid through the
    pure-stdlib zlib-inflate + unfilter decoder and hash it
    (operators/imagehash.py image_phash_decoded). The oracle computes
    ground-truth pixels directly from the fixture formulas — it never
    sees the PNG bytes — so hash equality certifies the DECODER:
    any filter-undo, luma, CRC, or sampling defect breaks it."""
    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_png)
    return ih.image_phash_decoded(media)


# Ground-truth gray of synth_png_pixels: affine mod 256 in (id, row,
# col); the ctsel = 0 arm is color type 0 (grayscale), 1 and 2 are RGB
# and RGBA, whose integer BT.601 luma ignores alpha.
_SQL_PNG_GRAY = (
    "CASE WHEN ctsel = 0 "
    "THEN ({id}*7 + {pr}*13 + {pc}*31) % 256 "
    "ELSE (299*(({id}*5 + {pr}*11 + {pc}*17) % 256) "
    "+ 587*(({id}*3 + {pr}*7 + {pc}*19) % 256) "
    "+ 114*(({id}*13 + {pr}*3 + {pc}*23) % 256)) // 1000 "
    "END"
)


SQL_IMAGE_PHASH_DECODED = f"""
WITH dims AS (SELECT doc_id,
                     {mm.PNG_W_BASE} + doc_id % {mm.PNG_W_MOD} AS w,
                     {mm.PNG_H_BASE} + doc_id % {mm.PNG_H_MOD} AS h,
                     doc_id % 3 AS ctsel
              FROM documents),
px AS (SELECT doc_id, {sql_grid_px_cols(_SQL_PNG_GRAY)} FROM dims),
hh AS (SELECT doc_id, {sql_band_cols()} FROM px)
SELECT doc_id, b0, b1, b2, b3,
       {sql_phash_hex()} AS phash
FROM hh
"""


def similarity_join_minhash_shuffle_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exchange-based cross-corpus LSH similarity join — the
    corpus-vs-corpus regime (cross-source near-dup between two
    crawls) where the probe side is too large to broadcast: both band
    relations meet on a (band, key) hash exchange, each side's
    buckets independently capped at MAX_BUCKET before the join
    (operators/dedup.py lsh_similarity_join,
    broadcast_probe=False). Plan-asserted broadcast-free in
    tests/test_plans.py."""
    d = _docs(spark, sf_dir)
    return dd.lsh_similarity_join(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        broadcast_probe=False,
        max_bucket=dd.MAX_BUCKET,
    )


SQL_SIMILARITY_JOIN_MINHASH_SHUFFLE = (
    "WITH " + _minhash_band_ctes() + ", "
    "cb0 AS (SELECT * FROM bands WHERE doc_id % 10 <> 0), "
    "pb0 AS (SELECT * FROM bands WHERE doc_id % 10 = 0), "
    "cb AS (SELECT doc_id, band, key FROM ("
    "SELECT *, count(*) OVER (PARTITION BY band, key) AS sz FROM cb0"
    f") WHERE sz <= {dd.MAX_BUCKET}), "
    "pb AS (SELECT doc_id, band, key FROM ("
    "SELECT *, count(*) OVER (PARTITION BY band, key) AS sz FROM pb0"
    f") WHERE sz <= {dd.MAX_BUCKET}) "
    "SELECT c.doc_id AS corpus_doc, p.doc_id AS probe_doc, "
    "CAST(count(DISTINCT c.band) AS BIGINT) AS n_bands "
    "FROM cb c JOIN pb p ON c.band = p.band AND c.key = p.key "
    "GROUP BY c.doc_id, p.doc_id"
)


EXTENSION_QUERIES.update(
    {
        # round-11 first batch — in the round-11 certification window
        "image_phash_decoded": (
            image_phash_decoded_q,
            SQL_IMAGE_PHASH_DECODED,
        ),
        "similarity_join_minhash_shuffle": (
            similarity_join_minhash_shuffle_q,
            SQL_SIMILARITY_JOIN_MINHASH_SHUFFLE,
        ),
    }
)


def image_phash_gif_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash over REAL GIF-decoded pixels: per document a real
    LZW-compressed GIF (grayscale-ramp palette; odd doc ids
    interlaced) is synthesized, then the pixel grid is RECOVERED
    through the pure-Python variable-width LZW decoder + de-interlace
    and hashed (operators/imagehash.py image_phash_decoded — the
    format dispatch covers GIF). As with image_phash_decoded, the
    oracle computes ground-truth pixels from the index formula
    without ever seeing the GIF bytes, so hash equality certifies the
    LZW decoder, the interlace reorder, and the palette luma."""
    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_gif)
    return ih.image_phash_decoded(media)


# The grayscale-ramp palette makes luma(index) == index, so the GIF
# gray is synth_gif_pixels' index formula directly.
_SQL_GIF_GRAY = "({id}*11 + {pr}*17 + {pc}*7) % 256"


SQL_IMAGE_PHASH_GIF = f"""
WITH dims AS (SELECT doc_id,
                     {mm.PNG_W_BASE} + doc_id % {mm.PNG_W_MOD} AS w,
                     {mm.PNG_H_BASE} + doc_id % {mm.PNG_H_MOD} AS h
              FROM documents),
px AS (SELECT doc_id, {sql_grid_px_cols(_SQL_GIF_GRAY)} FROM dims),
hh AS (SELECT doc_id, {sql_band_cols()} FROM px)
SELECT doc_id, b0, b1, b2, b3,
       {sql_phash_hex()} AS phash
FROM hh
"""


EXTENSION_QUERIES.update(
    {
        # round-11 second batch — registry tail, queued for the
        # round-12 certification window (locally gated at all 3 SFs)
        "image_phash_gif": (image_phash_gif_q, SQL_IMAGE_PHASH_GIF),
    }
)


def image_phash_jpeg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash over REAL JPEG-decoded pixels. JPEG is lossy, so
    a formula-stated oracle is normally impossible — the fixture
    exploits the one exact case: images CONSTANT on each 8x8 block
    have DC-only spectra, the Annex K DC quantum (16) divides
    8*(v-128) for even offsets, and the IDCT of a DC-only block is
    exactly flat, so encode -> decode is BIT-EXACT while the decoder
    still runs its full real path (canonical Huffman scan decode,
    dequantization, IDCT, MCU-edge crop). The oracle states the
    block formula directly (operators/multimodal.py
    synth_jpeg_pixels); hash equality certifies the JPEG decoder."""
    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_jpeg)
    return ih.image_phash_decoded(media)


# synth_jpeg_pixels' blockwise-constant formula (bit-exact through
# the baseline JPEG round trip).
_SQL_JPEG_GRAY = "64 + 2 * (({id}*3 + ({pr} // 8)*5 + ({pc} // 8)*7) % 64)"


SQL_IMAGE_PHASH_JPEG = f"""
WITH dims AS (SELECT doc_id,
                     {mm.PNG_W_BASE} + doc_id % {mm.PNG_W_MOD} AS w,
                     {mm.PNG_H_BASE} + doc_id % {mm.PNG_H_MOD} AS h
              FROM documents),
px AS (SELECT doc_id, {sql_grid_px_cols(_SQL_JPEG_GRAY)} FROM dims),
hh AS (SELECT doc_id, {sql_band_cols()} FROM px)
SELECT doc_id, b0, b1, b2, b3,
       {sql_phash_hex()} AS phash
FROM hh
"""


EXTENSION_QUERIES.update(
    {
        # round-11 second batch (continued) — registry tail, queued
        # for the round-12 certification window
        "image_phash_jpeg": (image_phash_jpeg_q, SQL_IMAGE_PHASH_JPEG),
    }
)


def image_neardup_decoded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming near-duplicate pairs over REAL decoded pixels:
    every 20th document gains a clone that is a GRAYSCALE re-encode
    of its base image's decoded luma (the real-world near-dup shape —
    same content, different container/color type, different scanline
    filters) with ONE sampled grid pixel pushed far away (<= 2 dHash
    bits — inside the d<=3 pigeonhole recall guarantee). The whole
    ladder runs on decoded pixels: synth -> zlib decode -> grid ->
    dHash -> band join (operators/imagehash.py image_phash_decoded +
    image_neardup_pairs)."""
    ids = mm.clone_ids(_docs(spark, sf_dir))
    media = mm.synth_media(ids, mm.synth_png_clone)
    return ih.image_neardup_pairs(ih.image_phash_decoded(media))


_IMAGE_CLONE_PX = sql_grid_px_cols(_SQL_PNG_GRAY, "eid", "iscl")
SQL_IMAGE_NEARDUP_DECODED = f"""
WITH ids AS (SELECT doc_id FROM documents
             UNION ALL
             SELECT doc_id + {mm.PHASH_CLONE_OFFSET} FROM documents
             WHERE doc_id % 20 = 0),
dims AS (SELECT doc_id,
                CASE WHEN doc_id >= {mm.PHASH_CLONE_OFFSET}
                     THEN doc_id - {mm.PHASH_CLONE_OFFSET}
                     ELSE doc_id END AS eid,
                doc_id >= {mm.PHASH_CLONE_OFFSET} AS iscl
         FROM ids),
dims2 AS (SELECT doc_id, iscl, eid,
                 {mm.PNG_W_BASE} + eid % {mm.PNG_W_MOD} AS w,
                 {mm.PNG_H_BASE} + eid % {mm.PNG_H_MOD} AS h,
                 eid % 3 AS ctsel
          FROM dims),
px AS (SELECT doc_id, {_IMAGE_CLONE_PX} FROM dims2),
h AS (SELECT doc_id, {sql_band_cols()} FROM px),
unp AS (SELECT doc_id, b0, b1, b2, b3, u.j AS band_idx,
               CASE u.j WHEN 0 THEN b0 WHEN 1 THEN b1
                        WHEN 2 THEN b2 ELSE b3 END AS band_val
        FROM h, (SELECT unnest([0, 1, 2, 3]) AS j) u),
sized AS (SELECT *, count(*) OVER (PARTITION BY band_idx, band_val)
                 AS sz FROM unp),
keptb AS (SELECT * FROM sized WHERE sz <= {ih.MAX_BUCKET}),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
                b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
         FROM keptb a JOIN keptb b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          AND a.doc_id < b.doc_id),
d AS (SELECT a_id, b_id,
             CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
                  + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3))
                  AS INTEGER) AS hamming
      FROM cand)
SELECT a_id, b_id, hamming FROM d WHERE hamming <= 3
"""


EXTENSION_QUERIES.update(
    {
        # round-11 second batch (continued) — registry tail, queued
        # for the round-12 certification window
        "image_neardup_decoded": (
            image_neardup_decoded_q,
            SQL_IMAGE_NEARDUP_DECODED,
        ),
    }
)


def audio_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer audio fingerprint over REAL WAV PCM decode: per doc a
    real 16-bit mono WAV is synthesized from an integer sample
    formula, the samples are RECOVERED through the RIFF walk + int16
    decode, and per-20ms-frame energy / zero-crossing counts are
    computed JVM-side over the frame arrays
    (operators/multimodal.py audio_fingerprint). The oracle computes
    the features from the sample formula without seeing the WAV
    bytes, so equality certifies the PCM decoder and framing."""
    return mm.audio_fingerprint(_docs(spark, sf_dir))


SQL_AUDIO_FINGERPRINT = f"""
WITH f AS (SELECT doc_id, u.fi AS frame_idx
           FROM documents,
                UNNEST(range(5 + doc_id % 5)) AS u(fi)),
s AS (SELECT doc_id, frame_idx,
             frame_idx * {mm.AUDIO_FRAME} + v.i AS i,
             v.i AS off
      FROM f, UNNEST(range({mm.AUDIO_FRAME})) AS v(i)),
sv AS (SELECT doc_id, frame_idx, off,
              ((doc_id*31 + i*17) % 4001) - 2000 AS s,
              ((doc_id*31 + (i+1)*17) % 4001) - 2000 AS s2
       FROM s)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(sum(abs(s)) AS BIGINT) AS energy,
       CAST(sum(CASE WHEN off < {mm.AUDIO_FRAME - 1}
                      AND s * s2 < 0 THEN 1 ELSE 0 END)
            AS INTEGER) AS zcr
FROM sv GROUP BY doc_id, frame_idx
"""


EXTENSION_QUERIES.update(
    {
        # round-11 third batch — registry tail, queued for the
        # round-12 certification window
        "audio_fingerprint": (
            audio_fingerprint_q,
            SQL_AUDIO_FINGERPRINT,
        ),
    }
)


def video_frame_phash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame dHash over REAL extracted video frames: per doc a
    real AVI (LIST/hdrl + LIST/movi with uncompressed 24bpp BI_RGB
    DIB frames, bottom-up padded rows) is synthesized from a
    SQL-stateable frame formula, the frames are RECOVERED through the
    RIFF/movi walk + DIB decode, grid-sampled, and hashed per
    (doc_id, frame_idx) (operators/imagehash.py video_frame_phash).
    The oracle states the frame formula directly; equality certifies
    the container walk, the bottom-up BGR decode, and the per-frame
    fan-out."""
    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_avi_frames)
    return ih.video_frame_phash(media)


# synth_avi_frames_pixels' frame formula (B=G=R in the DIB, so luma
# is the formula).
_SQL_VIDEO_GRAY = (
    "({id}*7 + frame_idx*29 + {pr}*13 + {pc}*31 "
    "+ {id}*{pc}*3 + frame_idx*{pr}*11) % 256"
)
_VIDEO_PX = sql_grid_px_cols(_SQL_VIDEO_GRAY)


SQL_VIDEO_FRAME_PHASH = f"""
WITH fr AS (SELECT doc_id, u.fi AS frame_idx
            FROM documents,
                 UNNEST(range(2 + doc_id % 3)) AS u(fi)),
dims AS (SELECT doc_id, frame_idx,
                {mm.VIDEO_W_BASE} + doc_id % {mm.VIDEO_W_MOD} AS w,
                {mm.VIDEO_H_BASE} + doc_id % {mm.VIDEO_H_MOD} AS h
         FROM fr),
px AS (SELECT doc_id, frame_idx, {_VIDEO_PX} FROM dims),
hh AS (SELECT doc_id, frame_idx, {sql_band_cols()} FROM px)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       b0, b1, b2, b3,
       {sql_phash_hex()} AS phash
FROM hh
"""


EXTENSION_QUERIES.update(
    {
        # round-11 third batch (continued) — registry tail, queued
        # for the round-12 certification window
        "video_frame_phash": (
            video_frame_phash_q,
            SQL_VIDEO_FRAME_PHASH,
        ),
    }
)


def video_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level video near-dup over REAL extracted frames: every
    20th doc gains a clone video re-rendered with one pixel of frame
    0 pushed far away, so each clone shares n_frames - 1 bit-identical
    frame hashes with its base. Pipeline: real AVI synth -> movi/DIB
    frame decode -> per-frame dHash -> guarded hash-equality join
    counting distinct shared frame hashes (operators/imagehash.py
    video_neardup_pairs)."""
    ids = mm.clone_ids(_docs(spark, sf_dir))
    media = mm.synth_media(ids, mm.synth_avi_clone)
    return ih.video_neardup_pairs(ih.video_frame_phash(media))


_VIDEO_CLONE_PX = sql_grid_px_cols(
    _SQL_VIDEO_GRAY, "eid", "iscl AND frame_idx = 0"
)
SQL_VIDEO_NEARDUP = f"""
WITH ids AS (SELECT doc_id FROM documents
             UNION ALL
             SELECT doc_id + {mm.PHASH_CLONE_OFFSET} FROM documents
             WHERE doc_id % 20 = 0),
base AS (SELECT doc_id,
                CASE WHEN doc_id >= {mm.PHASH_CLONE_OFFSET}
                     THEN doc_id - {mm.PHASH_CLONE_OFFSET}
                     ELSE doc_id END AS eid,
                doc_id >= {mm.PHASH_CLONE_OFFSET} AS iscl
         FROM ids),
fr AS (SELECT doc_id, eid, iscl, u.fi AS frame_idx
       FROM base, UNNEST(range(2 + eid % 3)) AS u(fi)),
dims AS (SELECT doc_id, eid, iscl, frame_idx,
                {mm.VIDEO_W_BASE} + eid % {mm.VIDEO_W_MOD} AS w,
                {mm.VIDEO_H_BASE} + eid % {mm.VIDEO_H_MOD} AS h
         FROM fr),
px AS (SELECT doc_id, frame_idx, {_VIDEO_CLONE_PX}
       FROM dims),
hh AS (SELECT doc_id, frame_idx, {sql_band_cols()} FROM px),
hv AS (SELECT doc_id,
              {sql_phash_hex(14)}
                AS phash
       FROM hh),
sized AS (SELECT *, count(*) OVER (PARTITION BY phash) AS sz FROM hv),
kept AS (SELECT doc_id, phash FROM sized WHERE sz <= {ih.MAX_BUCKET})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(count(DISTINCT a.phash) AS BIGINT) AS n_shared
FROM kept a JOIN kept b
  ON a.phash = b.phash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(DISTINCT a.phash) >= 1
"""


EXTENSION_QUERIES.update(
    {
        # round-11 third batch (continued) — registry tail, queued
        # for the round-12 certification window
        "video_neardup": (video_neardup_q, SQL_VIDEO_NEARDUP),
    }
)


def inverted_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction (operators/textstats.py
    inverted_index): top-100 terms by document frequency with df, cf
    and the first 20 postings comma-joined — the bounded-collect
    form whose per-key state never exceeds max_postings ids even for
    stopword-grade terms."""
    return tx.inverted_index(_docs(spark, sf_dir))


SQL_INVERTED_INDEX = """
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents),
pd AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       FROM w GROUP BY term, doc_id),
r AS (SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM pd),
a AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS cf,
             string_agg(CASE WHEN rn <= 20
                             THEN CAST(doc_id AS VARCHAR) END,
                        ',' ORDER BY doc_id) AS postings
      FROM r GROUP BY term)
SELECT term, df, cf, postings FROM a
ORDER BY df DESC, term ASC LIMIT 100
"""


def audio_energy_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-shape activity segmentation over REAL WAV PCM decode
    (operators/multimodal.py audio_energy_segments): per-frame energy
    from the recovered samples, threshold at the synth-fixture mean,
    islands-and-gaps merge into (seg_start, seg_end) runs. The oracle
    states the sample formula and the same islands rewrite; equality
    certifies the decode AND the run-key algebra."""
    return mm.audio_energy_segments(_docs(spark, sf_dir))


SQL_AUDIO_ENERGY_SEGMENTS = f"""
WITH f AS (SELECT doc_id, u.fi AS frame_idx
           FROM documents,
                UNNEST(range(5 + doc_id % 5)) AS u(fi)),
s AS (SELECT doc_id, frame_idx,
             frame_idx * {mm.AUDIO_FRAME} + v.i AS i
      FROM f, UNNEST(range({mm.AUDIO_FRAME})) AS v(i)),
fe AS (SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
              CAST(sum(abs(((doc_id*31 + i*17) % 4001) - 2000))
                   AS BIGINT) AS energy
       FROM s GROUP BY doc_id, frame_idx),
act AS (SELECT *,
               frame_idx - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY frame_idx)
                 AS run
        FROM fe WHERE energy >= {mm.AUDIO_ACTIVE_ENERGY})
SELECT doc_id,
       CAST(min(frame_idx) AS INTEGER) AS seg_start,
       CAST(max(frame_idx) AS INTEGER) AS seg_end,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(energy) AS BIGINT) AS total_energy
FROM act GROUP BY doc_id, run
"""


def video_shot_boundaries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over REAL extracted video frames
    (operators/imagehash.py video_shot_boundaries): per-video lag
    window over the frame dHashes, exact popcount-of-XOR distance,
    cut where >= SHOT_THRESHOLD of 64 bits flip. The oracle restates
    the frame formula, the band hash, and the same lag algebra."""
    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_avi_frames)
    return ih.video_shot_boundaries(media)


SQL_VIDEO_SHOT_BOUNDARIES = f"""
WITH fr AS (SELECT doc_id, u.fi AS frame_idx
            FROM documents,
                 UNNEST(range(2 + doc_id % 3)) AS u(fi)),
dims AS (SELECT doc_id, frame_idx,
                {mm.VIDEO_W_BASE} + doc_id % {mm.VIDEO_W_MOD} AS w,
                {mm.VIDEO_H_BASE} + doc_id % {mm.VIDEO_H_MOD} AS h
         FROM fr),
px AS (SELECT doc_id, frame_idx, {_VIDEO_PX} FROM dims),
hh AS (SELECT doc_id, frame_idx, {sql_band_cols()} FROM px),
lg AS (SELECT doc_id, frame_idx, b0, b1, b2, b3,
              lag(b0) OVER w AS p0, lag(b1) OVER w AS p1,
              lag(b2) OVER w AS p2, lag(b3) OVER w AS p3
       FROM hh
       WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
d AS (SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
             CAST(bit_count(xor(CAST(b0 AS BIGINT), CAST(p0 AS BIGINT)))
                + bit_count(xor(CAST(b1 AS BIGINT), CAST(p1 AS BIGINT)))
                + bit_count(xor(CAST(b2 AS BIGINT), CAST(p2 AS BIGINT)))
                + bit_count(xor(CAST(b3 AS BIGINT), CAST(p3 AS BIGINT)))
                AS INTEGER) AS dist
      FROM lg WHERE p0 IS NOT NULL)
SELECT doc_id, frame_idx, dist,
       dist >= {ih.SHOT_THRESHOLD} AS is_boundary
FROM d
"""


EXTENSION_QUERIES.update(
    {
        # round-11 fourth batch — registry tail, queued for the
        # round-12 certification window
        "inverted_index": (inverted_index_q, SQL_INVERTED_INDEX),
        "audio_energy_segments": (
            audio_energy_segments_q,
            SQL_AUDIO_ENERGY_SEGMENTS,
        ),
        "video_shot_boundaries": (
            video_shot_boundaries_q,
            SQL_VIDEO_SHOT_BOUNDARIES,
        ),
    }
)


def lm_heldout_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out unigram LM with add-one OOV smoothing
    (operators/textstats.py lm_heldout_score): fit on the doc_id %
    10 == 0 split, score everything — the train/apply-split scorer
    whose OOV path the corpus-self-trained LMs never exercise."""
    return tx.lm_heldout_score(_docs(spark, sf_dir))


SQL_LM_HELDOUT = """
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM w GROUP BY doc_id, term),
tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c
       FROM tf WHERE doc_id % 10 = 0 GROUP BY term),
tv AS (SELECT CAST(sum(c) + count(*) + 1 AS BIGINT) AS tv1 FROM tc),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN c IS NULL THEN tf ELSE 0 END)
                   AS BIGINT) AS n_oov,
              sum(CAST(tf AS DOUBLE)
                  * ln(CAST(coalesce(c, 0) + 1 AS DOUBLE))) AS s
       FROM tf LEFT JOIN tc USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens, n_oov,
       s / CAST(n_tokens AS DOUBLE) - ln(CAST(tv1 AS DOUBLE))
         AS avg_logprob
FROM pd, tv
"""


EXTENSION_QUERIES.update(
    {
        # round-11 fifth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "lm_heldout_score": (lm_heldout_score_q, SQL_LM_HELDOUT),
    }
)


SQL_STREAM_CDC_SCREEN = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS base_v
  FROM orders WHERE o_orderkey % 100 < 90),
ch AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(round(o_totalprice * 100) AS BIGINT) + 111
         END AS v,
         CASE WHEN o_orderkey % 5 = 0 THEN 'U'
              WHEN o_orderkey % 11 = 0 THEN 'D' END AS op
  FROM orders)
SELECT c.k, c.op, c.v,
       CASE WHEN c.op = 'D' AND b.base_v IS NOT NULL THEN 'delete'
            WHEN c.op = 'D' THEN 'delete_unknown'
            WHEN b.base_v IS NOT NULL THEN 'update'
            ELSE 'insert' END AS klass
FROM ch c LEFT JOIN base b ON c.k = b.k
WHERE c.op IS NOT NULL
"""


EXTENSION_QUERIES.update(
    {
        # round-11 fifth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "stream_cdc_screen": (cdc_screen_stream, SQL_STREAM_CDC_SCREEN),
    }
)


_HTML_TAIL = (
    '</p><p>AT&amp;T says 1 &lt; 2 &quot;q&quot; &apos;a&apos;</p>'
    '<script type="text/javascript">var hidden = "LEAK";</script>'
    "</body></html>"
)


def html_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-to-text extraction (operators/textstats.py html_strip)
    over a deterministic wrapping of documents.text in real page
    structure — head/style block, heading, inline tags, entity-coded
    punctuation, and a trailing script whose payload must NOT leak
    into the text. Both engines build the identical page string;
    each strips with its own regex engine, so equality certifies the
    tag/entity/whitespace chain."""
    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit(
                "<html><head><style>p {color: red}</style></head>"
                "<body><h1>Doc "
            ),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.replace(
                F.col("text"), F.lit(" data "), F.lit(" <b>data</b> ")
            ),
            F.lit(_HTML_TAIL),
        ).alias("html"),
    )
    return tx.html_strip(pages)


SQL_HTML_STRIP = f"""
WITH pages AS (
  SELECT doc_id,
         '<html><head><style>p {{color: red}}</style></head>'
         || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
         || replace(text, ' data ', ' <b>data</b> ')
         || '{_HTML_TAIL.replace("'", "''")}' AS html
  FROM documents),
s1 AS (SELECT doc_id,
              regexp_replace(html,
                '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g') AS h
       FROM pages),
s2 AS (SELECT doc_id,
              regexp_replace(h,
                '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g') AS h
       FROM s1),
s3 AS (SELECT doc_id, regexp_replace(h, '<[^>]*>', ' ', 'g') AS h
       FROM s2),
s4 AS (SELECT doc_id,
              replace(replace(replace(replace(replace(h,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&apos;', ''''), '&amp;', '&') AS h
       FROM s3)
SELECT doc_id,
       trim(regexp_replace(h, '\\s+', ' ', 'g')) AS text
FROM s4
"""


EXTENSION_QUERIES.update(
    {
        # round-11 sixth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "html_strip": (html_strip_q, SQL_HTML_STRIP),
    }
)


def embed_power_iteration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer power iteration (operators/simsearch.py
    embed_power_iteration): the corpus's top embedding direction as
    64 BIGINTs, bit-identical across engines — the DuckDB twin
    unrolls the same 5 integer rounds as chained CTEs."""
    return ss.embed_power_iteration(
        spread_for_kernel(
            scan_parquet(spark, sf_dir, "embeddings"), "vec_id"
        )
    )


def _sql_power_iteration(iterations: int = 5) -> str:
    qs, vs = ss.PI_QSCALE, ss.PI_VSCALE
    blocks = [
        f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, r.d AS dim,
         CAST(round(CAST(embedding[r.d + 1] AS DOUBLE) * {qs}.0)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) r(d)),
v0 AS (SELECT r.d AS dim, CAST({vs} AS BIGINT) AS v
       FROM UNNEST(range(64)) r(d))"""
    ]
    for k in range(1, int(iterations) + 1):
        p = k - 1
        blocks.append(
            f"""
d{k} AS (SELECT vec_id, CAST(sum(x * v) AS BIGINT) AS dot
        FROM q JOIN v{p} USING (dim) GROUP BY vec_id),
u{k} AS (SELECT dim, CAST(sum(x * dot) AS BIGINT) AS u
        FROM q JOIN d{k} USING (vec_id) GROUP BY dim),
m{k} AS (SELECT greatest(CAST(max(abs(u)) AS BIGINT) // {vs},
                         CAST(1 AS BIGINT)) AS den FROM u{k}),
v{k} AS (SELECT dim,
                CAST(CASE WHEN u < 0 THEN -((-u) // den)
                     ELSE u // den END AS BIGINT) AS v
        FROM u{k}, m{k})"""
        )
    return (
        ",".join(blocks)
        + f"\nSELECT CAST(dim AS INTEGER) AS dim, v AS v_fp"
        f" FROM v{int(iterations)}\n"
    )


EXTENSION_QUERIES.update(
    {
        # round-11 sixth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "embed_power_iteration": (
            embed_power_iteration_q,
            _sql_power_iteration(),
        ),
    }
)


from .oracle_common import sql_md5_hash32  # noqa: E402
from ..operators import warehouse as wh  # noqa: E402


def bootstrap_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean document length
    (operators/warehouse.py bootstrap_ci): deterministic md5-slice
    Poisson weights, exact-integer replica sums, order-statistic
    interval over B = 50 replicas."""
    return wh.bootstrap_ci(_docs(spark, sf_dir))


def _sql_bootstrap_ci(b: int = wh.BOOTSTRAP_B) -> str:
    h = sql_md5_hash32("CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)")
    t = wh.BOOTSTRAP_CDF_FP
    wcase = (
        f"CASE WHEN {h} < {t[0]} THEN 0 "
        + " ".join(
            f"WHEN {h} < {t[k]} THEN {k}" for k in range(1, len(t))
        )
        + " ELSE 6 END"
    )
    idx_lo = max(1, -(-5 * b // 100))
    idx_med = max(1, -(-50 * b // 100))
    idx_hi = max(1, -(-95 * b // 100))
    return f"""
WITH reps AS (
  SELECT doc_id, n_chars AS v, r.rep
  FROM documents, UNNEST(range({int(b)})) r(rep)),
wt AS (SELECT rep, {wcase} AS w, v FROM reps),
means AS (
  SELECT rep,
         CAST(sum(w * v) AS DOUBLE)
           / CAST(nullif(sum(w), 0) AS DOUBLE) AS mean_r
  FROM wt GROUP BY rep),
ranked AS (
  SELECT mean_r,
         row_number() OVER (ORDER BY mean_r, rep) AS rn
  FROM means WHERE mean_r IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_replicas,
       max(CASE WHEN rn = {idx_lo} THEN mean_r END) AS ci_lo,
       max(CASE WHEN rn = {idx_med} THEN mean_r END) AS ci_median,
       max(CASE WHEN rn = {idx_hi} THEN mean_r END) AS ci_hi
FROM ranked
"""


EXTENSION_QUERIES.update(
    {
        # round-11 sixth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "bootstrap_ci": (bootstrap_ci_q, _sql_bootstrap_ci()),
    }
)


def lm_kn_bigram_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM scoring (operators/textstats.py
    lm_kn_bigram_score): absolute discounting + continuation back-off
    with all-integer counts; the float expression is pinned
    left-to-right identically in the twin."""
    return tx.lm_kn_bigram_score(_docs(spark, sf_dir))


SQL_LM_KN_BIGRAM = rf"""
WITH b AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> x <> '') AS arr
  FROM documents
),
pairs AS (SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
          FROM b, UNNEST(range(1, len(arr))) AS r(i)),
tfb AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
        FROM pairs GROUP BY doc_id, w1, w2),
c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
        FROM tfb GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1p_fwd
        FROM c12 GROUP BY w1),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd
         FROM c12 GROUP BY w2),
ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c12),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         sum(CAST(tf AS DOUBLE)
             * ln(greatest(CAST(c12 AS DOUBLE) - {tx.KN_DISCOUNT},
                           0.0)
                    / CAST(c1 AS DOUBLE)
                  + {tx.KN_DISCOUNT} * CAST(n1p_fwd AS DOUBLE)
                    / CAST(c1 AS DOUBLE)
                    * (CAST(n1p_bwd AS DOUBLE)
                       / CAST(n_types AS DOUBLE)))) AS s
       FROM tfb JOIN c12 USING (w1, w2) JOIN ctx USING (w1)
       JOIN cont USING (w2) CROSS JOIN ty GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  s / CAST(n_bigrams AS DOUBLE) AS avg_logprob
FROM pd
"""


EXTENSION_QUERIES.update(
    {
        # round-11 sixth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "lm_kn_bigram_score": (lm_kn_bigram_score_q, SQL_LM_KN_BIGRAM),
    }
)


# Round-12 additions live in their own part module (the registry
# split keeps this aggregator from regrowing); registered last so
# they sit at the extension-registry tail.
from .ext_round12 import EXT_ROUND12_QUERIES  # noqa: E402

EXTENSION_QUERIES.update(EXT_ROUND12_QUERIES)

from .ext_round13 import EXT_ROUND13_QUERIES  # noqa: E402

EXTENSION_QUERIES.update(EXT_ROUND13_QUERIES)

from .ext_round14 import EXT_ROUND14_QUERIES  # noqa: E402

EXTENSION_QUERIES.update(EXT_ROUND14_QUERIES)

from .ext_round15 import EXT_ROUND15_QUERIES  # noqa: E402

EXTENSION_QUERIES.update(EXT_ROUND15_QUERIES)
