"""Streaming curation: the stateless ingest-time quality gate.

The batch curation passes (quality_score → filter) are pure map-side
projections, so they run unchanged as a Structured Streaming query —
no state, no watermark, append mode: every micro-batch is gated at
scan speed and late data is a non-concept. This is the shape a 100 TB
ingest pipeline actually uses for quality filtering (the stateful
variants — dedup, sessionization — live in the sibling modules).

availableNow processes the full backlog and stops, so the result
equals the batch plan and the batch SQL is the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import STOPWORDS
from .run import file_source, to_completion

MIN_TOKENS = 20
MAX_STOP_RATIO = 0.10
CHUNK_TOKENS = 50


def quality_filter_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Stream the documents (one file per micro-batch) through the
    quality gate: (doc_id, lang, n_tokens, stop_ratio) for documents
    with >= MIN_TOKENS tokens and <= MAX_STOP_RATIO stopword share.
    Expressions mirror operators/textstats.quality_score exactly
    (same single-division ratios), so values hash-match the batch
    oracle."""
    stream = file_source(spark, sf_dir, "documents", parts)
    words = F.filter(
        F.split(F.lower(F.col("text")), "\\s+"), lambda t: t != ""
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = stream.select(
        "doc_id",
        "lang",
        F.size(words).alias("n_tokens"),
        F.size(
            F.filter(words, lambda t: F.array_contains(stop_arr, t))
        ).alias("n_stop"),
    )
    ratio = F.when(
        F.col("n_tokens") > 0,
        F.col("n_stop").cast("double") / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    gated = (
        base.withColumn("stop_ratio", ratio)
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("stop_ratio") <= MAX_STOP_RATIO)
        )
        .select(
            "doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"),
            "stop_ratio",
        )
    )
    return to_completion(gated, "stream_quality")


def chunk_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming 1-to-N chunk fan-out: each micro-batch's documents
    split into <= CHUNK_TOKENS-token chunks — a stateless Generate in
    append mode (the streaming twin of operators/packing
    chunk_documents, whose expressions it reuses for oracle parity).
    At 100 TB ingest this is how raw documents become training-shaped
    rows without a second batch pass over the corpus."""
    from ..operators.packing import chunk_documents

    stream = file_source(spark, sf_dir, "documents", parts)
    chunks = chunk_documents(stream, chunk_tokens=CHUNK_TOKENS)
    return to_completion(chunks, "stream_chunk")


def gopher_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming twin of quality_gopher_rules — the SAME operator
    function applied to a readStream relation (it is one stateless
    projection, so it is legal in append mode unchanged): every
    micro-batch is screened at scan speed, and the batch oracle SQL
    certifies the stream output verbatim. The strongest
    batch/stream-parity pin this module has: not mirrored
    expressions, the identical code path."""
    from ..operators.textstats import quality_gopher_rules

    stream = file_source(spark, sf_dir, "documents", parts)
    screened = quality_gopher_rules(stream)
    return to_completion(screened, "stream_gopher")


def quality_model_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming twin of the LEARNED quality filter: the row-local
    quality_model_score_rowlocal (literal-array weight lookup +
    F.aggregate mean-pool — zero shuffles, so legal in append mode
    with no state store) applied to a readStream relation. Output is
    BIT-identical to the batch broadcast-join scorer (pinned in
    tests), so the batch oracle certifies the stream verbatim — the
    stream_gopher_screen discipline extended from heuristic to
    model-based filtering: a corpus ingest pipeline scores documents
    at scan speed as they arrive."""
    from ..operators.curation import quality_model_score_rowlocal

    stream = file_source(spark, sf_dir, "documents", parts)
    scored = quality_model_score_rowlocal(stream)
    return to_completion(scored, "stream_qmodel")


def blocklist_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming twin of the blocklist safety screen — the SAME
    operator function (operators/curation.py blocklist_screen) applied
    to a readStream relation: it is one stateless projection + filter,
    legal in append mode unchanged, so every micro-batch is screened
    at scan speed and the batch oracle certifies the stream output
    verbatim (the stream_gopher_screen discipline)."""
    from ..operators.curation import blocklist_screen

    stream = file_source(spark, sf_dir, "documents", parts)
    screened = blocklist_screen(stream)
    return to_completion(screened, "stream_blocklist")


def pii_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming twin of the typed PII census — the SAME operator
    function (operators/curation.py pii_screen) over the SAME
    injected fixture expression (pii_inject_expr), applied to a
    readStream relation: one stateless projection, legal in append
    mode unchanged, so every micro-batch is screened at scan speed
    and the batch oracle certifies the stream output verbatim (the
    stream_gopher_screen discipline)."""
    from ..operators.curation import pii_inject_expr, pii_screen

    stream = file_source(spark, sf_dir, "documents", parts)
    screened = pii_screen(
        stream.select("doc_id", pii_inject_expr().alias("text"))
    )
    return to_completion(screened, "stream_pii")
