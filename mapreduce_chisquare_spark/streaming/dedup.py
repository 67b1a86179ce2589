"""Streaming near-dup ingest screen: the Structured Streaming twin of
the batch dedup_incremental shape.

The batch MinHash pipeline aggregates shingles per doc — illegal in
append-mode streaming without state. The screen instead computes each
arriving document's LSH band keys ROW-LOCALLY
(operators/dedup.with_row_local_band_keys: same shingles, same hash
family, same packed-long keys, equality-tested against the aggregate
form) and
probes a STATIC band index of the existing corpus via a stream-static
broadcast join. The whole query is stateless — no watermark, no
aggregation state, append mode — so a 100 TB/day ingest screens at
map speed: per document, ~bands fixed-width key probes against a
broadcast (or, at real scale, a bucketed static) index.

availableNow processes the backlog and stops, so the result equals the
batch band join and the batch SQL is the oracle.

Reference parity note: the reference (mrjob chi-square) has no
streaming or dedup surface; this is part of the training-data-pipeline
extension the build brief adds over SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    lsh_band_keys,
    shingles,
    with_row_local_band_keys,
)
from .run import file_source, to_completion


def neardup_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Screen streamed documents (doc_id % 10 == 0, the 'new batch')
    against the static band index of the existing corpus (doc_id % 10
    != 0): (doc_id, band, dup_of) — one row per band collision with an
    existing document. Downstream either drops flagged docs outright
    or routes them to the exact verifier; the per-band relation is the
    stateless form (n_bands aggregation belongs to the batch side —
    see similarity_join_minhash)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = (
        lsh_band_keys(shingles(docs.filter(F.col("doc_id") % 10 != 0)))
        .select(F.col("doc_id").alias("dup_of"), "band", "key")
    )

    stream = file_source(spark, sf_dir, "documents", parts)
    new = stream.filter(F.col("doc_id") % 10 == 0)
    # sub-shingle docs emit an EMPTY band array (no rows on explode),
    # mirroring the aggregate form — no extra length guard needed
    keyed = with_row_local_band_keys(new).select(
        "doc_id", F.explode(F.col("__bands")).alias("e")
    ).select("doc_id", "e.band", "e.key")
    flagged = keyed.join(
        F.broadcast(index), ["band", "key"]
    ).select("doc_id", "band", "dup_of")

    return to_completion(flagged, "stream_neardup")
