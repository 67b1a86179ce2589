"""Streaming entity-resolution ingest screen: the Structured
Streaming twin of the batch blocked-linkage shape
(operators/linkage.py).

Batch linkage self-joins a dimension within blocks; a self-join is
illegal in append-mode streaming without state. The ingest screen is
the production shape instead: each ARRIVING record computes its block
key and normalized name ROW-LOCALLY (the identical expressions the
batch operator uses), then probes a STATIC blocking index of the
already-canonicalized dimension via a stream-static join — stateless,
no watermark, append mode, so a 100 TB/day ingest matches at map
speed. New-vs-new matches intentionally do not exist here (they
belong to the periodic batch re-link — same division of labor as
stream_neardup vs the batch LSH tier).

availableNow processes the backlog and stops, so the result equals
the batch new×static block join and the batch SQL is the oracle.

Reference parity note: the reference (mrjob chi-square) has no
streaming or linkage surface; this is extension surface over
SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import file_source, to_completion


def er_screen_stream(
    spark: SparkSession,
    sf_dir: str,
    parts: int = 4,
    max_edit: int = 1,
) -> DataFrame:
    """Screen a stream of incoming 'dirty' records (the typo'd-clone
    feed: every 7th customer with its last name character dropped —
    the same deterministic fixture the batch er_* queries use)
    against the static customer dimension: (new_id, matched_id, dist)
    for every block-sharing canonical record within Levenshtein
    `max_edit` of the arrival's normalized name. Downstream either
    merges the arrival into the matched entity or routes it to
    review.

    Scale shape: the arrival side is a row-local projection (block
    key + normalized name — zero shuffles); the static side is the
    dimension-sized blocking index, broadcast here (at real scale: a
    bucketed static table joined on the block key). Stateless — no
    watermark, no state store."""
    static_idx = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("matched_id"),
            F.lower(F.trim(F.col("c_name"))).alias("m_nm"),
            F.col("c_nationkey").alias("nation"),
            F.substring("c_name", 10, 8).alias("blk"),
        )
    )
    stream = file_source(spark, sf_dir, "customer", parts)
    arrivals = stream.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("new_id"),
        F.lower(F.trim(F.substring("c_name", 1, 17))).alias("nm"),
        F.col("c_nationkey").alias("nation"),
        F.substring("c_name", 10, 8).alias("blk"),
    )
    dist = F.levenshtein(F.col("nm"), F.col("m_nm"))
    matched = (
        arrivals.join(F.broadcast(static_idx), ["nation", "blk"])
        .filter(dist <= F.lit(int(max_edit)))
        .select(
            "new_id",
            "matched_id",
            dist.cast("long").alias("dist"),
        )
    )
    return to_completion(matched, "stream_er")
