"""Streaming anomaly screen: batch-trained profile, stream-side flags.

The production anomaly-screening shape: per-series statistical
profiles are trained BATCH (a scheduled job over the historical
store), then the live event stream is screened against them with a
stream-static broadcast join — the stream never shuffles, no state
store is involved, and every micro-batch's flags are map-side. The
flag decision is the same exact 128-bit integer rule as the batch
operator (operators/timeseries.py ts_anomaly_zscore /
zscore_flag_exprs), so a borderline event is decided identically in
batch and streaming.

At 100 TB/day: the profile relation is one row per entity (megabytes
against a firehose), rebuilt on whatever cadence the batch pipeline
runs; the stream side is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import zscore_flag_exprs
from .run import to_completion
from .windows import read_events_stream


def anomaly_screen_stream(
    spark: SparkSession, sf_dir: str, threshold: int = 3
) -> DataFrame:
    """Screen the event stream against batch-trained per-user
    profiles: (user_id, event_id, z) for events whose value is more
    than `threshold` population standard deviations from their
    series' profile mean — the exact-decision twin of
    ts_anomaly_zscore, run as availableNow streaming over the events
    backlog with the profile broadcast into every micro-batch.
    Because the profile is trained over the same events the stream
    replays, the flagged set hash-matches the batch oracle."""
    from ..sources.readers import scan_parquet

    cents = F.round(F.col("value") * 100).cast("long")
    profile = (
        scan_parquet(spark, sf_dir, "events")
        .select("user_id", cents.alias("__c"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__c").alias("__sc"),
            F.sum(F.col("__c") * F.col("__c")).alias("__ssq"),
        )
    )
    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", cents.alias("__c")
    )
    cond, z = zscore_flag_exprs(threshold)
    flagged = (
        stream.join(F.broadcast(profile), "user_id")
        .filter(cond)
        .select("user_id", "event_id", z.alias("z"))
    )
    return to_completion(flagged, "stream_anomaly")
