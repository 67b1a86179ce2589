"""Stream-stream interval join: click-to-view attribution.

Two Structured Streaming sides over the events source (views and
clicks per user), inner-joined on user_id with an event-time interval
bound — the canonical attribution shape. Watermarks on BOTH sides let
Spark bound the join state: a view older than the watermark minus the
interval can never match a future click and its state is evicted, so
state size tracks the interval window, not the stream length. Without
the time bound + watermarks, a stream-stream join is unbounded state
and Spark rightly refuses to run it in append mode.

At 100 TB/day event volume the state store holds only
interval-seconds' worth of views per user — the same plan shape a
1000-executor cluster runs; an unbounded batch self-join would not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import to_completion
from .windows import read_events_stream

ATTRIBUTION_SECONDS = 600


def interval_join_stream(
    views: DataFrame, clicks: DataFrame, seconds: int = ATTRIBUTION_SECONDS
) -> DataFrame:
    """(click_id, view_id, user_id, lag_us): every (view, click) of
    one user with view.ts <= click.ts < view.ts + `seconds`. Inner
    join: matches emit as soon as both sides arrive; the watermark
    only drives state eviction."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", "1 hour")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "1 hour")
    joined = v.join(
        c,
        (v.user_id == c.user_id)
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            < F.col("view_ts") + F.expr(f"INTERVAL {seconds} SECONDS")
        ),
    )
    return joined.select(
        "click_id",
        "view_id",
        v.user_id.alias("user_id"),
        (
            F.unix_micros("click_ts") - F.unix_micros("view_ts")
        ).alias("lag_us"),
    )


def enrich_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the purchase stream enriched with the
    (static) customer -> nation dimension, run to completion. The
    static side is a plain batch DataFrame joined per micro-batch —
    Spark broadcasts it into every batch's plan, so the stream never
    shuffles and no join state is kept (unlike stream-stream joins).
    This is THE pattern for dimension enrichment at 100 TB/day: the
    dim is megabytes, the stream is the big side, and the join is
    map-side in every batch.

    The synthetic events table has no customer FK, so the mapping
    user_id -> c_custkey = user_id + 1 stands in (user ids are dense
    from 0; custkeys dense from 1)."""
    from ..sources.readers import scan_parquet

    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = scan_parquet(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_nationkey"
    )
    nation = scan_parquet(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    dim = cust.join(F.broadcast(nation), "c_nationkey").select(
        "user_id", "n_name"
    )
    enriched = purchases.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "n_name", "value"
    )
    return to_completion(enriched, "stream_enrich")


def attribution_to_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the view->click interval join to completion (availableNow ->
    memory sink) over the events parquet, one streaming side per
    event_type. Returns the materialized matches — identical to the
    batch/SQL interval join because inner-join matches don't depend on
    watermark timing, only state eviction does."""
    ev_v = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    )
    ev_c = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    return to_completion(interval_join_stream(ev_v, ev_c), "stream_attrib")
