"""Structured Streaming surface (beyond-reference: SURVEY.md §2.8 —
the reference is batch-only).

The same windowed aggregations the batch registry exposes, executed as
a real stream: file source → event-time windows (+ watermark for late
data) → availableNow trigger → memory sink. availableNow processes the
full backlog and stops, so results equal the batch plan — the batch
oracle doubles as the streaming oracle.

applyInPandasWithState-based custom stateful sessionization lives in
sessionize.py.
"""

from __future__ import annotations

import fnmatch
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources.readers import RAW_EVENTS, ts_from_nanos, ts_unit
from .run import to_completion


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-source stream over the events parquet. ts lands as Spark's
    micros TimestampType whatever the file's physical unit, probed from
    the first matching file's footer (the fixture builder keeps every
    file in a directory in one unit): ns files are read as raw int64
    and integer-divided (same as the batch reader); µs files are read
    natively. `options` go to the source (e.g. maxFilesPerTrigger to
    split the backlog into several micro-batches)."""
    first = next(
        (n for n in sorted(os.listdir(sf_dir)) if fnmatch.fnmatch(n, glob)),
        None,
    )
    is_ns = first is not None and ts_unit(os.path.join(sf_dir, first)) == "ns"
    reader = (
        spark.readStream.schema(RAW_EVENTS if is_ns else schemas.EVENTS)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load(sf_dir)
    return ts_from_nanos(raw) if is_ns else raw


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event_type with a 1-hour
    watermark, run to completion via availableNow → memory sink.
    Returns the materialized result (win_start epoch-sec, event_type,
    n, sum_cents) — identical to the batch window_tumbling query."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "600 seconds"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )
    return to_completion(agg, "stream_tumbling", mode="complete")


def dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type). Only the key columns are emitted — which
    arriving row wins is partition-order-dependent, but the distinct
    key SET is deterministic, so the batch DISTINCT is the oracle.
    The watermark delay (31 days) exceeds the dataset's event-time
    span, so no key's state is evicted mid-stream and every key emits
    exactly once. At 100 TB the delay instead bounds state size: keys
    older than the delay are evicted and a true late duplicate would
    re-emit — the documented within-watermark contract."""
    ev = read_events_stream(spark, sf_dir, glob=glob, options=options).withWatermark(
        "ts", "31 days"
    )
    deduped = ev.dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    ).select("user_id", "event_type")
    return to_completion(deduped, "stream_dedup")
