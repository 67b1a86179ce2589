"""Streaming CDC ingest screen: the Structured Streaming twin of the
batch latest-wins apply (operators/warehouse.py cdc_apply).

A full latest-wins MERGE needs cross-batch per-key state (the batch
operator's job on the periodic compaction run); the streaming half is
the production INGEST SCREEN — each arriving change row classifies
itself against a static snapshot of the current table, so downstream
routing (apply queue, backfill queue, dead-letter) happens at map
speed: stateless, no watermark, append mode, stream-static join only.

availableNow processes the backlog and stops, so the result equals
the batch classification join and the batch SQL is the oracle.

Reference parity note: the reference (mrjob chi-square) has no
streaming or CDC surface; this is extension surface over SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import file_source, to_completion


def cdc_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Screen a stream of change rows (the batch cdc_apply fixture's
    seq-1/seq-3 slices: op 'U' with value+111 for keys % 5 == 0, op
    'D' for keys % 11 == 0, derived row-locally from arriving order
    rows) against the STATIC snapshot (keys % 100 < 90): one row per
    change, (k, op, v, klass) with klass in update / insert /
    delete / delete_unknown — a delete for a key the snapshot never
    held is the out-of-order-feed smell CDC monitoring alerts on.

    Scale shape: the change side is a row-local projection (zero
    shuffles); the snapshot side is broadcast here (at real scale: a
    bucketed static table joined on the key). Stateless — no
    watermark, no state store."""
    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 100 < 90)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("base_v"),
        )
    )
    stream = file_source(spark, sf_dir, "orders", parts)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    changes = stream.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 5 == 0, cents + F.lit(111)).alias(
            "v"
        ),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("U"))
        .when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
        .alias("op"),
    ).filter(F.col("op").isNotNull())
    klass = (
        F.when(
            (F.col("op") == "D") & F.col("base_v").isNotNull(),
            F.lit("delete"),
        )
        .when(F.col("op") == "D", F.lit("delete_unknown"))
        .when(F.col("base_v").isNotNull(), F.lit("update"))
        .otherwise(F.lit("insert"))
    )
    screened = changes.join(F.broadcast(base), "k", "left").select(
        "k", "op", "v", klass.alias("klass")
    )
    return to_completion(screened, "stream_cdc")
