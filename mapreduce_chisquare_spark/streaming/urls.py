"""Streaming URL-canonicalization screen: the Structured Streaming
twin of the batch URL dedup (operators/curation.py canonicalize_url /
dedup_url_groups).

Full URL dedup needs cross-batch per-canon state (the batch
operator's job on the periodic compaction run); the streaming half is
the CRAWL-FRONTIER SCREEN — each arriving page canonicalizes its URL
row-locally (pure Catalyst string/array expressions, streaming-safe)
and classifies against a static canonical index of the already-stored
corpus, so the fetch scheduler can drop known pages at map speed:
stateless, no watermark, append mode, stream-static join only.

availableNow processes the backlog and stops, so the result equals
the batch classification and the batch SQL is the oracle.

Reference parity note: the reference (mrjob chi-square) has no
streaming or URL surface; this is extension surface over SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import canonicalize_url
from .run import file_source, to_completion


def _messy_url(doc_id_col: str = "doc_id") -> F.Column:
    """The URL fixture's mod-6 messy variants, row-local — shared by
    this screen and the batch dedup_url_canonical
    (plans/ext_round12.py). Takes the column NAME so both the
    base-path `div` and the mod-6 branch derive from the same
    column."""
    c = F.col(doc_id_col)
    base = F.concat(
        F.lit("/docs/p"),
        F.expr(f"{doc_id_col} div 3").cast("string"),
    )
    m = c % 6
    return (
        F.when(m == 0, F.concat(F.lit("https://example.com"), base))
        .when(
            m == 1,
            F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM"), base, F.lit("/")),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://example.com:443"), base, F.lit("#sec2")
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("https://www.example.com"),
                base,
                F.lit("?utm_source=feed"),
            ),
        )
        .when(
            m == 4,
            F.concat(F.lit("https://example.com"), base, F.lit("?b=2&a=1")),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com"),
                base,
                F.lit("?a=1&b=2&utm_campaign=x"),
            )
        )
    )


def url_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Screen a stream of crawled pages against the stored corpus's
    canonical-URL index: per arriving page (doc_id, canon_url,
    is_known) — is_known when an already-stored page (the even
    doc_ids here) canonicalizes to the same URL.

    Scale shape: canonicalization is row-local map work on the
    stream; the static index is the DISTINCT canonical set of the
    stored corpus — broadcast here (at real scale: a bucketed
    canonical index joined on the canon string, or a bloom-filter
    prefilter before it). Stateless — no watermark, no state
    store.

    The messy URL is projected to its own column before
    canonicalize_url reads it: inlined, each of the canonicalizer's
    many references to its input copies the whole mod-6 CASE (an
    812K-character analyzed plan at sf0.001 against 47K), and every
    micro-batch plans and runs that tree again."""
    known = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(_messy_url("doc_id").alias("url"))
        .select(canonicalize_url("url").alias("canon_url"))
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    stream = file_source(spark, sf_dir, "documents", parts)
    pages = stream.select(
        "doc_id", _messy_url("doc_id").alias("url")
    ).select("doc_id", canonicalize_url("url").alias("canon_url"))
    screened = pages.join(F.broadcast(known), "canon_url", "left").select(
        "doc_id",
        "canon_url",
        F.col("__known").isNotNull().alias("is_known"),
    )
    return to_completion(screened, "stream_url")
