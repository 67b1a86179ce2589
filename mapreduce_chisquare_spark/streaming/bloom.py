"""Streaming Bloom membership screen: the Structured Streaming twin
of the batch dedup prescreen (operators/sketches.py bloom_screen).

The batch operator broadcasts the corpus's set-bit RELATION and
count-matches per doc; a stateless append-mode stream cannot run that
per-doc aggregate (no watermark, no state store by design), so the
filter ships as what a Bloom filter actually is — a BITSET: the
<= m set bits collapse driver-side into m/64 longs (a SKETCH-sized,
provably-bounded collect — 2 KiB at the default m, the same class as
the simsearch codebook collects) embedded as a literal array, and
each arriving page tests its k bit positions ROW-LOCALLY with
shift-and-mask expressions. Stateless, no watermark, append mode;
availableNow drains the backlog so the batch SQL is the oracle.

Reference parity note: the reference (mrjob chi-square) has no
streaming or membership-sketch surface; extension over SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import BLOOM_K, BLOOM_M, bloom_bits
from .run import file_source, to_completion


def _bit_expr(key: F.Column, j: int, m: int) -> F.Column:
    """Bit position j of `key` — the bloom_bits hash spelled as a
    column expression (keep in sync with operators/sketches.py)."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(key.cast("string"), F.lit(":"), F.lit(str(j)))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (h % F.lit(int(m))).cast("long")


def bloom_screen_stream(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Screen a stream of documents against the stored corpus's Bloom
    filter (built over the even doc_ids' text): per arriving page
    (doc_id, maybe_dup) — maybe_dup iff all BLOOM_K bit probes hit.
    No false negatives; false positives are the filter's documented
    rate and both engines replay the identical bit math."""
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.col("text").alias("key"))
        .filter(F.col("key").isNotNull())
    )
    # bounded driver-side state: the distinct set-bit relation is
    # <= BLOOM_M rows by construction; packed to BLOOM_M/64 longs
    set_bits = [
        r.bit
        for r in bloom_bits(corpus, "key")
        .select("bit")
        .distinct()
        .collect()
    ]
    words = [0] * (BLOOM_M // 64)
    for b in set_bits:
        words[b // 64] |= 1 << (b % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = F.array(*[F.lit(w).cast("long") for w in words])

    stream = file_source(spark, sf_dir, "documents", parts)
    probes = stream.filter(F.col("text").isNotNull()).select(
        "doc_id",
        bitmap.alias("__bm"),
        *[
            _bit_expr(F.col("text"), j, BLOOM_M).alias(f"__b{j}")
            for j in range(BLOOM_K)
        ],
    )
    # bit s of word w via arithmetic shiftright: sign extension only
    # fills ABOVE the tested bit, and the s = 63 case reads the sign
    # bit itself, so (w >> s) & 1 is exact for all s in 0..63
    hit = [
        F.expr(
            f"(shiftright(element_at(__bm, "
            f"CAST(__b{j} div 64 AS INT) + 1), "
            f"CAST(__b{j} % 64 AS INT)) & 1) = 1"
        )
        for j in range(BLOOM_K)
    ]
    allhit = hit[0]
    for hcol in hit[1:]:
        allhit = allhit & hcol
    screened = probes.select("doc_id", allhit.alias("maybe_dup"))
    return to_completion(screened, "stream_bloom")
