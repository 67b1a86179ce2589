"""Incremental χ² over a document stream via foreachBatch
(beyond-reference: SURVEY.md §2.8 — the reference is batch-only).

Pattern: each micro-batch computes its own partial contingency counts
(a map-side-combined hash agg over just that batch's documents) and
appends them to a counts store; the final χ² relation is computed from
the merged partials. This is the standard "incremental aggregation"
shape — per-batch work is proportional to batch size, state is
pre-aggregated counts (tiny vs. raw tokens), and the merge is an
associative sum, so late re-computation never touches raw history.

At 100 TB the counts store would be a Delta/Iceberg table compacted in
the background; here it is an append-mode parquet directory per run.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import STOPWORDS
from ..functions.text import nonempty_documents, tokens_relation
from ..operators.contingency import (
    cat_counts,
    chi_square_from_counts,
    term_cat_counts,
)
from ..sources.fixtures import _CACHE
from .run import file_source, state_partitions


def incremental_chi_square(
    spark: SparkSession,
    sf_dir: str,
    parts: int = 2,
    in_dir: str | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """Stream documents (one file per micro-batch), accumulate partial
    (term, category) and category counts per batch, and return the χ²
    relation from the merged counts — equal to the one-shot batch plan
    because count-merge is exact integer addition.

    Two micro-batches exercise the cross-batch merge; each extra batch
    adds only fixed overhead (two write jobs + a checkpoint commit) at
    the test scale. The partial-count relations are tiny (bounded by
    the dictionary, not the corpus), so each is coalesced to one file
    per batch — at 100 TB the counts store would be a Delta/Iceberg
    table with background compaction instead.

    `in_dir`/`run_dir` override the stream source and checkpoint+store
    location — passing the SAME run_dir across calls resumes from the
    checkpoint and processes only files not yet committed (exactly-once
    accumulation across restarts; tests/test_streaming_late.py).
    Without `run_dir`, each call starts from an empty `chi_run_<sf>`
    directory under the fixture cache, so a frame returned by an
    earlier call reads files the next call deletes."""
    if run_dir is not None:
        run = Path(run_dir)
    else:
        # one run directory per SF, emptied first: a reused checkpoint
        # would resume (skip every committed file) instead of computing
        run = _CACHE / f"chi_run_{Path(sf_dir).name}"
        shutil.rmtree(run, ignore_errors=True)
    store = str(run / "partials")

    stream = file_source(spark, sf_dir, "documents", parts, in_dir)

    # Both partial relations go to ONE tagged store (term IS NULL =
    # per-category doc count) so each micro-batch submits a single
    # write job; the relations are tiny, so the union costs nothing.
    def accumulate(batch_df: DataFrame, batch_id: int) -> None:
        d = batch_df.selectExpr("doc_id", "text", "lang AS category")
        toks = tokens_relation(d, STOPWORDS)
        partials = term_cat_counts(toks).unionByName(
            cat_counts(nonempty_documents(d))
            .select(
                F.lit(None).cast("string").alias("term"),
                "category",
                F.col("df_c").alias("df_tc"),
            )
        )
        partials.coalesce(1).write.mode("append").parquet(store)

    with state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(accumulate)
            .option("checkpointLocation", str(run / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    merged = (
        spark.read.parquet(store)
        .groupBy("term", "category")
        .agg(F.sum("df_tc").cast("long").alias("cnt"))
    )
    df_tc = merged.filter(F.col("term").isNotNull()).select(
        "term", "category", F.col("cnt").alias("df_tc")
    )
    df_c = merged.filter(F.col("term").isNull()).select(
        "category", F.col("cnt").alias("df_c")
    )
    n = df_c.agg(F.sum("df_c").cast("long").alias("n_docs"))
    return chi_square_from_counts(df_tc, df_c, n)
