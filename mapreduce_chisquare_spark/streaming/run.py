"""Run-to-completion plumbing shared by the streaming builders.

A streaming builder here is its batch query plus a source, a trigger
and a sink: a one-file-per-trigger parquet stream over a split fixture
table, an availableNow trigger that drains the backlog and stops, and
a memory sink whose table the builder returns. availableNow processes
every file, so the result equals the batch plan and the batch oracle
certifies the stream.

Each builder names its sink once (a fixed name, not one per call): a
call replaces that builder's previous table in the session catalog
instead of adding one. A frame returned by an earlier call keeps
reading its own sink; two calls of one builder must not run in one
session at the same time.

Stateful streaming operators (windowed aggs, dropDuplicates*,
applyInPandasWithState) take their state-partition count from
``spark.sql.shuffle.partitions`` at query start and pin it into the
checkpoint forever; AQE never coalesces these exchanges the way it
does for batch shuffles. Every state partition pays a fixed per-batch
cost (state-store open + delta commit to the checkpoint), so the
partition count should track STATE VOLUME, not cluster cores: at the
test scale (sf0.01, ~10k keys) 32 partitions is pure overhead — 8 is
3x faster end-to-end with identical results. On a 1000-executor
cluster against 100 TB you would raise this to O(cores) (or more, if
per-key state outgrows executor memory) BEFORE the first checkpoint
is written, since changing it later requires a new checkpoint.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TABLE_SCHEMAS
from ..sources.fixtures import table_multifile_dir

# Sized for the local test scale; see module docstring for how to size
# it on a real cluster.
STREAM_STATE_PARTITIONS = 8

_KEY = "spark.sql.shuffle.partitions"


@contextmanager
def state_partitions(spark: SparkSession, n: int = STREAM_STATE_PARTITIONS):
    """Temporarily set the shuffle-partition count for a
    run-to-completion streaming query, restoring the session value
    after (the streaming query keeps the count it started with)."""
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, str(n))
    try:
        yield
    finally:
        spark.conf.set(_KEY, prev)


def file_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    parts: int = 4,
    in_dir: str | None = None,
) -> DataFrame:
    """Stream <table> one file per micro-batch, with the table's
    pinned schema, from its row-wise split into `parts` files
    (sources.fixtures.table_multifile_dir) or from `in_dir`."""
    if in_dir is None:
        in_dir = table_multifile_dir(sf_dir, table, parts)
    return (
        spark.readStream.schema(TABLE_SCHEMAS[table])
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def to_completion(df: DataFrame, name: str, mode: str = "append") -> DataFrame:
    """Run the streaming relation `df` to completion (availableNow →
    memory sink `name`, under state_partitions) and return the sink's
    table."""
    spark = df.sparkSession
    with state_partitions(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
