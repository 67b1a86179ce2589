"""Data-layout operators: Z-order (Morton) keys and hash-bucketed
tables.

A Z-order key interleaves the bits of two integer columns, so sorting
by it keeps BOTH dimensions locally dense in every file and a
predicate on either column prunes row groups — a linear sort order can
only serve one. OSS Spark has no OPTIMIZE ZORDER; the key is plain
integer arithmetic. Interleaving raw bits only works when the
dimensions span similar bit-widths: a 13-bit key interleaved with an
8-bit key leaves the top Morton bits single-dimension.

The bit expression is generated ONCE as SQL text shared verbatim by
the Spark plan and the DuckDB oracle — identical semantics by
construction (both engines use 64-bit integer &, <<, >>).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 16


def zorder_sql(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """Morton interleave of the low `bits` of integer expressions a
    and b (a gets the even bit positions). Disjoint-bit addition ==
    OR, and + keeps the expression engine-portable."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_col(a: str, b: str, bits: int = ZORDER_BITS) -> Column:
    return F.expr(zorder_sql(a, b, bits))


N_BUCKETS = 8


def bucketed_table(
    df: DataFrame, name: str, key: str, buckets: int = N_BUCKETS
) -> DataFrame:
    """Materialize df as a hash-bucketed, per-bucket-sorted metastore
    table and return the readable table. Pays one shuffle-equivalent
    at WRITE time so that every later join or aggregation on `key`
    is Exchange-free — the canonical 100 TB amortization: fact tables
    are joined on their key many times, the layout cost once. Reuses
    the existing table when the catalog knows it (deterministic
    derivation from the source parquet); a location left behind by an
    earlier process whose in-memory catalog is gone is removed and
    rewritten — the metadata (bucket spec) lives in the catalog, so
    the orphan directory alone cannot serve a co-located join.

    The location is pinned under the repo cache (not the session's
    warehouse dir, which follows the caller's CWD), so the layout
    lands in a known place whatever process hosts the session."""
    import shutil

    from ..sources.fixtures import _CACHE

    spark = df.sparkSession
    loc = _CACHE / "bucketed" / name.lower()
    if spark.catalog.tableExists(name) and not _table_matches(
        spark, name, df, loc
    ):
        # a name reused with different data, or a catalog entry whose
        # cached location was deleted underneath it: never serve stale
        # or unreadable buckets — drop and rebuild
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    if not spark.catalog.tableExists(name):
        if loc.exists():
            shutil.rmtree(loc)
        fp = _fingerprint(df)
        (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", str(loc))
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
        (loc / "_fingerprint.json").write_text(json.dumps(fp))
    return spark.table(name)


def _fingerprint(df: DataFrame) -> dict:
    """Content fingerprint of a DataFrame: schema JSON + row count +
    TWO order-insensitive combines of per-row xxhash64 over all
    columns — bit_xor AND an arbitrary-precision sum. xor alone
    cancels on even multiplicities (datasets {A,A,A,B} vs {A,B,B,B}
    collide — natural in dedup-heavy fixtures, not just engineered),
    and sum alone cancels on additive swaps; together a collision
    needs simultaneous xor- and sum-preserving multiplicity shifts,
    essentially impossible by accident. Partition-parallel, one scan,
    no shuffle (both partials combine); the sum rides decimal(38,0)
    so it cannot overflow below ~1e19 rows (ANSI-safe)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return {
        "schema": df.schema.json(),
        "count": row["n"],
        "xor": row["x"] if row["x"] is not None else 0,
        "sum": int(row["s"]) if row["s"] is not None else 0,
    }


def _table_matches(spark, name: str, df: DataFrame, loc) -> bool:
    """Reuse guard for bucketed_table: the catalog entry is only
    trusted when its backing location still exists AND the fingerprint
    sidecar written at save time matches the incoming df's fingerprint
    (schema + count + content xor-hash — closing the reuse hole where
    a name is re-bound to different data of the same shape). The
    incoming-side fingerprint costs one scan of the SOURCE df — cheap
    against the bucketed rewrite it can avoid; a location without a
    sidecar (pre-fingerprint cache) is rebuilt once."""
    if not loc.exists():
        return False
    try:
        side = loc / "_fingerprint.json"
        if not side.exists():
            return False
        stored = json.loads(side.read_text())
        return stored == _fingerprint(df)
    except Exception:
        return False


def bucketed_join(
    left: DataFrame,
    left_name: str,
    left_key: str,
    right: DataFrame,
    right_name: str,
    right_key: str,
    buckets: int = N_BUCKETS,
) -> DataFrame:
    """Co-located equi-join through the bucketed layout: both sides
    land in the same number of buckets on their join key, so the
    SortMergeJoin consumes the buckets directly — NO Exchange and NO
    Sort on either side (asserted in tests/test_storage_layout.py)."""
    lt = bucketed_table(left, left_name, left_key, buckets)
    rt = bucketed_table(right, right_name, right_key, buckets)
    return lt.join(rt, lt[left_key] == rt[right_key])


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    id_col: str = "path",
    size_col: str = "size",
) -> DataFrame:
    """Small-file compaction planning — the lakehouse maintenance op
    that turns a directory of 10k tiny parquet files into rewrite
    groups of ~`target_bytes`: files are laid end-to-end in id order
    and cut into bins wherever the running total crosses the target
    (first-fit in a FIXED order, so the plan is deterministic and
    incremental runs produce stable group ids). Returns one row per
    bin: (bin, n_files, total_size, first_id, last_id).

    Scale shape: a running cumulative sum over the id order, bin =
    floor((cumsum - size) / target) — the file BEFORE this one
    decides the bin, so a file larger than the target gets its own
    bin and never splits. The window is a single global order over
    the FILE LISTING (catalog-sized: one row per file, ~10^5 rows for
    a 100 TB table — not data-sized), then a per-bin aggregate. The
    data itself is never read; executing the plan is the rewrite
    job's problem."""
    from pyspark.sql import Window

    w = (
        Window.orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # integer `div` on the long cumsum, not double '/' then cast:
    # doubles lose exactness past ~2^53 cumulative bytes (multi-PB
    # catalogs), where a near-boundary quotient could round across a
    # bin edge; sizes are non-negative so div == floor here
    binned = files.select(
        F.col(id_col).alias("__id"),
        F.col(size_col).alias("__sz"),
        (
            (F.sum(size_col).over(w) - F.col(size_col)).cast("long")
        ).alias("__cb"),
    ).select(
        "__id",
        "__sz",
        F.expr(f"__cb div {int(target_bytes)}").cast("long").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("__sz").cast("long").alias("total_size"),
        F.min("__id").alias("first_id"),
        F.max("__id").alias("last_id"),
    )


def zonemap_stats(
    df: DataFrame,
    file_col: str,
    stat_cols: list[str],
) -> DataFrame:
    """Per-file zone maps — the min/max column statistics every
    parquet footer / Iceberg manifest / Delta checkpoint carries, and
    the thing that lets a 100 TB scan read 0.1 TB: one row per file
    with (n_rows, min_<c>, max_<c> for each stat column). One
    map-side-combinable hash aggregate over the table; the output is
    CATALOG-sized (one row per file, ~10^5 rows for a 100 TB table),
    never data-sized."""
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.col(file_col).alias("file_id")).agg(*aggs)


def zonemap_prune(
    stats: DataFrame,
    stat_col: str,
    lo,
    hi,
) -> DataFrame:
    """Evaluate a half-open range predicate `lo <= col < hi` against
    zone maps: adds `can_skip` — true iff NO row in the file can
    match (max < lo, or min >= hi, or the file has no non-NULL value
    so both stats are NULL). This is the planner-side file-skipping
    decision; rows are catalog-sized, the data is never read. The
    decision is conservative the safe way: a file with any overlap
    keeps can_skip = false even if no row actually matches."""
    mn, mx = F.col(f"min_{stat_col}"), F.col(f"max_{stat_col}")
    can_skip = F.when(
        mn.isNull() | mx.isNull(), F.lit(True)
    ).otherwise((mx < F.lit(lo)) | (mn >= F.lit(hi)))
    return stats.withColumn("can_skip", can_skip)
