"""Storage-layout scale techniques: bucketed co-located joins and
partition-pruned scans — the on-disk side of the SCALE.md posture,
asserted against real written tables.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.sources.readers import scan_parquet
from tests.test_plans import plan_text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return str(tmp_path_factory.mktemp("wh"))


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    """Pre-bucketing both sides on the join key makes the join
    exchange-free — the co-located-join pattern for repeated joins of
    100 TB facts. (8 buckets here; thousands on a real cluster.)"""
    li = scan_parquet(spark, SF, "lineitem")
    od = scan_parquet(spark, SF, "orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", f"{warehouse}/li_b"
    ).mode("overwrite").saveAsTable("li_b")
    od.withColumn("o_key", F.col("o_orderkey")).write.bucketBy(
        8, "o_key"
    ).sortBy("o_key").option("path", f"{warehouse}/od_b").mode(
        "overwrite"
    ).saveAsTable("od_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would auto-broadcast; force the shuffle-vs-
        # bucket decision that a 100 TB fact-fact join actually faces.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("li_b")
            .join(
                spark.table("od_b"),
                F.col("l_orderkey") == F.col("o_key"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        p = plan_text(j)
        # the join itself must not exchange either bucketed side;
        # the only exchange allowed is the final tiny groupBy.
        join_part = p.split("HashAggregate")[-1]
        assert "SortMergeJoin" in p
        assert "Exchange" not in join_part, p
        # cross-check the result against the plain (shuffling) join
        plain = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, j.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_bucketed_join_helper_is_colocated(spark):
    """The layout.bucketed_join operator (the form the registry's
    join_bucketed query uses) keeps the SMJ exchange- and sort-free
    once broadcast is off the table."""
    from mapreduce_chisquare_spark.operators.layout import bucketed_join

    li = scan_parquet(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = scan_parquet(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(
            li, "li_bkt_hlp", "l_orderkey", od, "od_bkt_hlp", "o_orderkey"
        )
        p = plan_text(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bkt_hlp")
        spark.sql("DROP TABLE IF EXISTS od_bkt_hlp")


def test_bloom_prefilter_cuts_fact_rows_and_stays_exact(spark):
    """The Bloom prefilter must (a) pass every true-matching fact row,
    (b) cut the non-matching bulk to a few-percent false-positive
    residue, and (c) produce exactly the plain join after the real
    join runs."""
    from mapreduce_chisquare_spark.operators.bloomjoin import (
        bloom_prefiltered_join,
        build_bloom,
        might_contain,
    )

    od = scan_parquet(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = scan_parquet(spark, SF, "lineitem").select("l_orderkey")
    words = build_bloom(od, "o_orderkey")
    n_all = li.count()
    n_pref = li.filter(might_contain(words, "l_orderkey")).count()
    n_true = li.join(od, li.l_orderkey == od.o_orderkey, "left_semi").count()
    assert n_true <= n_pref < n_all  # no false negatives, real cut
    # false-positive residue bounded (filter is sized for ~2% FPR;
    # allow generous slack)
    assert (n_pref - n_true) <= 0.1 * n_all
    j = bloom_prefiltered_join(li, "l_orderkey", od, "o_orderkey")
    assert j.count() == li.join(od, li.l_orderkey == od.o_orderkey).count()


def test_partitioned_write_prunes_partitions(spark, warehouse):
    """Writing facts partitioned by a coarse time/key column lets the
    scan skip whole directories: PartitionFilters, zero rows read from
    other partitions."""
    ev = scan_parquet(spark, SF, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = f"{warehouse}/ev_part"
    ev.write.partitionBy("day").mode("overwrite").parquet(path)
    days = [r.day for r in ev.select("day").distinct().collect()]
    one = sorted(days)[0]
    rd = spark.read.parquet(path).filter(F.col("day") == F.lit(one))
    p = plan_text(rd)
    assert "PartitionFilters" in p and "isnotnull(day" in p
    assert rd.count() == ev.filter(F.col("day") == F.lit(one)).count()


def test_bucketed_table_reuse_is_content_fingerprinted(spark):
    """Rebinding a bucketed-table name to DIFFERENT data of the same
    schema and row count must trigger a rebuild — the fingerprint
    sidecar (schema + count + content xor-hash) closes the reuse hole
    the old schema+count guard left open — while byte-identical data
    reuses the existing layout without a rewrite."""
    import time

    from mapreduce_chisquare_spark.operators.layout import bucketed_table
    from mapreduce_chisquare_spark.sources.fixtures import _CACHE

    name = "fp_guard_tbl"
    loc = _CACHE / "bucketed" / name
    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, v string"
    )
    b = spark.createDataFrame(  # same schema, same count, new data
        [(1, "x"), (2, "y"), (3, "DIFFERENT")], "k long, v string"
    )
    try:
        t1 = bucketed_table(a, name, "k")
        assert {r.v for r in t1.collect()} == {"x", "y", "z"}
        mtime1 = (loc / "_fingerprint.json").stat().st_mtime_ns
        # identical data: reuse, no rewrite (sidecar untouched)
        t1b = bucketed_table(a, name, "k")
        assert (loc / "_fingerprint.json").stat().st_mtime_ns == mtime1
        assert {r.v for r in t1b.collect()} == {"x", "y", "z"}
        # same shape, different content: must rebuild and serve b
        time.sleep(0.01)
        t2 = bucketed_table(b, name, "k")
        assert {r.v for r in t2.collect()} == {"x", "y", "DIFFERENT"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_fingerprint_is_multiplicity_sensitive(spark):
    """bit_xor alone cancels on even multiplicities: {A,A,A,B} and
    {A,B,B,B} have equal schema, count, AND xor (x^x^x^y == x^y^y^y).
    The sum combiner must split them — a rebound name serving stale
    bucketed data on duplicate-heavy dedup fixtures is exactly the
    silent-reuse hole the sidecar exists to close."""
    from mapreduce_chisquare_spark.operators.layout import _fingerprint

    a = spark.createDataFrame(
        [(1, "A"), (1, "A"), (1, "A"), (2, "B")], "k long, v string"
    )
    b = spark.createDataFrame(
        [(1, "A"), (2, "B"), (2, "B"), (2, "B")], "k long, v string"
    )
    fa, fb = _fingerprint(a), _fingerprint(b)
    assert (fa["schema"], fa["count"], fa["xor"]) == (
        fb["schema"],
        fb["count"],
        fb["xor"],
    )  # the collision the xor-only scheme missed
    assert fa["sum"] != fb["sum"]
    assert fa != fb
