"""Time-series, warehouse-maintenance, embedding-stat, and stream-enrich builders + oracle SQL.

Split from registry_extensions.py (round 12) — pure mechanical move;
registration order is unchanged (registry_extensions.py registers).
"""

from __future__ import annotations

from .ext_common import (
    DataFrame,
    F,
    SQL_DELIM,
    SparkSession,
    _docs,
    _emb,
    _events,
    binarize_documents,
    cu,
    dd,
    scan_parquet,
    ss,
    tx,
)
from .ext_retrieval import (
    _PAIR_CTES,
    _STOP_LIST,
    _cos_sql,
    _minhash_band_ctes,
    _sh_ctes_n,
)
from .ext_media import (
    _IVF_ASG_CTES,
    _km_cents,
)

# =========================================================================
# Time series, warehouse maintenance, embedding stats, stream enrich
# =========================================================================

def resample_ffill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import resample_ffill

    return resample_ffill(_events(spark, sf_dir))


SQL_RESAMPLE_FFILL = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS us, value,
         (epoch_us(ts) // 1000000 // 3600) * 3600 AS h
  FROM events WHERE user_id < 40),
lv AS (
  SELECT user_id, h, value FROM (
    SELECT user_id, h, value,
      row_number() OVER (PARTITION BY user_id, h
                         ORDER BY us DESC, value DESC) AS rn
    FROM o) t WHERE rn = 1),
n AS (
  SELECT user_id, h, CAST(count(*) AS BIGINT) AS n_events
  FROM o GROUP BY user_id, h),
sp AS (
  SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS h
  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
        FROM o GROUP BY user_id) t)
SELECT sp.user_id, sp.h AS hour_start,
  coalesce(n.n_events, 0) AS n_events,
  last_value(lv.value IGNORE NULLS) OVER (
    PARTITION BY sp.user_id ORDER BY sp.h) AS value_ffill
FROM sp
LEFT JOIN lv ON sp.user_id = lv.user_id AND sp.h = lv.h
LEFT JOIN n  ON sp.user_id = n.user_id  AND sp.h = n.h
"""


_DQ_COLUMNS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


def dq_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import dq_profile

    return dq_profile(
        scan_parquet(spark, sf_dir, "orders"), _DQ_COLUMNS
    )


def _dq_sql() -> str:
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    parts = []
    for c in _DQ_COLUMNS:
        # the non-numeric branch still needs an aggregate wrapper or
        # the SELECT degenerates to one row per input row
        mm_min = (
            f"CAST(min({c}) AS DOUBLE)"
            if c in numeric
            else "max(CAST(NULL AS DOUBLE))"
        )
        mm_max = (
            f"CAST(max({c}) AS DOUBLE)"
            if c in numeric
            else "max(CAST(NULL AS DOUBLE))"
        )
        # distinct_est_ok mirrors the Spark side's self-check: each
        # engine's OWN approximate-distinct estimate within 5% of its
        # OWN exact count (estimates are engine-specific, the flag is
        # the engine-independent contract).
        parts += [
            f"SELECT '{c}' AS \"column\", 'rows' AS metric, CAST(count(*) AS DOUBLE) AS value FROM orders",
            f"SELECT '{c}', 'nulls', CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders",
            f"SELECT '{c}', 'distinct', CAST(count(DISTINCT {c}) AS DOUBLE) FROM orders",
            f"SELECT '{c}', 'distinct_est_ok', CASE WHEN abs(CAST(approx_count_distinct({c}) AS DOUBLE) - count(DISTINCT {c})) <= 0.05 * count(DISTINCT {c}) THEN 1.0 ELSE 0.0 END FROM orders",
            f"SELECT '{c}', 'min', {mm_min} FROM orders",
            f"SELECT '{c}', 'max', {mm_max} FROM orders",
        ]
    return " UNION ALL ".join(parts)


SQL_DQ_PROFILE = _dq_sql()


def scd2_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Updates derived deterministically from the dimension itself:
    custkey % 7 == 0 -> balance change; % 13 (and not % 7) -> touched
    but unchanged; % 31 -> new key (custkey + 10000). Exercises every
    merge branch with no side fixture."""
    from ..operators.warehouse import scd2_merge

    cust = scan_parquet(spark, sf_dir, "customer")
    changed = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal")
    )
    untouched = cust.filter(
        (F.col("c_custkey") % 13 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select("c_custkey", "c_acctbal")
    inserts = cust.filter(F.col("c_custkey") % 31 == 0).select(
        (F.col("c_custkey") + F.lit(10000)).alias("c_custkey"), "c_acctbal"
    )
    updates = changed.unionByName(untouched).unionByName(inserts)
    return scd2_merge(cust, updates, "c_custkey", "c_acctbal")


SQL_SCD2_MERGE = """
WITH u AS (
  SELECT c_custkey AS k, c_acctbal + 100.0 AS new_v FROM customer
  WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_custkey % 13 = 0 AND c_custkey % 7 <> 0
  UNION ALL
  SELECT c_custkey + 10000, c_acctbal FROM customer
  WHERE c_custkey % 31 = 0),
b AS (SELECT c_custkey AS k, c_acctbal AS old_v FROM customer),
j AS (SELECT coalesce(b.k, u.k) AS k, old_v, new_v
      FROM b FULL OUTER JOIN u ON b.k = u.k)
SELECT k AS c_custkey, old_v AS c_acctbal,
       CAST(1 AS INTEGER) AS version,
       CASE WHEN new_v IS NOT NULL AND new_v <> old_v
            THEN false ELSE true END AS is_current
FROM j WHERE old_v IS NOT NULL
UNION ALL
SELECT k, new_v,
       CASE WHEN old_v IS NULL THEN CAST(1 AS INTEGER)
            ELSE CAST(2 AS INTEGER) END,
       true
FROM j WHERE new_v IS NOT NULL AND (old_v IS NULL OR new_v <> old_v)
"""


def embed_label_means_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, laid out as (label, d, mean)
    rows. Means from integer-quantized dimension sums (the kmeans
    pattern, simsearch.KMEANS_SCALE): exact, order-independent across
    partials, bit-identical in the oracle. One posexplode + one hash
    aggregate — map-side combined, no wide agg buffer."""
    emb = _emb(spark, sf_dir)
    e = emb.select("label", F.posexplode("embedding").alias("d", "x"))
    return e.groupBy("label", "d").agg(
        (
            F.sum(
                F.round(F.col("x").cast("double") * F.lit(ss.KMEANS_SCALE)).cast(
                    "long"
                )
            ).cast("double")
            / (F.lit(ss.KMEANS_SCALE) * F.count("*").cast("double"))
        ).alias("mean")
    )


SQL_EMBED_LABEL_MEANS = f"""
SELECT label, CAST(r.d AS INTEGER) AS d,
  CAST(sum(CAST(round(CAST(embedding[r.d + 1] AS DOUBLE) * {ss.KMEANS_SCALE})
                AS BIGINT)) AS DOUBLE)
    / ({ss.KMEANS_SCALE} * CAST(count(*) AS DOUBLE)) AS mean
FROM embeddings, UNNEST(range({ss.DIM})) AS r(d)
GROUP BY label, r.d
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass over the binary media table: mapInPandas byte-
    stride downsample (deterministic stand-in for the per-blob codec
    call — operators/multimodal.py resize_batch), digest JVM-side.
    The oracle reproduces the stride with a pairwise regexp_replace
    on the source text (payloads are its UTF-8 bytes, ASCII here)."""
    from ..operators.multimodal import resize_media

    return resize_media(binarize_documents(_docs(spark, sf_dir)))


SQL_MULTIMODAL_RESIZE = r"""
WITH r AS (
  SELECT doc_id, text,
         regexp_replace(text, '(.)(.)', '\1', 'g') AS th
  FROM documents)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(length(th) AS BIGINT) AS resized_bytes,
       md5(th) AS resized_md5
FROM r
"""


def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus assembly, every curation pass
    composed in ONE DataFrame plan: quality gate (token count + stop
    ratio) -> repetition gate (dup_token_ratio <= 0.65) -> benchmark
    decontamination (5-gram anti-join, eval source excluded) -> exact
    dedup (keep min doc_id per content hash) -> per-source quota (20,
    deterministic hash order). The full 100 TB corpus pass: map-side
    metric gates, one broadcast anti-join, one dedup shuffle, one
    bounded-state quota window — no driver round-trips between
    stages. Both metric gates are inline scan predicates
    (tx.quality_gate / cu.repetition_gate): the r1-r3 form joined two
    metric relations back on doc_id, reading the corpus three times
    and paying two equi-joins for what one scan's WHERE clause
    expresses."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    kept = cu.repetition_gate(
        tx.quality_gate(docs.filter(F.col("source") != "src0"))
    ).join(cu.decontaminate(docs), "doc_id", "left_anti")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    wq = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        deduped.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 20)
        .select(
            "doc_id", "source", "lang", F.length("text").alias("n_chars")
        )
    )


SQL_PIPELINE_TRAINING_CORPUS = (
    "WITH "
    + _sh_ctes_n(cu.DECONTAM_SHINGLE_N)
    + """,
ev AS (SELECT DISTINCT s.shingle FROM sh s
       JOIN documents d USING (doc_id) WHERE d.source = 'src0'),
tr AS (SELECT s.doc_id, s.shingle FROM sh s
       JOIN documents d USING (doc_id) WHERE d.source <> 'src0'),
contam AS (SELECT tr.doc_id FROM tr JOIN ev USING (shingle)
           GROUP BY tr.doc_id HAVING count(*) >= 1),
toks AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
  FROM documents),
q AS (SELECT doc_id FROM toks
  WHERE len(arr) >= 5 AND
    (CASE WHEN len(arr) > 0
      THEN CAST(len(list_filter(arr, x -> list_contains({stops}, x))) AS DOUBLE)
           / CAST(len(arr) AS DOUBLE)
      ELSE 0.0 END) <= 0.6),
rep AS (SELECT doc_id FROM toks WHERE len(arr) > 0 AND
    1.0 - CAST(len(list_distinct(arr)) AS DOUBLE) / CAST(len(arr) AS DOUBLE)
      <= 0.65),
kept AS (
  SELECT d.* FROM documents d
  JOIN q USING (doc_id) JOIN rep USING (doc_id)
  WHERE d.source <> 'src0'
    AND d.doc_id NOT IN (SELECT doc_id FROM contam)),
dedup AS (SELECT * FROM (
    SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept d) WHERE rn = 1)
SELECT doc_id, source, lang, CAST(length(text) AS INTEGER) AS n_chars
FROM (SELECT *, row_number() OVER (
        PARTITION BY source
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM dedup) WHERE rk <= 20
"""
)
# .replace, not .format: the shingle CTE may carry regex braces
SQL_PIPELINE_TRAINING_CORPUS = SQL_PIPELINE_TRAINING_CORPUS.replace(
    "{stops}", _STOP_LIST
)


def zorder_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over (l_orderkey, l_partkey) for a deterministic
    lineitem slice — the clustering key behind multi-dimensional
    zone-map pruning (operators/layout.py; layout pass itself is
    demonstrated on written files in tests/test_storage_layout.py)."""
    from ..operators.layout import zorder_col

    li = scan_parquet(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 2000
    )
    return li.select(
        "l_orderkey",
        "l_partkey",
        zorder_col("l_orderkey", "l_partkey").alias("zval"),
    )


def _zorder_sql() -> str:
    from ..operators.layout import zorder_sql

    return (
        "SELECT l_orderkey, l_partkey, "
        f"{zorder_sql('l_orderkey', 'l_partkey')} AS zval "
        "FROM lineitem WHERE l_orderkey < 2000"
    )


SQL_ZORDER_VALUES = _zorder_sql()


def sink_partitioned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sink roundtrip: write documents partitionBy(lang),
    read back ONE partition. The read-back scan carries
    PartitionFilters (directory-level pruning — other partitions'
    files are never opened); parity against the parquet source proves
    the write+prune path end to end."""
    from pathlib import Path as _P

    from ..sources.fixtures import _CACHE
    from ..sources.sinks import write_parquet

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars", "lang")
    path = str(_CACHE / f"sink_part_{_P(sf_dir).name}")
    write_parquet(docs, path, ["lang"])
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "de")
        .select("doc_id", "lang", "n_chars")
    )


SQL_SINK_PARTITIONED = (
    "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'de'"
)


def join_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located fact join: lineitem and orders land in 8
    buckets on the order key (one-time layout cost, cached as
    metastore tables per SF), so the SortMergeJoin reads the buckets
    directly — the only Exchange in the whole plan is the final
    priority aggregation."""
    from pathlib import Path as _P

    from ..operators.layout import bucketed_join

    tag = _P(sf_dir).name.replace(".", "_")
    li = scan_parquet(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    od = scan_parquet(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    j = bucketed_join(
        li, f"li_bkt_{tag}", "l_orderkey", od, f"od_bkt_{tag}", "o_orderkey"
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        (F.sum("cents") / F.lit(100.0)).alias("sum_price"),
    )


SQL_JOIN_BUCKETED = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def join_bloom_prefilter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: urgent Q3-1996 orders' keys become a
    64 Kib Bloom applied map-side on the lineitem scan BEFORE the
    join, so ~97% of fact rows never reach it; false positives die in
    the real join, making the plain join the oracle."""
    from ..operators.bloomjoin import bloom_prefiltered_join

    od = scan_parquet(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    ).select("o_orderkey", "o_orderstatus")
    li = scan_parquet(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    j = bloom_prefiltered_join(li, "l_orderkey", od, "o_orderkey")
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        (F.sum("cents") / F.lit(100.0)).alias("sum_price"),
    )


SQL_JOIN_BLOOM = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
GROUP BY o_orderstatus
"""


def ngram_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.ngram_counts(_docs(spark, sf_dir))


SQL_NGRAM_COUNTS = """
WITH w AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
  FROM documents),
g AS (
  SELECT unnest(CASE WHEN len(arr) >= 3 THEN
           list_transform(range(1, len(arr) - 1),
                          i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2])
         ELSE [] END) AS ngram
  FROM w)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_count
FROM g GROUP BY ngram
ORDER BY n_count DESC, ngram ASC
LIMIT 50
"""


SQL_STREAM_QUALITY = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
  FROM documents),
m AS (SELECT doc_id, lang, CAST(len(arr) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(arr, x -> list_contains({_STOP_LIST}, x))) AS BIGINT) AS n_stop
      FROM t),
r AS (SELECT doc_id, lang, n_tokens,
        CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             ELSE 0.0 END AS stop_ratio
      FROM m)
SELECT doc_id, lang, n_tokens, stop_ratio
FROM r WHERE n_tokens >= 20 AND stop_ratio <= 0.10
"""


_KEYWORDS = ("data", "model", "learning", "system")


def explode_outer_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving generate: per-document keyword matches exploded
    with explode_outer, so documents matching NOTHING survive as a
    (doc_id, NULL) row — the left-join-lateral semantics a tagging
    pipeline needs when unmatched rows must not be dropped (plain
    explode silently loses them)."""
    kw = F.array(*[F.lit(k) for k in _KEYWORDS])
    words = F.filter(
        F.split(F.lower(F.col("text")), "\\s+"), lambda t: t != ""
    )
    matches = F.array_intersect(F.array_distinct(words), kw)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", matches.alias("__m"))
        .select("doc_id", F.explode_outer("__m").alias("keyword"))
    )


_KW_LIST = "[" + ", ".join(f"'{k}'" for k in _KEYWORDS) + "]"

SQL_EXPLODE_OUTER = f"""
WITH t AS (
  SELECT doc_id,
    list_intersect(
      list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')),
      {_KW_LIST}) AS m
  FROM documents)
SELECT doc_id,
  unnest(CASE WHEN len(m) = 0 OR m IS NULL THEN [CAST(NULL AS VARCHAR)]
         ELSE m END) AS keyword
FROM t
"""


def rollup_multigrain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: daily totals re-aggregated FROM
    the hourly partials, not from raw events — at 100 TB the hourly
    relation is ~1/10^4 the raw size, so every coarser grain costs a
    re-aggregation of partials (sum-of-sums / sum-of-counts are exact
    under regrouping). The oracle aggregates raw directly; equality
    proves the two-level rollup is lossless."""
    ev = scan_parquet(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
    )
    return (
        hourly.groupBy(
            F.to_date(F.date_trunc("day", F.col("hour_start"))).alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )


SQL_ROLLUP_MULTIGRAIN = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
"""


def sink_orc_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back parity: documents projected, written as
    ORC (repo cache), read back. The oracle reads the same projection
    from the parquet source — equality proves the columnar round trip
    (types, nulls, strings) through the second format."""
    from pathlib import Path as _P

    from ..sources.fixtures import _CACHE
    from ..sources.sinks import write_orc

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    path = str(_CACHE / f"sink_orc_{_P(sf_dir).name}")
    write_orc(docs, path)
    return spark.read.orc(path).select("doc_id", "lang", "n_chars")


SQL_SINK_ORC = "SELECT doc_id, lang, n_chars FROM documents"


def doc_chunk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


SQL_DOC_CHUNK = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
  FROM documents),
c AS (
  SELECT doc_id, arr,
         unnest(range(0, CAST(ceil(len(arr) / 50.0) AS INT))) AS chunk_id
  FROM t WHERE len(arr) > 0)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(len(list_slice(arr, chunk_id * 50 + 1, chunk_id * 50 + 50)) AS BIGINT) AS n_tokens,
  array_to_string(list_slice(arr, chunk_id * 50 + 1, chunk_id * 50 + 50), ' ') AS chunk_text
FROM c
"""


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))


SQL_PACK_SEQUENCES = """
WITH t AS (
  SELECT lang AS part, doc_id,
    CAST(greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')), 0) AS BIGINT) AS n_tokens
  FROM documents),
b AS (
  SELECT part, n_tokens,
    CAST(floor((sum(n_tokens) OVER (PARTITION BY part ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 512.0) AS BIGINT)
      AS bin_id
  FROM t)
SELECT part, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM b GROUP BY part, bin_id
"""


SQL_STREAM_STATIC_JOIN = """
SELECT e.event_id, e.user_id, n.n_name, e.value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id + 1
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE e.event_type = 'purchase'
"""


# ---- corpus organization: dedup pipeline, sharding, split ----------

# Engine-portable 32-bit id hash (mirror of curation._id_hash32):
# first 8 md5 hex digits of the decimal id string, expanded with the
# strpos digit trick DuckDB shares with the simhash/minhash oracles.
_ID_HASH32_SQL = " + ".join(
    "(strpos('0123456789abcdef', "
    "substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)".format(i=i + 1)
    + f" * {16 ** (8 - i - 1)}"
    for i in range(8)
)


def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal over documents: candidate pairs →
    components → drop non-representatives; emits the surviving
    (doc_id, lang, source) rows. The composed form of
    dedup_minhash_lsh + dedup_components + a left-anti join — ONE
    plan, no driver round-trips (operators/dedup.py:dedup_corpus)."""
    return dd.dedup_corpus(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source"
    )


SQL_PIPELINE_DEDUP_CORPUS = (
    "WITH RECURSIVE " + _PAIR_CTES + ", "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), "
    "comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component_id "
    "FROM reach GROUP BY src), "
    "drop AS (SELECT doc_id FROM comp WHERE doc_id <> component_id) "
    "SELECT d.doc_id, d.lang, d.source FROM documents d "
    "WHERE d.doc_id NOT IN (SELECT doc_id FROM drop)"
)


def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_dedup_corpus with the quality-ranked survivor policy:
    each near-dup component keeps its longest member (n_chars DESC,
    doc_id ASC), not the arbitrary min-id one
    (operators/dedup.py dedup_corpus_keep_best)."""
    return dd.dedup_corpus_keep_best(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_DEDUP_KEEP_BEST = (
    "WITH RECURSIVE " + _PAIR_CTES + ", "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), "
    "comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component_id "
    "FROM reach GROUP BY src), "
    "rk AS (SELECT c.doc_id, row_number() OVER (PARTITION BY c.component_id "
    "ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn "
    "FROM comp c JOIN documents d USING (doc_id)), "
    "drop AS (SELECT doc_id FROM rk WHERE rn > 1) "
    "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
    "WHERE d.doc_id NOT IN (SELECT doc_id FROM drop)"
)


def corpus_shard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.corpus_shard(_docs(spark, sf_dir))


SQL_CORPUS_SHARD = f"""
WITH h AS (SELECT doc_id, ({_ID_HASH32_SQL}) AS h FROM documents),
s AS (SELECT doc_id, h, CAST(h % 16 AS INTEGER) AS shard FROM h)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM s
"""


def corpus_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.train_split(_docs(spark, sf_dir))


SQL_CORPUS_SPLIT = f"""
SELECT doc_id,
  CASE WHEN ({_ID_HASH32_SQL}) % 100 < 90 THEN 'train'
       WHEN ({_ID_HASH32_SQL}) % 100 < 95 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


def sample_weighted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.sample_weighted(_docs(spark, sf_dir))


SQL_SAMPLE_WEIGHTED = f"""
SELECT doc_id, n_chars,
  -ln((({_ID_HASH32_SQL}) + CAST(1 AS DOUBLE)) / 4294967296.0)
    / CAST(n_chars AS DOUBLE) AS es_key
FROM documents
WHERE CAST(n_chars AS DOUBLE) > 0
ORDER BY es_key ASC, doc_id ASC
LIMIT 100
"""


def sample_weighted_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.sample_weighted_per_group(_docs(spark, sf_dir))


SQL_SAMPLE_WEIGHTED_PER_SOURCE = f"""
WITH s AS (
  SELECT doc_id, source, n_chars,
    -ln((({_ID_HASH32_SQL}) + CAST(1 AS DOUBLE)) / 4294967296.0)
      / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0)
SELECT doc_id, source, n_chars, es_key, pos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
             ORDER BY es_key ASC, doc_id ASC) AS BIGINT) AS pos
  FROM s) WHERE pos <= 10
"""


def source_temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.source_temperature(_docs(spark, sf_dir))


SQL_SOURCE_TEMPERATURE = f"""
WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
           FROM documents WHERE source IS NOT NULL GROUP BY source),
w AS (SELECT source,
        CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1048576) AS BIGINT) AS ws
      FROM c),
t AS (SELECT sum(ws) AS wt FROM w),
tgt AS (SELECT source, greatest(CAST(1 AS BIGINT), (200 * ws) // wt)
          AS target_n FROM w CROSS JOIN t),
r AS (SELECT doc_id, source,
        CAST(row_number() OVER (PARTITION BY source
             ORDER BY ({_ID_HASH32_SQL}), doc_id) AS BIGINT) AS pos
      FROM documents WHERE source IS NOT NULL)
SELECT r.doc_id, r.source, r.pos
FROM r JOIN tgt USING (source) WHERE r.pos <= tgt.target_n
"""


# --- Product quantization oracle: the whole per-subspace Lloyd fit +
# ADC scoring replicated in DuckDB SQL (same scheme as the IVF oracle
# _km_ctes, with squared-L2 argmin and codebooks as c0..c7 scalar
# columns so every arithmetic step is an explicit left-to-right
# double expression, bit-identical to the Spark/Arrow forms).

_PQ_M, _PQ_K, _PQ_SD, _PQ_ITERS = ss.M_SUB, ss.K_SUB, ss.SUB_DIM, ss.PQ_ITERS
_PQ_MS = "[" + ", ".join(str(m) for m in range(_PQ_M)) + "]"


def _pq_l2_sql(emb: str, m: str, book: str) -> str:
    """Squared L2 of subspace `m` of list column `emb` against codebook
    alias `book` (columns c0..c{SD-1}); terms sum left-to-right."""
    terms = []
    for d in range(_PQ_SD):
        x = f"CAST(list_extract({emb}, {m}*{_PQ_SD}+{d + 1}) AS DOUBLE)"
        terms.append(f"(({x} - {book}.c{d}) * ({x} - {book}.c{d}))")
    return " + ".join(terms)


def _pq_ctes(p: str = "") -> str:
    """PQ fit + encode CTE chain; `p` prefixes every generated CTE
    name so the chain can coexist with the IVF k-means CTEs (which
    also use a1/a2 internally) in one combined oracle."""
    seed_cols = ", ".join(
        f"CAST(list_extract(e.embedding, s.m*{_PQ_SD}+{d + 1}) AS DOUBLE) AS c{d}"
        for d in range(_PQ_SD)
    )
    sum_cols = ", ".join(
        f"sum(CAST(round(CAST(list_extract(embedding, m*{_PQ_SD}+{d + 1}) "
        f"AS DOUBLE) * 1048576.0) AS BIGINT)) AS s{d}"
        for d in range(_PQ_SD)
    )
    mean_cols = ", ".join(
        f"CASE WHEN s.n IS NULL THEN b.c{d} ELSE "
        f"CAST(s.s{d} AS DOUBLE) / (1048576.0 * CAST(s.n AS DOUBLE)) END AS c{d}"
        for d in range(_PQ_SD)
    )
    parts = [
        f"{p}subm AS (SELECT e.vec_id, e.embedding, s.m "
        f"FROM embeddings e, UNNEST({_PQ_MS}) AS s(m))",
        f"{p}b0 AS (SELECT s.m, e.vec_id AS code, {seed_cols} "
        f"FROM embeddings e, UNNEST({_PQ_MS}) AS s(m) "
        f"WHERE e.vec_id < {_PQ_K})",
    ]
    for t in range(_PQ_ITERS):
        parts.append(
            f"{p}a{t + 1} AS (SELECT vec_id, embedding, m, code FROM ("
            f"SELECT x.vec_id, x.embedding, x.m, b.code, "
            f"row_number() OVER (PARTITION BY x.vec_id, x.m ORDER BY "
            f"{_pq_l2_sql('x.embedding', 'x.m', 'b')} ASC, b.code ASC) AS rn "
            f"FROM {p}subm x JOIN {p}b{t} b ON b.m = x.m) WHERE rn = 1)"
        )
        parts.append(
            f"{p}s{t + 1} AS (SELECT m, code, count(*) AS n, {sum_cols} "
            f"FROM {p}a{t + 1} GROUP BY m, code)"
        )
        parts.append(
            f"{p}b{t + 1} AS (SELECT b.m, b.code, {mean_cols} "
            f"FROM {p}b{t} b LEFT JOIN {p}s{t + 1} s "
            f"ON s.m = b.m AND s.code = b.code)"
        )
    bf = f"{p}b{_PQ_ITERS}"
    parts.append(
        f"{p}codes AS (SELECT vec_id, m, code FROM ("
        f"SELECT x.vec_id, x.m, b.code, "
        f"row_number() OVER (PARTITION BY x.vec_id, x.m ORDER BY "
        f"{_pq_l2_sql('x.embedding', 'x.m', 'b')} ASC, b.code ASC) AS rn "
        f"FROM {p}subm x JOIN {bf} b ON b.m = x.m) WHERE rn = 1)"
    )
    return ", ".join(parts)


def simsearch_pq_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codes flattened to a CSV string so every result column is
    hashable by the driver canonicalizer (the embed_quantize lesson)."""
    e = _emb(spark, sf_dir)
    enc = ss.pq_encode(e, books=_pq_books(spark, sf_dir))
    return enc.select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias(
            "codes_csv"
        ),
    )


SQL_PQ_ENCODE = (
    "WITH " + _pq_ctes() + " "
    "SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY m) "
    "AS codes_csv FROM codes GROUP BY vec_id"
)


def _pq_adc_sql() -> str:
    terms = []
    for m in range(_PQ_M):
        for d in range(_PQ_SD):
            x = (
                f"CAST(list_extract(q.q_emb, {m}*{_PQ_SD}+{d + 1}) "
                f"AS DOUBLE)"
            )
            terms.append(f"(({x} - p{m}.c{d}) * ({x} - p{m}.c{d}))")
    return " + ".join(terms)


def simsearch_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.pq_adc_topk(_emb(spark, sf_dir), books=_pq_books(spark, sf_dir))


def _pq_code_cols() -> str:
    return ", ".join(
        f"max(CASE WHEN m = {m} THEN code END) AS k{m}"
        for m in range(_PQ_M)
    )


_PQ_SCORED_CTES = (
    f"codes_w AS (SELECT vec_id, {_pq_code_cols()} FROM codes "
    "GROUP BY vec_id), "
    "q AS (SELECT vec_id AS query_id, embedding AS q_emb "
    "FROM embeddings WHERE vec_id < 8), "
    "scored AS (SELECT q.query_id, v.vec_id, "
    f"{_pq_adc_sql()} AS adc_dist "
    "FROM codes_w v CROSS JOIN q "
    + " ".join(
        f"JOIN b{_PQ_ITERS} p{m} ON p{m}.m = {m} AND p{m}.code = v.k{m}"
        for m in range(_PQ_M)
    )
    + " WHERE v.vec_id <> q.query_id), "
    "r AS (SELECT query_id, vec_id, adc_dist, CAST(row_number() OVER "
    "(PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) "
    "AS INTEGER) AS rank FROM scored)"
)

SQL_PQ_TOPK = (
    "WITH " + _pq_ctes() + ", " + _PQ_SCORED_CTES
    + " SELECT query_id, vec_id, adc_dist, rank FROM r WHERE rank <= 5"
)


def simsearch_pq_refined_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.pq_refined_topk(
        _emb(spark, sf_dir), books=_pq_books(spark, sf_dir)
    )


SQL_PQ_REFINED = (
    "WITH " + _pq_ctes() + ", " + _PQ_SCORED_CTES + ", "
    "cand AS (SELECT query_id, vec_id FROM r WHERE rank <= 50), "
    "rs AS (SELECT c.query_id, c.vec_id, "
    f"{_cos_sql('q.q_emb', 'e.embedding')} AS cos "
    "FROM cand c JOIN embeddings e USING (vec_id) "
    "JOIN q ON q.query_id = c.query_id), "
    "rr AS (SELECT query_id, vec_id, cos, CAST(row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
    "AS INTEGER) AS rank FROM rs) "
    "SELECT query_id, vec_id, cos, rank FROM rr WHERE rank <= 5"
)


def simsearch_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFPQ search: IVF cell probe (nprobe=1) -> ADC over PQ
    codes -> exact cosine re-rank of the shortlist
    (operators/simsearch.py ivfpq_topk); both fits cached per sf."""
    return ss.ivfpq_topk(
        _emb(spark, sf_dir),
        cents=_km_cents(spark, sf_dir),
        books=_pq_books(spark, sf_dir),
    )


SQL_IVFPQ = (
    "WITH " + _IVF_ASG_CTES + ", " + _pq_ctes("p") + ", "
    f"codes_w AS (SELECT vec_id, {_pq_code_cols()} FROM pcodes "
    "GROUP BY vec_id), "
    "vw AS (SELECT a.vec_id, a.centroid_id, w.* EXCLUDE (vec_id) "
    "FROM codes_w w JOIN asg a USING (vec_id)), "
    "q AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id "
    "FROM asg WHERE vec_id < 8), "
    "scored AS (SELECT q.query_id, v.vec_id, "
    f"{_pq_adc_sql()} AS adc "
    "FROM vw v JOIN q ON q.centroid_id = v.centroid_id "
    + " ".join(
        f"JOIN pb{_PQ_ITERS} p{m} ON p{m}.m = {m} AND p{m}.code = v.k{m}"
        for m in range(_PQ_M)
    )
    + " WHERE v.vec_id <> q.query_id), "
    "r AS (SELECT query_id, vec_id, row_number() OVER "
    "(PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn "
    "FROM scored), "
    "cand AS (SELECT query_id, vec_id FROM r WHERE rn <= 20), "
    "rs AS (SELECT c.query_id, c.vec_id, "
    f"{_cos_sql('q.q_emb', 'e.embedding')} AS cos "
    "FROM cand c JOIN embeddings e USING (vec_id) "
    "JOIN q ON q.query_id = c.query_id), "
    "rr AS (SELECT query_id, vec_id, cos, CAST(row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
    "AS INTEGER) AS rank FROM rs) "
    "SELECT query_id, vec_id, cos, rank FROM rr WHERE rank <= 5"
)


def vocab_topv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-V vocabulary by occurrence count, ties to the
    smaller term (operators/textstats.py vocab_topv)."""
    return tx.vocab_topv(_docs(spark, sf_dir))


_VOCAB_CTES = r"""
toks AS (SELECT doc_id, u.term FROM documents,
  UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '')) AS u(term)),
vc AS (SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
       FROM toks GROUP BY term),
v AS (SELECT term, n_occurrences,
        CAST(row_number() OVER (ORDER BY n_occurrences DESC, term ASC)
             AS INTEGER) AS vrank
      FROM vc ORDER BY n_occurrences DESC, term ASC LIMIT {V})
""".replace("{V}", str(tx.VOCAB_SIZE))

SQL_VOCAB_TOPV = (
    "WITH " + _VOCAB_CTES + " SELECT term, n_occurrences, vrank FROM v"
)


def vocab_oov_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate against the corpus's own top-V vocabulary
    (operators/textstats.py vocab_oov)."""
    return tx.vocab_oov(_docs(spark, sf_dir))


SQL_VOCAB_OOV = (
    "WITH " + _VOCAB_CTES + ", "
    "per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_oov FROM toks t LEFT JOIN v ON v.term = t.term "
    "GROUP BY t.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, "
    "CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov, "
    "CASE WHEN coalesce(p.n_tokens, 0) > 0 THEN "
    "CAST(p.n_oov AS DOUBLE) / CAST(p.n_tokens AS DOUBLE) END AS oov_rate "
    "FROM documents d LEFT JOIN per p USING (doc_id)"
)


def tokens_to_ids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving token->vocab-id mapping (OOV -> 0), ids as a
    CSV string (operators/textstats.py tokens_to_ids)."""
    return tx.tokens_to_ids(_docs(spark, sf_dir))


SQL_TOKENS_TO_IDS = r"""
WITH docsr AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\s+'),
                x -> x <> '') AS arr FROM documents),
toks AS (SELECT doc_id, arr[i] AS term, i AS pos
         FROM docsr, UNNEST(range(1, len(arr) + 1)) AS r(i)),
vc AS (SELECT term, CAST(count(*) AS BIGINT) AS n
       FROM toks GROUP BY term),
v AS (SELECT term,
        CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS INTEGER)
          AS vid
      FROM vc ORDER BY n DESC, term ASC LIMIT {V}),
j AS (SELECT t.doc_id, t.pos, coalesce(v.vid, 0) AS id
      FROM toks t LEFT JOIN v USING (term)),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          array_to_string(list(id ORDER BY pos), ',') AS ids_csv
        FROM j GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  coalesce(p.ids_csv, '') AS ids_csv
FROM documents d LEFT JOIN per p USING (doc_id)
""".replace("{V}", str(tx.VOCAB_SIZE))


def dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated n-gram spans: merged token ranges whose
    5-gram windows recur in another document — substring-granularity
    dedup output (operators/dedup.py repeated_spans)."""
    return dd.repeated_spans(_docs(spark, sf_dir))


def _span_gram_ctes(n: int) -> str:
    """CTE pair (docsr, g): every n-gram window with 0-based token
    offsets, mirroring operators/dedup.py ngram_positions (same
    tokenizer as the shingle CTEs; s/e are start/end-exclusive)."""
    gram = " || ' ' || ".join(f"arr[i+{j}]" if j else "arr[i]" for j in range(n))
    return (
        "docsr AS (SELECT doc_id, list_filter(regexp_split_to_array("
        f"lower(text), '{SQL_DELIM}'), x -> x <> '') AS arr FROM documents), "
        f"g AS (SELECT doc_id, CAST(i - 1 AS INT) AS s, "
        f"CAST(i - 1 + {n} AS INT) AS e, {gram} AS gram "
        f"FROM docsr, UNNEST(range(1, len(arr) - {n - 2})) AS r(i))"
    )


SQL_DEDUP_SPANS = (
    "WITH " + _span_gram_ctes(dd.SPAN_N) + ", "
    "rep AS (SELECT gram FROM g GROUP BY gram "
    "HAVING min(doc_id) <> max(doc_id)), "
    "h AS (SELECT g.doc_id, g.s, g.e FROM g JOIN rep USING (gram)), "
    "f AS (SELECT doc_id, s, e, CASE WHEN max(e) OVER w IS NULL "
    "OR s > max(e) OVER w THEN 1 ELSE 0 END AS ni FROM h "
    "WINDOW w AS (PARTITION BY doc_id ORDER BY s "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
    "i AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id "
    "ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl FROM f) "
    "SELECT doc_id, CAST(min(s) AS INT) AS span_start, "
    "CAST(max(e) AS INT) AS span_end FROM i GROUP BY doc_id, isl"
)


def decontaminate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: token ranges in training docs whose
    5-grams appear in the src0 eval slice
    (operators/curation.py decontaminate_spans)."""
    return cu.decontaminate_spans(_docs(spark, sf_dir))


_SPAN_ISLANDS_SQL = (
    "f AS (SELECT doc_id, s, e, CASE WHEN max(e) OVER w IS NULL "
    "OR s > max(e) OVER w THEN 1 ELSE 0 END AS ni FROM h "
    "WINDOW w AS (PARTITION BY doc_id ORDER BY s "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
    "i AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id "
    "ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl FROM f) "
    "SELECT doc_id, CAST(min(s) AS INT) AS span_start, "
    "CAST(max(e) AS INT) AS span_end FROM i GROUP BY doc_id, isl"
)


def _decontam_span_sql(n: int, eval_source: str) -> str:
    gram = " || ' ' || ".join(
        f"arr[i+{j}]" if j else "arr[i]" for j in range(n)
    )
    return (
        "WITH docsr AS (SELECT doc_id, source, "
        "list_filter(regexp_split_to_array(lower(text), "
        f"'{SQL_DELIM}'), x -> x <> '') AS arr FROM documents), "
        f"g AS (SELECT doc_id, source, CAST(i - 1 AS INT) AS s, "
        f"CAST(i - 1 + {n} AS INT) AS e, {gram} AS gram "
        f"FROM docsr, UNNEST(range(1, len(arr) - {n - 2})) AS r(i)), "
        f"ev AS (SELECT DISTINCT gram FROM g WHERE source = '{eval_source}'), "
        "h AS (SELECT g.doc_id, g.s, g.e FROM g JOIN ev USING (gram) "
        f"WHERE g.source <> '{eval_source}'), " + _SPAN_ISLANDS_SQL
    )


SQL_DECONTAMINATE_SPANS = _decontam_span_sql(cu.DECONTAM_SHINGLE_N, "src0")


TOKEN_BUDGET = 2000


def select_token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut the corpus to a token budget in (n_chars DESC, doc_id ASC)
    priority order via the two-level bucket cumsum — no global
    single-partition window (operators/curation.py
    select_token_budget)."""
    return cu.select_token_budget(_docs(spark, sf_dir), TOKEN_BUDGET)


SQL_SELECT_TOKEN_BUDGET = r"""
WITH d AS (SELECT doc_id, n_chars,
    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
dd AS (SELECT * FROM d WHERE n_tokens > 0),
r AS (SELECT doc_id, n_chars, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
          - n_tokens AS bef
      FROM dd)
SELECT doc_id, n_chars, n_tokens FROM r WHERE bef < {B}
""".replace("{B}", "2000")


def corpus_cut_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full substring-dedup rewrite: detect cross-document
    repeated 5-gram spans, merge them, and CUT them out of the corpus
    text (operators/dedup.py repeated_spans + cut_spans)."""
    d = _docs(spark, sf_dir)
    return dd.cut_spans(d, dd.repeated_spans(d))


SQL_CORPUS_CUT_SPANS = (
    "WITH " + _span_gram_ctes(dd.SPAN_N) + ", "
    "rep AS (SELECT gram FROM g GROUP BY gram "
    "HAVING min(doc_id) <> max(doc_id)), "
    "h AS (SELECT g.doc_id, g.s, g.e FROM g JOIN rep USING (gram)), "
    "f AS (SELECT doc_id, s, e, CASE WHEN max(e) OVER w IS NULL "
    "OR s > max(e) OVER w THEN 1 ELSE 0 END AS ni FROM h "
    "WINDOW w AS (PARTITION BY doc_id ORDER BY s "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
    "isl AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id "
    "ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp FROM f), "
    "sp AS (SELECT doc_id, CAST(min(s) AS INT) AS span_start, "
    "CAST(max(e) AS INT) AS span_end FROM isl GROUP BY doc_id, grp), "
    "tk AS (SELECT doc_id, arr[i] AS tok, CAST(i - 1 AS INT) AS pos "
    "FROM docsr, UNNEST(range(1, len(arr) + 1)) AS r(i)), "
    "kept AS (SELECT t.doc_id, t.tok, t.pos FROM tk t "
    "WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id "
    "AND t.pos >= sp.span_start AND t.pos < sp.span_end)), "
    "rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept, "
    "array_to_string(list(tok ORDER BY pos), ' ') AS clean_text "
    "FROM kept GROUP BY doc_id), "
    "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_all "
    "FROM tk GROUP BY doc_id) "
    "SELECT d.doc_id, coalesce(rb.clean_text, '') AS clean_text, "
    "CAST(coalesce(rb.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept, "
    "CAST(coalesce(tot.n_all, 0) - coalesce(rb.n_tokens_kept, 0) "
    "AS BIGINT) AS n_tokens_cut "
    "FROM documents d LEFT JOIN rb USING (doc_id) "
    "LEFT JOIN tot USING (doc_id)"
)


def pipeline_span_surgery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical corpus assembly in ONE plan: cross-document repeated
    5-gram hits WITHIN the training slice and eval-contamination hits
    AGAINST the src0 slice feed a single gaps-and-islands merge, the
    combined spans are cut out of the text, and docs keeping < 5
    tokens drop. The two detectors share one training-gram relation
    (one explode); eval grams broadcast; only hit rows reach the
    merge; the rebuild is one doc aggregate. Returns (doc_id,
    clean_text, n_tokens_kept, n_tokens_cut) for surviving training
    docs."""
    d = _docs(spark, sf_dir)
    train = d.filter(F.col("source") != "src0")
    g_train = dd.ngram_positions(train)
    eval_g = (
        dd.ngram_positions(d.filter(F.col("source") == "src0"))
        .select("gram")
        .distinct()
    )
    probed = g_train.join(
        dd._cross_doc_grams(g_train).withColumn("__r", F.lit(1)),
        "gram",
        "left",
    ).join(
        F.broadcast(eval_g.withColumn("__e", F.lit(1))), "gram", "left"
    )
    hits = probed.filter(
        F.col("__r").isNotNull() | F.col("__e").isNotNull()
    ).select("doc_id", "start", "end")
    spans = dd.merge_spans(hits)
    return dd.cut_spans(train, spans).filter(F.col("n_tokens_kept") >= 5)


SQL_PIPELINE_SPAN_SURGERY = (
    "WITH docsr AS (SELECT doc_id, source, "
    "list_filter(regexp_split_to_array(lower(text), "
    f"'{SQL_DELIM}'), x -> x <> '') AS arr FROM documents), "
    "gt AS (SELECT doc_id, CAST(i - 1 AS INT) AS s, "
    f"CAST(i - 1 + {dd.SPAN_N} AS INT) AS e, "
    + " || ' ' || ".join(
        f"arr[i+{j}]" if j else "arr[i]" for j in range(dd.SPAN_N)
    )
    + " AS gram FROM docsr, "
    f"UNNEST(range(1, len(arr) - {dd.SPAN_N - 2})) AS r(i) "
    "WHERE source <> 'src0'), "
    "ev AS (SELECT DISTINCT "
    + " || ' ' || ".join(
        f"arr[i+{j}]" if j else "arr[i]" for j in range(dd.SPAN_N)
    )
    + " AS gram FROM docsr, "
    f"UNNEST(range(1, len(arr) - {dd.SPAN_N - 2})) AS r(i) "
    "WHERE source = 'src0'), "
    "rep AS (SELECT gram FROM gt GROUP BY gram "
    "HAVING min(doc_id) <> max(doc_id)), "
    "h AS (SELECT gt.doc_id, gt.s, gt.e FROM gt JOIN rep USING (gram) "
    "UNION ALL "
    "SELECT gt.doc_id, gt.s, gt.e FROM gt JOIN ev USING (gram)), "
    "f AS (SELECT doc_id, s, e, CASE WHEN max(e) OVER w IS NULL "
    "OR s > max(e) OVER w THEN 1 ELSE 0 END AS ni FROM h "
    "WINDOW w AS (PARTITION BY doc_id ORDER BY s "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
    "isl AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id "
    "ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp FROM f), "
    "sp AS (SELECT doc_id, CAST(min(s) AS INT) AS span_start, "
    "CAST(max(e) AS INT) AS span_end FROM isl GROUP BY doc_id, grp), "
    "tk AS (SELECT doc_id, arr[i] AS tok, CAST(i - 1 AS INT) AS pos "
    "FROM docsr, UNNEST(range(1, len(arr) + 1)) AS r(i) "
    "WHERE source <> 'src0'), "
    "kept AS (SELECT t.doc_id, t.tok, t.pos FROM tk t "
    "WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id "
    "AND t.pos >= sp.span_start AND t.pos < sp.span_end)), "
    "rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept, "
    "array_to_string(list(tok ORDER BY pos), ' ') AS clean_text "
    "FROM kept GROUP BY doc_id), "
    "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_all "
    "FROM tk GROUP BY doc_id) "
    "SELECT d.doc_id, coalesce(rb.clean_text, '') AS clean_text, "
    "CAST(coalesce(rb.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept, "
    "CAST(coalesce(tot.n_all, 0) - coalesce(rb.n_tokens_kept, 0) "
    "AS BIGINT) AS n_tokens_cut "
    "FROM documents d LEFT JOIN rb USING (doc_id) "
    "LEFT JOIN tot USING (doc_id) "
    "WHERE d.source <> 'src0' AND coalesce(rb.n_tokens_kept, 0) >= 5"
)


def cross_doc_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc share of n-gram windows that also occur in another
    document (operators/dedup.py cross_doc_repetition)."""
    return dd.cross_doc_repetition(_docs(spark, sf_dir))


SQL_CROSS_DOC_REPETITION = (
    "WITH " + _span_gram_ctes(dd.SPAN_N) + ", "
    "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams "
    "FROM g GROUP BY doc_id), "
    "rep AS (SELECT gram FROM g GROUP BY gram "
    "HAVING min(doc_id) <> max(doc_id)), "
    "dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup "
    "FROM g JOIN rep USING (gram) GROUP BY doc_id) "
    "SELECT d.doc_id, CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams, "
    "CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_grams, "
    "CASE WHEN coalesce(t.n_grams, 0) > 0 THEN "
    "CAST(coalesce(p.n_dup, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE) END "
    "AS dup_gram_share "
    "FROM documents d LEFT JOIN tot t USING (doc_id) "
    "LEFT JOIN dup p USING (doc_id)"
)


def simsearch_ivfpq_nprobe2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with multi-probe (nprobe=2): each query's candidates come
    from its TWO nearest IVF cells — the recall knob real IVFPQ
    deployments turn (operators/simsearch.py ivfpq_topk nprobe arg;
    recall gain pinned in tests/test_extensions.py's planted-ground-
    truth harness). Same fits, cached per sf."""
    return ss.ivfpq_topk(
        _emb(spark, sf_dir),
        cents=_km_cents(spark, sf_dir),
        books=_pq_books(spark, sf_dir),
        nprobe=2,
    )


# nprobe=2 oracle: identical to SQL_IVFPQ except the probe relation
# keeps each query's TOP-2 cells (row_number <= 2 over the same
# cos DESC, centroid_id ASC order the Spark top-cells sort uses) —
# asgs already scores every vector against the final centroids c3.
SQL_IVFPQ_NPROBE2 = (
    "WITH " + _IVF_ASG_CTES + ", " + _pq_ctes("p") + ", "
    f"codes_w AS (SELECT vec_id, {_pq_code_cols()} FROM pcodes "
    "GROUP BY vec_id), "
    "vw AS (SELECT a.vec_id, a.centroid_id, w.* EXCLUDE (vec_id) "
    "FROM codes_w w JOIN asg a USING (vec_id)), "
    "q AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id "
    "FROM (SELECT vec_id, embedding, centroid_id, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY cos DESC, centroid_id ASC) AS rn "
    "FROM asgs WHERE vec_id < 8) WHERE rn <= 2), "
    "scored AS (SELECT q.query_id, v.vec_id, "
    f"{_pq_adc_sql()} AS adc "
    "FROM vw v JOIN q ON q.centroid_id = v.centroid_id "
    + " ".join(
        f"JOIN pb{_PQ_ITERS} p{m} ON p{m}.m = {m} AND p{m}.code = v.k{m}"
        for m in range(_PQ_M)
    )
    + " WHERE v.vec_id <> q.query_id), "
    "r AS (SELECT query_id, vec_id, row_number() OVER "
    "(PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn "
    "FROM scored), "
    "cand AS (SELECT query_id, vec_id FROM r WHERE rn <= 20), "
    "qb AS (SELECT vec_id AS query_id, embedding AS q_emb "
    "FROM embeddings WHERE vec_id < 8), "
    "rs AS (SELECT c.query_id, c.vec_id, "
    f"{_cos_sql('q.q_emb', 'e.embedding')} AS cos "
    "FROM cand c JOIN embeddings e USING (vec_id) "
    "JOIN qb q ON q.query_id = c.query_id), "
    "rr AS (SELECT query_id, vec_id, cos, CAST(row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
    "AS INTEGER) AS rank FROM rs) "
    "SELECT query_id, vec_id, cos, rank FROM rr WHERE rank <= 5"
)


# One PQ fit per sf_dir per session (same budget rationale as _KM_CACHE).
_PQ_CACHE: dict[str, list] = {}


def _pq_books(spark: SparkSession, sf_dir: str) -> list:
    if sf_dir not in _PQ_CACHE:
        _PQ_CACHE[sf_dir] = ss.pq_codebooks(_emb(spark, sf_dir))
    return _PQ_CACHE[sf_dir]


def corpus_composition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.corpus_composition(_docs(spark, sf_dir))


SQL_CORPUS_COMPOSITION = r"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE
      len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> x <> '')) END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source),
s AS (SELECT lang, source, n_docs, n_tokens,
        CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
          AS token_share
      FROM cells)
SELECT lang, source, n_docs, n_tokens, token_share,
  sum(token_share) OVER (ORDER BY n_tokens DESC,
                         lang ASC NULLS FIRST, source ASC NULLS FIRST
                         ROWS UNBOUNDED PRECEDING) AS cum_share
FROM s
"""


def lm_unigram_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lm_unigram_score(_docs(spark, sf_dir))


SQL_LM_UNIGRAM = r"""
WITH toks AS (
  SELECT doc_id, u.term FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')) AS u(term)
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, term),
tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM tc),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         sum(CAST(tf AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
       FROM tf JOIN tc USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens,
  s / CAST(n_tokens AS DOUBLE) - ln(CAST(t_total AS DOUBLE)) AS avg_logprob
FROM pd CROSS JOIN tot
"""


def ts_paa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA sketches of each user's event-value series
    (operators/timeseries.py ts_paa)."""
    from ..operators.timeseries import ts_paa

    return ts_paa(_events(spark, sf_dir))


def _paa_ctes(segments: int, tag: str) -> str:
    """PAA sketch CTEs at a given resolution, mirroring
    operators/timeseries.py _paa_segments — the ONE segmentation
    definition on the oracle side too: {tag}s = (user_id, seg, sc
    exact-cent sum, np) is the shared base (ts_sax compares it in
    exact integers), {tag}k divides it into the sketch
    (user_id, seg, paa_value, n_points). Integer floor division for
    segment assignment, exact-cents sums before one final divide."""
    return f"""
{tag}b AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1
              AS BIGINT) AS pos,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events),
{tag}f AS (SELECT *, (pos * {segments}) // n AS seg
           FROM {tag}b WHERE n >= {segments}),
{tag}s AS (SELECT user_id, seg, CAST(sum(cents) AS BIGINT) AS sc,
                  CAST(count(*) AS BIGINT) AS np
           FROM {tag}f GROUP BY user_id, seg),
{tag}k AS (SELECT user_id, seg,
          CAST(sc AS DOUBLE) / (100.0 * CAST(np AS DOUBLE))
            AS paa_value,
          np AS n_points
        FROM {tag}s)
"""


_PAA_CTES = _paa_ctes(8, "ts")

SQL_TS_PAA = (
    "WITH " + _PAA_CTES
    + " SELECT user_id, seg, paa_value, n_points FROM tsk"
)


def ts_similarity_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar user series to user 0 by squared PAA
    distance (operators/timeseries.py ts_similarity_topk)."""
    from ..operators.timeseries import ts_similarity_topk

    return ts_similarity_topk(_events(spark, sf_dir))


SQL_TS_SIMILARITY = (
    "WITH " + _PAA_CTES + ", "
    "tq AS (SELECT seg, paa_value AS q_value FROM tsk WHERE user_id = 0), "
    "td AS (SELECT s.user_id, "
    "sum((s.paa_value - q_value) * (s.paa_value - q_value) "
    "    ORDER BY s.seg) AS dist2 "
    "FROM tsk s JOIN tq USING (seg) WHERE s.user_id <> 0 "
    "GROUP BY s.user_id) "
    "SELECT user_id, dist2, "
    "CAST(row_number() OVER (ORDER BY dist2 ASC, user_id ASC) "
    "     AS INTEGER) AS rank "
    "FROM td ORDER BY dist2 ASC, user_id ASC LIMIT 10"
)


def ts_similarity_refined_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA-shortlist + grid-resolution exact re-rank: top-10 series
    nearest user 0, coarse 8-segment prune to a 40-user shortlist,
    refined at 32 cells (operators/timeseries.py
    ts_similarity_refined)."""
    from ..operators.timeseries import ts_similarity_refined

    return ts_similarity_refined(_events(spark, sf_dir))


SQL_TS_SIMILARITY_REFINED = (
    "WITH " + _PAA_CTES + ", " + _paa_ctes(32, "fg") + ", "
    "tq AS (SELECT seg, paa_value AS q_value FROM tsk WHERE user_id = 0), "
    "td AS (SELECT s.user_id, "
    "sum((s.paa_value - q_value) * (s.paa_value - q_value) "
    "    ORDER BY s.seg) AS dist2 "
    "FROM tsk s JOIN tq USING (seg) WHERE s.user_id <> 0 "
    "GROUP BY s.user_id), "
    "cand AS (SELECT user_id, dist2 AS paa_dist2 FROM td "
    "ORDER BY dist2 ASC, user_id ASC LIMIT 40), "
    "fq AS (SELECT seg, paa_value AS q_value FROM fgk WHERE user_id = 0), "
    "fd AS (SELECT f.user_id, "
    "sum((f.paa_value - q_value) * (f.paa_value - q_value) "
    "    ORDER BY f.seg) AS dist2 "
    "FROM fgk f JOIN fq USING (seg) "
    "JOIN cand c ON f.user_id = c.user_id "
    "GROUP BY f.user_id) "
    "SELECT c.user_id, c.paa_dist2, f.dist2, "
    "CAST(row_number() OVER (ORDER BY f.dist2 ASC, f.user_id ASC) "
    "     AS INTEGER) AS rank "
    "FROM fd f JOIN cand c USING (user_id) "
    "ORDER BY f.dist2 ASC, f.user_id ASC LIMIT 10"
)


def ts_sax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words per user series — the symbol tier of an iSAX index
    (operators/timeseries.py ts_sax)."""
    from ..operators.timeseries import ts_sax

    return ts_sax(_events(spark, sf_dir))


# The ONE symbol expression both SAX oracles share (word builder +
# symbol-tier search): the cross-multiplied-cents comparison
# (mean >= b  <=>  sc >= b_cents * n) — no float exists anywhere.
def _sax_sym_expr() -> str:
    from ..operators.timeseries import SAX_BREAKS_CENTS

    return " + ".join(
        f"(CASE WHEN sc >= {int(b)} * np THEN 1 ELSE 0 END)"
        for b in SAX_BREAKS_CENTS
    )


# SAX CTEs: built on _paa_ctes' shared exact-sums base ({tag}s — the
# one segmentation definition).
def _sax_ctes() -> str:
    sym = _sax_sym_expr()
    return (
        _paa_ctes(8, "sx")
        + f""",
sxw AS (SELECT user_id,
               string_agg(CAST(({sym}) AS VARCHAR), '' ORDER BY seg)
                 AS sax_word
        FROM sxs GROUP BY user_id)
"""
    )


def _sax_card() -> int:
    from ..operators.timeseries import SAX_BREAKS_CENTS

    return len(SAX_BREAKS_CENTS) + 1


SQL_TS_SAX = (
    "WITH "
    + _sax_ctes()
    + f" SELECT user_id, sax_word, CAST({_sax_card()} AS INTEGER)"
    " AS card FROM sxw"
)


def ts_sax_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-singleton iSAX leaves: users grouped by identical SAX word
    (operators/timeseries.py ts_sax_group)."""
    from ..operators.timeseries import ts_sax_group

    return ts_sax_group(_events(spark, sf_dir))


SQL_TS_SAX_GROUP = (
    "WITH "
    + _sax_ctes()
    + """
SELECT sax_word, CAST(count(*) AS BIGINT) AS n_users,
       min(user_id) AS min_user
FROM sxw GROUP BY sax_word HAVING count(*) >= 2
"""
)


def ts_similarity_sax_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol-tier iSAX search: MINDIST prune + exact PAA re-rank
    (operators/timeseries.py ts_similarity_sax_topk)."""
    from ..operators.timeseries import ts_similarity_sax_topk

    return ts_similarity_sax_topk(_events(spark, sf_dir))


def _sql_ts_sax_topk() -> str:
    from ..operators.timeseries import SAX_BREAKS_CENTS

    blist = "[" + ", ".join(
        f"CAST({int(b)} AS BIGINT)" for b in SAX_BREAKS_CENTS
    ) + "]"
    return (
        "WITH "
        + _paa_ctes(8, "sx")
        + f""",
sxy AS (SELECT user_id, seg, ({_sax_sym_expr()}) AS sym FROM sxs),
sq AS (SELECT seg, sym AS q_sym FROM sxy WHERE user_id = 0),
mdc AS (SELECT s.user_id,
  CASE WHEN greatest(s.sym, q_sym) - least(s.sym, q_sym) <= 1
    THEN CAST(0 AS BIGINT)
    ELSE {blist}[greatest(s.sym, q_sym)]
         - {blist}[least(s.sym, q_sym) + 1] END AS cell
  FROM sxy s JOIN sq USING (seg) WHERE s.user_id <> 0),
md AS (SELECT user_id, CAST(sum(cell * cell) AS BIGINT) AS mindist2
       FROM mdc GROUP BY user_id),
cand AS (SELECT user_id, mindist2 FROM md
         ORDER BY mindist2 ASC, user_id ASC LIMIT 40),
pq AS (SELECT seg, paa_value AS q_value FROM sxk WHERE user_id = 0),
pd AS (SELECT s.user_id,
  sum((s.paa_value - q_value) * (s.paa_value - q_value)
      ORDER BY s.seg) AS dist2
  FROM sxk s JOIN pq USING (seg)
  JOIN cand c ON s.user_id = c.user_id
  GROUP BY s.user_id)
SELECT c.user_id, c.mindist2, d.dist2,
  CAST(row_number() OVER (ORDER BY d.dist2 ASC, d.user_id ASC)
       AS INTEGER) AS rank
FROM pd d JOIN cand c USING (user_id)
ORDER BY d.dist2 ASC, d.user_id ASC LIMIT 10
"""
    )


SQL_TS_SAX_TOPK = _sql_ts_sax_topk()


def ts_similarity_dtw_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic tier of the series-search ladder: LB_Keogh-pruned
    banded DTW top-10 around user 0 at 16 grid cells, band radius 2,
    40-candidate shortlist (operators/timeseries.py
    ts_similarity_dtw_topk)."""
    from ..operators.timeseries import ts_similarity_dtw_topk

    return ts_similarity_dtw_topk(_events(spark, sf_dir))


def _sql_ts_dtw_topk(
    grid: int = 16, band: int = 2, shortlist: int = 40, k: int = 10
) -> str:
    """DuckDB twin of the DTW tier. The DP runs as ONE recursive CTE
    in (i, j) lexicographic order carrying the previous and current
    DP rows as LIST(DOUBLE) — each step evaluates EXACTLY the Spark
    UDF's cell formula (cs[i]-q[j])^2 + least(prev-up, prev-diag,
    cur-left) in the same operation order, so dtw2 is bit-identical.
    Out-of-band cells stay at the same +Infinity sentinel both
    engines use; the envelope is a seg-range window min/max (picks
    existing doubles — exact); the LB fold is an ORDER BY seg sum
    (bit-stable)."""
    g1 = grid + 1
    inf = "'Infinity'::DOUBLE"
    inf_row = f"list_transform(range({g1}), x -> {inf})"
    zero_row = (
        f"list_transform(range({g1}), "
        f"x -> CASE WHEN x = 0 THEN 0.0 ELSE {inf} END)"
    )
    hi = f"LEAST({grid}, i + {band})"
    # Index map (SQL carries j = nj - 1 for the DP column nj being
    # filled): 1-based list index of 0-based DP position p is p + 1,
    # so dp[i-1][nj] = prev[j + 2], dp[i-1][nj-1] = prev[j + 1],
    # dp[i][nj-1] = cur[j + 1], and the query cell q[nj] = q[j + 1].
    cell = (
        "((cs[i] - q[j + 1]) * (cs[i] - q[j + 1]))"
        " + least(prev[j + 2], prev[j + 1], cur[j + 1])"
    )
    return (
        "WITH RECURSIVE "
        + _paa_ctes(grid, "dw")
        + f""",
qg AS (SELECT seg, paa_value FROM dwk WHERE user_id = 0),
qe AS (SELECT seg,
         max(paa_value) OVER (ORDER BY seg RANGE BETWEEN {band}
           PRECEDING AND {band} FOLLOWING) AS u,
         min(paa_value) OVER (ORDER BY seg RANGE BETWEEN {band}
           PRECEDING AND {band} FOLLOWING) AS l
       FROM qg),
lbc AS (SELECT s.user_id, s.seg,
          CASE WHEN s.paa_value > e.u
                 THEN (s.paa_value - e.u) * (s.paa_value - e.u)
               WHEN s.paa_value < e.l
                 THEN (e.l - s.paa_value) * (e.l - s.paa_value)
               ELSE 0.0 END AS c
        FROM dwk s JOIN qe e USING (seg) WHERE s.user_id <> 0),
lb AS (SELECT user_id, sum(c ORDER BY seg) AS lb2
       FROM lbc GROUP BY user_id),
cand AS (SELECT user_id, lb2 FROM lb
         ORDER BY lb2 ASC, user_id ASC LIMIT {shortlist}),
qa AS (SELECT array_agg(paa_value ORDER BY seg) AS q FROM qg),
ca AS (SELECT c.user_id, array_agg(s.paa_value ORDER BY s.seg) AS cs
       FROM dwk s JOIN cand c USING (user_id) GROUP BY c.user_id),
rec AS (
  SELECT user_id, cs, q, 1 AS i,
         GREATEST(1, 1 - {band}) - 1 AS j,
         {zero_row} AS prev, {inf_row} AS cur
  FROM ca, qa
  UNION ALL
  SELECT user_id, cs, q,
    CASE WHEN j < {hi} THEN i ELSE i + 1 END,
    CASE WHEN j < {hi} THEN j + 1
         ELSE GREATEST(1, i + 1 - {band}) - 1 END,
    CASE WHEN j < {hi} THEN prev ELSE cur END,
    CASE WHEN j < {hi} THEN
      list_transform(range({g1}),
        x -> CASE WHEN x = j + 1 THEN {cell} ELSE cur[x + 1] END)
    ELSE {inf_row} END
  FROM rec WHERE NOT (i = {grid} AND j >= {hi})
),
dtw AS (SELECT user_id, cur[{g1}] AS dtw2
        FROM rec WHERE i = {grid} AND j = {grid})
SELECT c.user_id, c.lb2, d.dtw2,
  CAST(row_number() OVER (ORDER BY d.dtw2 ASC, d.user_id ASC)
       AS INTEGER) AS rank
FROM dtw d JOIN cand c USING (user_id)
ORDER BY d.dtw2 ASC, d.user_id ASC LIMIT {k}
"""
    )


SQL_TS_DTW_TOPK = _sql_ts_dtw_topk()


def ts_motif_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series motif discovery: closest non-trivial pair of 8-cell
    subsequences within each user's 32-cell grid representation
    (operators/timeseries.py ts_motif)."""
    from ..operators.timeseries import ts_motif

    return ts_motif(_events(spark, sf_dir))


def _sql_ts_motif(grid: int = 32, m: int = 8, exclusion: int = 4) -> str:
    """DuckDB twin of ts_motif: same grid cells (_paa_ctes), candidate
    pairs from two range() laterals with the exclusion-zone filter,
    the per-pair distance as an ORDER BY o sum over the offset range
    (left-to-right — matching Spark's fold over a literal sequence
    exactly), winner per series via QUALIFY row_number."""
    s = grid - m + 1
    sq = "(cells[a + o + 1] - cells[b + o + 1])"
    return (
        "WITH "
        + _paa_ctes(grid, "mp")
        + f""",
ma AS (SELECT user_id, array_agg(paa_value ORDER BY seg) AS cells
       FROM mpk GROUP BY user_id),
pr AS (SELECT user_id, cells, r1.a, r2.b
       FROM ma, range(0, {s}) r1(a), range(0, {s}) r2(b)
       WHERE r2.b - r1.a > {exclusion}),
dv AS (SELECT user_id, a, b,
         sum({sq} * {sq} ORDER BY o) AS dist2
       FROM pr, range(0, {m}) r3(o)
       GROUP BY user_id, a, b)
SELECT user_id, CAST(a AS BIGINT) AS start_a,
       CAST(b AS BIGINT) AS start_b, dist2
FROM dv
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY dist2 ASC, a ASC, b ASC) = 1
"""
    )


SQL_TS_MOTIF = _sql_ts_motif()


def ts_discord_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series discord discovery: the 8-cell subsequence of each
    user's 32-cell grid representation whose nearest non-trivial
    neighbor is farthest (operators/timeseries.py ts_discord)."""
    from ..operators.timeseries import ts_discord

    return ts_discord(_events(spark, sf_dir))


def _sql_ts_discord(grid: int = 32, m: int = 8, exclusion: int = 4) -> str:
    """DuckDB twin of ts_discord: same grid cells (_paa_ctes),
    partner pairs from two range() laterals with the two-sided
    exclusion filter, per-pair distance as an ORDER BY o sum
    (matching Spark's inner offset fold exactly), nearest neighbor
    via a min aggregate (order-insensitive over bit-identical sums,
    so it matches Spark's running-min fold), discord per series via
    QUALIFY row_number on (nn_dist2 DESC, a ASC)."""
    s = grid - m + 1
    sq = "(cells[a + o + 1] - cells[b + o + 1])"
    return (
        "WITH "
        + _paa_ctes(grid, "dc")
        + f""",
da AS (SELECT user_id, array_agg(paa_value ORDER BY seg) AS cells
       FROM dck GROUP BY user_id),
pr AS (SELECT user_id, cells, r1.a, r2.b
       FROM da, range(0, {s}) r1(a), range(0, {s}) r2(b)
       WHERE abs(r2.b - r1.a) > {exclusion}),
dv AS (SELECT user_id, a, b,
         sum({sq} * {sq} ORDER BY o) AS d2
       FROM pr, range(0, {m}) r3(o)
       GROUP BY user_id, a, b),
nn AS (SELECT user_id, a, min(d2) AS nn_dist2
       FROM dv GROUP BY user_id, a)
SELECT user_id, CAST(a AS BIGINT) AS start, nn_dist2
FROM nn
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY nn_dist2 DESC, a ASC) = 1
"""
    )


SQL_TS_DISCORD = _sql_ts_discord()


def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-character pair frequencies over the corpus
    vocabulary, word-frequency weighted — the first BPE merge
    decision's statistic (operators/textstats.py bpe_pair_counts)."""
    return tx.bpe_pair_counts(_docs(spark, sf_dir))


SQL_BPE_PAIR_COUNTS = """
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents),
wf AS (SELECT word, CAST(count(*) AS BIGINT) AS w_count
       FROM w GROUP BY word),
p AS (SELECT unnest(list_transform(range(1, length(word)),
               i -> substring(word, CAST(i AS INTEGER), 2))) AS pair,
             w_count
      FROM wf)
SELECT pair, CAST(sum(w_count) AS BIGINT) AS pair_count
FROM p GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT 50
"""


def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 6 learned BPE merges as one declarative plan
    (operators/textstats.py bpe_merges)."""
    return tx.bpe_merges(_docs(spark, sf_dir))


def _bpe_ctes(n_merges: int) -> list:
    """The shared BPE CTE chain (see _sql_bpe_merges): vocabulary
    base, delimited symbol rendering, and per-round (pair count ->
    LIMIT-1 argmax -> literal replace). v{n_merges} carries the
    vocabulary with ALL merges applied (the bpe_vocab relation).
    The replace CTE is a LEFT JOIN ON TRUE with a coalesce, NOT a
    cross join: when the vocabulary exhausts its pairs before round
    n, m{r} is empty and a cross join would annihilate v{r} (and
    every later round), emptying the bpe_vocab twin while Spark's
    loop just breaks — the left join carries the vocabulary through
    merge-free rounds unchanged, matching Spark exactly."""
    ctes = ["""w AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents),
wf AS (SELECT word, CAST(count(*) AS BIGINT) AS w_count
       FROM w GROUP BY word),
v0 AS (SELECT word, ' ' || array_to_string(
         list_transform(range(1, length(word) + 1),
                        i -> substring(word, CAST(i AS INTEGER), 1)),
         '  ') || ' ' AS syms, w_count
       FROM wf)"""]
    for r in range(1, n_merges + 1):
        ctes.append(f"""t{r} AS (SELECT string_split(trim(syms), '  ') AS a, w_count
       FROM v{r - 1}),
x{r} AS (SELECT unnest(list_transform(range(1, len(a)),
           i -> struct_pack(l := a[CAST(i AS INTEGER)],
                            r := a[CAST(i AS INTEGER) + 1]))) AS pr,
                w_count
         FROM t{r}),
p{r} AS (SELECT pr.l AS l, pr.r AS r,
                CAST(sum(w_count) AS BIGINT) AS pair_count
         FROM x{r} GROUP BY 1, 2),
m{r} AS (SELECT l, r, pair_count FROM p{r}
         ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1)""")
        ctes.append(f"""v{r} AS (SELECT word, coalesce(replace(syms, ' ' || m.l || '  ' || m.r || ' ',
                           ' ' || m.l || m.r || ' '), syms) AS syms, w_count
       FROM v{r - 1} LEFT JOIN m{r} m ON TRUE)""")
    return ctes


def _sql_bpe_merges(n_merges: int = 6) -> str:
    """DuckDB twin of bpe_merges: the same vocabulary base, the same
    delimited symbol-string representation, and the same per-round
    (pair count -> LIMIT-1 argmax -> literal replace) chain unrolled
    as CTEs — literal left-to-right replace IS the greedy one-pass
    merge in both engines, so every round agrees exactly."""
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, l AS \"left\", "
        f"r AS \"right\", pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(n_merges)) + "\n" + sel


SQL_BPE_MERGES = _sql_bpe_merges()


def bpe_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 subword tokens (with corpus frequencies) after applying
    the first 6 learned BPE merges (operators/textstats.py
    bpe_vocab)."""
    return tx.bpe_vocab(_docs(spark, sf_dir))


def _sql_bpe_vocab(n_merges: int = 6, k: int = 50) -> str:
    """DuckDB twin of bpe_vocab: the shared merge-chain CTEs, then
    unnest the final vocabulary's symbols weighted by word count."""
    sel = f"""tk AS (SELECT unnest(string_split(trim(syms), '  ')) AS token, w_count
       FROM v{n_merges})
SELECT token, CAST(sum(w_count) AS BIGINT) AS token_count
FROM tk GROUP BY token
ORDER BY token_count DESC, token ASC LIMIT {k}"""
    return "WITH " + ",\n".join(_bpe_ctes(n_merges)) + ",\n" + sel


SQL_BPE_VOCAB = _sql_bpe_vocab()


def ts_changepoint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM changepoint location
    (operators/timeseries.py ts_changepoint)."""
    from ..operators.timeseries import ts_changepoint

    return ts_changepoint(_events(spark, sf_dir))


SQL_TS_CHANGEPOINT = """
WITH b AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS pos,
         CAST(sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS csum,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id) AS BIGINT) AS sc
  FROM events),
s AS (SELECT user_id, pos, n, n * csum - pos * sc AS sv
      FROM b WHERE pos < n)
SELECT user_id, pos AS cp_pos, n AS n_points,
       CAST(sv AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)) AS cusum
FROM s
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY abs(sv) DESC, pos ASC) = 1
"""


def ts_anomaly_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series exact-decision z-score anomaly flags
    (operators/timeseries.py ts_anomaly_zscore)."""
    from ..operators.timeseries import ts_anomaly_zscore

    return ts_anomaly_zscore(_events(spark, sf_dir))


SQL_TS_ANOMALY_ZSCORE = """
WITH b AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS c,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id) AS BIGINT) AS sc,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id) AS BIGINT) AS ssq
  FROM events),
f AS (SELECT user_id, event_id, c, n, sc, ssq,
        CAST(n AS HUGEINT) * CAST(c AS HUGEINT)
          - CAST(sc AS HUGEINT) AS dev,
        CAST(n AS HUGEINT) * CAST(ssq AS HUGEINT)
          - CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT) AS nvar
      FROM b)
SELECT user_id, event_id,
       (CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt(CAST(nvar AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS z
FROM f
WHERE nvar > 0 AND dev * dev > 9 * nvar
"""


def ts_corr_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most correlated series pairs, SAX-word-blocked
    (operators/timeseries.py ts_corr_topk)."""
    from ..operators.timeseries import ts_corr_topk

    return ts_corr_topk(_events(spark, sf_dir))


def _sql_ts_corr_topk(
    segments: int = 8, k: int = 20, max_bucket: int = 100
) -> str:
    """DuckDB twin of ts_corr_topk: same SAX-word blocking with the
    bucket-size guard, same sketch cells, the five Pearson components
    as sum(... ORDER BY seg) (componentwise the same left-to-right
    additions as Spark's seg-ordered struct fold), one shared double
    formula for r."""
    return (
        "WITH "
        + _sax_ctes()
        + f""",
cbw AS (SELECT sax_word FROM sxw GROUP BY sax_word
        HAVING count(*) BETWEEN 2 AND {max_bucket}),
cu AS (SELECT w.user_id, w.sax_word, s.seg, s.paa_value
       FROM sxw w JOIN cbw USING (sax_word)
       JOIN sxk s ON s.user_id = w.user_id),
cp AS (SELECT a.user_id AS ua, b.user_id AS ub, a.seg,
              a.paa_value AS x, b.paa_value AS y
       FROM cu a JOIN cu b
         ON a.sax_word = b.sax_word AND a.seg = b.seg
        AND a.user_id < b.user_id),
cc AS (SELECT ua, ub,
         sum(x ORDER BY seg) AS sx, sum(y ORDER BY seg) AS sy,
         sum(x * x ORDER BY seg) AS sxx,
         sum(y * y ORDER BY seg) AS syy,
         sum(x * y ORDER BY seg) AS sxy
       FROM cp GROUP BY ua, ub)
SELECT ua AS user_a, ub AS user_b,
       ({segments} * sxy - sx * sy)
         / (sqrt({segments} * sxx - sx * sx)
            * sqrt({segments} * syy - sy * sy)) AS corr
FROM cc
WHERE {segments} * sxx - sx * sx > 0
  AND {segments} * syy - sy * sy > 0
ORDER BY corr DESC, user_a ASC, user_b ASC
LIMIT {k}
"""
    )


SQL_TS_CORR_TOPK = _sql_ts_corr_topk()


def dq_drift_psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI drift between the first and second half of
    the event log (operators/warehouse.py dq_drift_psi)."""
    from ..operators.warehouse import dq_drift_psi

    return dq_drift_psi(_events(spark, sf_dir))


def _sql_dq_drift_psi(buckets: int = 10) -> str:
    """DuckDB twin of dq_drift_psi: same exact integer midpoint
    split, same integer equal-width bucket assignment against the
    type's FULL-LOG bounds, Laplace-smoothed shares, PSI terms added
    in bucket order (left-associated, matching Spark's unrolled
    sum). Types with no reference rows drop via the n_ref > 0
    filter."""
    bb = int(buckets)
    rsum = ", ".join(
        f"CAST(sum(CASE WHEN side = 0 AND bucket = {i} THEN cnt "
        f"ELSE 0 END) AS BIGINT) AS r{i}"
        for i in range(bb)
    )
    csum = ", ".join(
        f"CAST(sum(CASE WHEN side = 1 AND bucket = {i} THEN cnt "
        f"ELSE 0 END) AS BIGINT) AS c{i}"
        for i in range(bb)
    )

    def share(col: str, n: str) -> str:
        return f"((CAST({col} AS DOUBLE) + 1.0) / (CAST({n} AS DOUBLE) + {float(bb)}))"

    terms = " + ".join(
        f"(({share(f'r{i}', 'n_ref')}) - ({share(f'c{i}', 'n_cur')})) "
        f"* ln(({share(f'r{i}', 'n_ref')}) / ({share(f'c{i}', 'n_cur')}))"
        for i in range(bb)
    )
    return f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
md AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
sd AS (SELECT event_type, c,
              CASE WHEN us < md.mid THEN 0 ELSE 1 END AS side
       FROM e, md),
bo AS (SELECT event_type, min(c) AS lo, max(c) AS hi
       FROM e GROUP BY event_type),
bk AS (SELECT s.event_type, s.side,
              least(greatest(((s.c - bo.lo) * {bb})
                             // (bo.hi - bo.lo + 1), 0), {bb - 1})
                AS bucket
       FROM sd s JOIN bo USING (event_type)),
ct AS (SELECT event_type, side, bucket,
              CAST(count(*) AS BIGINT) AS cnt
       FROM bk GROUP BY 1, 2, 3),
pv AS (SELECT event_type,
         CAST(sum(CASE WHEN side = 0 THEN cnt ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(sum(CASE WHEN side = 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS n_cur,
         {rsum}, {csum}
       FROM ct GROUP BY event_type)
SELECT event_type, 0.0 + {terms} AS psi, n_ref, n_cur
FROM pv
WHERE n_ref > 0
"""


SQL_DQ_DRIFT_PSI = _sql_dq_drift_psi()


def ts_seasonality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series hour-of-day seasonality strength and peak hour
    (operators/timeseries.py ts_seasonality)."""
    from ..operators.timeseries import ts_seasonality

    return ts_seasonality(_events(spark, sf_dir))


SQL_TS_SEASONALITY = """
WITH g AS (
  SELECT user_id, CAST(hour(ts) AS INTEGER) AS h,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc_h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ssq_h
  FROM events GROUP BY user_id, CAST(hour(ts) AS INTEGER)),
u AS (SELECT user_id,
        CAST(sum(n_h) AS BIGINT) AS n,
        CAST(sum(sc_h) AS BIGINT) AS sc,
        CAST(sum(ssq_h) AS BIGINT) AS ssq,
        sum(CAST(ssq_h AS DOUBLE)
            - (CAST(sc_h AS DOUBLE) * CAST(sc_h AS DOUBLE))
              / CAST(n_h AS DOUBLE) ORDER BY h) AS sse
      FROM g GROUP BY user_id),
pk AS (SELECT user_id, h FROM g
       QUALIFY row_number() OVER (
         PARTITION BY user_id
         ORDER BY CAST(sc_h AS DOUBLE) / CAST(n_h AS DOUBLE) DESC,
                  h ASC) = 1)
SELECT u.user_id, CAST(pk.h AS INTEGER) AS peak_hour,
       1.0 - u.sse / (CAST(u.ssq AS DOUBLE)
                      - (CAST(u.sc AS DOUBLE) * CAST(u.sc AS DOUBLE))
                        / CAST(u.n AS DOUBLE)) AS strength,
       u.n AS n_points
FROM u JOIN pk USING (user_id)
WHERE CAST(u.n AS HUGEINT) * CAST(u.ssq AS HUGEINT)
      - CAST(u.sc AS HUGEINT) * CAST(u.sc AS HUGEINT) > 0
"""


def skew_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest user_id keys in events with corpus share — the
    pre-join skew probe (operators/skew.py skew_profile)."""
    from ..operators.skew import skew_profile

    return skew_profile(_events(spark, sf_dir), "user_id", top_n=20)


SQL_SKEW_PROFILE = """
WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
           FROM events GROUP BY user_id),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tt FROM c)
SELECT user_id, n_rows,
  CAST(n_rows AS DOUBLE) / CAST(tt AS DOUBLE) AS share
FROM c CROSS JOIN t
ORDER BY n_rows DESC, user_id ASC LIMIT 20
"""


def normalize_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization pass
    (operators/textstats.py normalize_text)."""
    return tx.normalize_text(_docs(spark, sf_dir))


def _norm_sql(col: str) -> str:
    from ..operators.textstats import ACCENT_DST, ACCENT_SRC

    return (
        "trim(regexp_replace(translate(lower("
        + col
        + f"), '{ACCENT_SRC}', '{ACCENT_DST}'), '[^a-z0-9]+', ' ', 'g'))"
    )


SQL_NORMALIZE_TEXT = (
    "SELECT doc_id, "
    + _norm_sql("text")
    + " AS norm_text FROM documents"
)


def dedup_normalized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over normalized text
    (operators/textstats.py dedup_normalized). The synthetic corpus
    has zero byte-identical duplicates, so the query unions in an
    UPPERCASED, punctuation-suffixed copy of every 25th document —
    exactly the variant class raw md5(text) dedup calls distinct and
    this operator collapses (n_variants = 2 per planted group)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    variants = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    return tx.dedup_normalized(d.unionByName(variants))


SQL_DEDUP_NORMALIZED = (
    "WITH u AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 10000000, upper(text) || ' !!' "
    "FROM documents WHERE doc_id % 25 = 0), "
    "n AS (SELECT doc_id, " + _norm_sql("text") + " AS norm_text "
    "FROM u) "
    "SELECT md5(norm_text) AS norm_hash, "
    "CAST(count(*) AS BIGINT) AS n_variants, min(doc_id) AS keep_doc_id "
    "FROM n WHERE norm_text <> '' GROUP BY 1 HAVING count(*) >= 2"
)


SQL_STREAM_NEARDUP = (
    "WITH " + _minhash_band_ctes() + ", "
    "nidx AS (SELECT doc_id AS dup_of, band, key FROM bands "
    "WHERE doc_id % 10 <> 0), "
    "nn AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 10 = 0) "
    "SELECT n.doc_id, n.band, i.dup_of "
    "FROM nn n JOIN nidx i USING (band, key)"
)


def bm25_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 per (doc, term) over the documents table
    (operators/textstats.py bm25)."""
    return tx.bm25(_docs(spark, sf_dir))


_BM25_CTES = r"""
toks AS (
  SELECT doc_id, u.term FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')) AS u(term)
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, term),
wtf AS (SELECT doc_id, term, tf,
          CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
          CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
        FROM tf),
dld AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        FROM tf GROUP BY doc_id),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(dl) AS BIGINT) AS total_len FROM dld),
sc AS (SELECT doc_id, term, tf, df,
  ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
           / (CAST(df AS DOUBLE) + 0.5))
  * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
     / (CAST(tf AS DOUBLE)
        + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE)
                        / (CAST(total_len AS DOUBLE)
                           / CAST(n_docs AS DOUBLE))))) AS bm25
FROM wtf CROSS JOIN st)
"""

SQL_BM25 = (
    "WITH " + _BM25_CTES + " SELECT doc_id, term, tf, df, bm25 FROM sc"
)


def lm_bigram_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram log-probability per doc under the corpus's own
    add-one-smoothed bigram model (operators/textstats.py
    lm_bigram_score)."""
    return tx.lm_bigram_score(_docs(spark, sf_dir))


SQL_LM_BIGRAM = r"""
WITH b AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> x <> '') AS arr
  FROM documents
),
pairs AS (SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
          FROM b, UNNEST(range(1, len(arr))) AS r(i)),
tfb AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
        FROM pairs GROUP BY doc_id, w1, w2),
c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
        FROM tfb GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         sum(CAST(tf AS DOUBLE)
             * ln((CAST(c12 AS DOUBLE) + 1.0)
                  / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))) AS s
       FROM tfb JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       CROSS JOIN v GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  s / CAST(n_bigrams AS DOUBLE) AS avg_logprob
FROM pd
"""


def similarity_join_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy cross-corpus decontamination screen: LSH similarity join
    of the corpus (doc_id % 10 != 0) against a benchmark stand-in
    (doc_id % 10 == 0; a tenth of the corpus, dense enough that the
    value gate sees real collisions), probe side broadcast
    (operators/dedup.py lsh_similarity_join)."""
    d = _docs(spark, sf_dir)
    return dd.lsh_similarity_join(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
    )


SQL_SIMILARITY_JOIN_MINHASH = (
    "WITH " + _minhash_band_ctes() + ", "
    "cb AS (SELECT * FROM bands WHERE doc_id % 10 <> 0), "
    "pb AS (SELECT * FROM bands WHERE doc_id % 10 = 0) "
    "SELECT c.doc_id AS corpus_doc, p.doc_id AS probe_doc, "
    "CAST(count(DISTINCT c.band) AS BIGINT) AS n_bands "
    "FROM cb c JOIN pb p ON c.band = p.band AND c.key = p.key "
    "GROUP BY c.doc_id, p.doc_id"
)


def dedup_jaccard_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature-agreement Jaccard estimate for every LSH
    candidate pair — the cheap verification tier
    (operators/dedup.py minhash_jaccard_estimate)."""
    d = _docs(spark, sf_dir)
    return dd.minhash_jaccard_estimate(d, dd.minhash_candidate_pairs(d))


_AGREE_SQL = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
    for i in range(dd.NUM_HASHES)
)

SQL_DEDUP_JACCARD_ESTIMATE = (
    "WITH " + _PAIR_CTES + " "
    "SELECT p.doc_a, p.doc_b, "
    f"CAST(({_AGREE_SQL}) AS DOUBLE) / {float(dd.NUM_HASHES)} "
    "AS est_jaccard "
    "FROM pairs p JOIN sig a ON a.doc_id = p.doc_a "
    "JOIN sig b ON b.doc_id = p.doc_b"
)


def split_no_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-grouped train/val/test split: near-dup clusters never
    straddle the train/test boundary
    (operators/curation.py split_no_leakage)."""
    return cu.split_no_leakage(_docs(spark, sf_dir))


def _hash32_sql(expr: str) -> str:
    """Engine-portable 32-bit hash of an integer SQL expression: digit
    value of the first 8 md5 hex chars — the DuckDB mirror of
    curation._id_hash32 for arbitrary expressions."""
    return " + ".join(
        "(strpos('0123456789abcdef', "
        f"substr(md5(CAST({expr} AS VARCHAR)), {i + 1}, 1)) - 1)"
        + f" * {16 ** (8 - i - 1)}"
        for i in range(8)
    )


SQL_SPLIT_NO_LEAKAGE = (
    "WITH RECURSIVE " + _PAIR_CTES + ", "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), "
    "comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component_id "
    "FROM reach GROUP BY src) "
    "SELECT d.doc_id, CASE WHEN ("
    + _hash32_sql("coalesce(c.component_id, d.doc_id)")
    + ") % 100 < 90 THEN 'train' WHEN ("
    + _hash32_sql("coalesce(c.component_id, d.doc_id)")
    + ") % 100 < 95 THEN 'val' ELSE 'test' END AS split "
    "FROM documents d LEFT JOIN comp c USING (doc_id)"
)


def winnowing_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints over documents
    (operators/textstats.py winnowing_fingerprint)."""
    return tx.winnowing_fingerprint(_docs(spark, sf_dir))


# Polynomial gram hash mirroring winnowing_fingerprint: codepoint
# array once, then (c[i]*257^4 + ... + c[i+4]) mod 2^31, scrambled
# by the odd-constant multiply (a bijection mod 2^31 — without it
# window minima cluster on space-led grams). Unreduced sum < 2^53,
# mix product < 2^63 — exact BIGINT on both engines.
_WINNOW_POLY = " + ".join(
    f"c[i+{j}] * {257 ** (5 - 1 - j)}" if j else f"c[i] * {257 ** 4}"
    for j in range(5)
)

_WINNOW_CTES = f"""
wb AS (SELECT doc_id, lower(text) AS t FROM documents),
wc AS (SELECT doc_id, len(t) AS n,
        CASE WHEN len(t) = 0 THEN [CAST(0 AS BIGINT)]
          ELSE list_transform(range(1, len(t) + 1),
                 p -> CAST(ascii(substr(t, p, 1)) AS BIGINT)) END AS c
      FROM wb),
wh AS (SELECT doc_id,
        CASE WHEN n >= 5
          THEN list_transform(range(1, n - 3),
                 i -> ({_WINNOW_POLY}) % 2147483648
                      * 2654435761 % 2147483648)
          ELSE [list_reduce(c,
                 (acc, x) -> (acc * 257 + x) % 2147483648)
                * 2654435761 % 2147483648] END AS harr
      FROM wc),
wf AS (SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(harr) - 3, 1) + 1),
          j -> list_min(harr[j:j+3]))) AS fps
      FROM wh),
wfp AS (SELECT doc_id, u.fp FROM wf, UNNEST(fps) AS u(fp))
"""

SQL_WINNOWING = "WITH " + _WINNOW_CTES + " SELECT doc_id, fp FROM wfp"


def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the fixed query {vector, merge, stream}
    by summed BM25 (operators/textstats.py bm25_topk)."""
    return tx.bm25_topk(
        _docs(spark, sf_dir), ["vector", "merge", "stream"], k=20
    )


SQL_BM25_TOPK = (
    "WITH " + _BM25_CTES + ", "
    "q AS (SELECT doc_id, "
    "max(CASE WHEN term = 'vector' THEN bm25 END) AS s0, "
    "max(CASE WHEN term = 'merge' THEN bm25 END) AS s1, "
    "max(CASE WHEN term = 'stream' THEN bm25 END) AS s2 "
    "FROM sc WHERE term IN ('vector', 'merge', 'stream') "
    "GROUP BY doc_id) "
    "SELECT doc_id, "
    "coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0) AS score "
    "FROM q ORDER BY score DESC, doc_id LIMIT 20"
)


def winnowing_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprint overlap
    (operators/dedup.py winnowing_pairs). min_shared=40 is calibrated
    to this synthetic corpus: its ~30-word vocabulary makes every doc
    pair share a handful of 8-char runs (background tail reaches
    n_shared=37 under the mixed polynomial hash), while true
    near-dups sit at 48+ — a real-text corpus would use a far lower
    threshold."""
    return dd.winnowing_pairs(_docs(spark, sf_dir), min_shared=40)


SQL_WINNOWING_PAIRS = (
    "WITH " + _WINNOW_CTES + ", "
    f"wsz AS (SELECT fp FROM wfp GROUP BY fp "
    f"HAVING count(*) >= 2 AND count(*) <= {dd.MAX_BUCKET}), "
    "wg AS (SELECT w.doc_id, w.fp FROM wfp w JOIN wsz USING (fp)) "
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "CAST(count(*) AS BIGINT) AS n_shared "
    "FROM wg a JOIN wg b ON a.fp = b.fp AND a.doc_id < b.doc_id "
    "GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 40"
)


