"""Round-15 extension entries, first batch:

1. Typed PII census with Luhn-validated card detection + its
   streaming twin;
2. character-level entropy gibberish screen.

Registered by registry_extensions.py after the round-14 batch, so
these sit at the registry tail for the round-16 certification window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation as cu
from ..streaming.curation import pii_screen_stream
from .ext_common import _docs, _events

EXT_ROUND15_QUERIES: dict = {}


# =========================================================================
# Typed PII census (operators/curation.py pii_screen)
# =========================================================================

def pii_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed PII census (operators/curation.py pii_screen) over the
    deterministic injected fixture (pii_inject_expr — includes the
    999.1.2.3 invalid-octet and Luhn-failing-card NEGATIVE plants the
    validated detectors must reject)."""
    d = _docs(spark, sf_dir)
    return cu.pii_screen(
        d.select("doc_id", cu.pii_inject_expr().alias("text"))
    )


# the SQL twin of pii_inject_expr — same residue classes, same text
_SQL_PII_TEXT = """
  text
  || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
       || '@mail.example.com' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' ssn '
       || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
       || CAST(doc_id % 90 + 10 AS VARCHAR) || '-'
       || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.'
       || CAST(doc_id % 256 AS VARCHAR) || '.0.'
       || CAST(doc_id % 200 + 1 AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 6 = 0 THEN ' ip 999.1.2.3' ELSE '' END
  || CASE WHEN doc_id % 17 = 0 THEN ' card 4111111111111111' ELSE '' END
  || CASE WHEN doc_id % 19 = 0 THEN ' card 4111111111111112' ELSE '' END
  || CASE WHEN doc_id % 23 = 0 THEN ' amex 371449635398431' ELSE '' END
"""

# Luhn mod-10 over a digit string, exact integer arithmetic — the
# DuckDB twin of operators/curation.py luhn_valid
_SQL_LUHN = """list_sum(list_transform(range(0, length(s)), i ->
  CASE WHEN i % 2 = 1 THEN
    CASE WHEN (ascii(substr(s, CAST(length(s) - i AS INTEGER), 1)) - 48) * 2 > 9
         THEN (ascii(substr(s, CAST(length(s) - i AS INTEGER), 1)) - 48) * 2 - 9
         ELSE (ascii(substr(s, CAST(length(s) - i AS INTEGER), 1)) - 48) * 2 END
  ELSE ascii(substr(s, CAST(length(s) - i AS INTEGER), 1)) - 48 END)) % 10 = 0"""


def _sql_pii_screen() -> str:
    email = cu.EMAIL_REGEX
    return f"""
WITH p AS (SELECT doc_id, {_SQL_PII_TEXT} AS t FROM documents),
c AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(t, '{email}')) AS INTEGER) AS n_emails,
    CAST(len(regexp_extract_all(t, '{cu.PHONE_REGEX}')) AS INTEGER)
      AS n_phones,
    CAST(len(regexp_extract_all(t, '{cu.SSN_REGEX}')) AS INTEGER) AS n_ssn,
    CAST(len(regexp_extract_all(t, '{cu.IPV4_REGEX}')) AS INTEGER)
      AS n_ipv4,
    CAST(len(list_filter(regexp_extract_all(t, '{cu.CARD_CAND_REGEX}'),
      s -> {_SQL_LUHN})) AS INTEGER) AS n_cards
  FROM p)
SELECT doc_id, n_emails, n_phones, n_ssn, n_ipv4, n_cards,
  CAST(n_emails + n_phones + n_ssn + n_ipv4 + n_cards AS INTEGER)
    AS pii_total,
  (n_emails + n_phones + n_ssn + n_ipv4 + n_cards) > 0 AS flagged
FROM c
"""


# =========================================================================
# Character-entropy gibberish screen (operators/textstats.py
# char_entropy)
# =========================================================================

def char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character Shannon entropy in BIGINT micro-nats
    (operators/textstats.py char_entropy), low/normal/high buckets."""
    from ..operators.textstats import char_entropy

    return char_entropy(_docs(spark, sf_dir))


def _sql_char_entropy() -> str:
    from ..operators.textstats import ENTROPY_HIGH_FP, ENTROPY_LOW_FP

    return f"""
WITH ch AS (
  SELECT doc_id, u.c AS ch
  FROM documents, UNNEST(regexp_extract_all(text, '[\\s\\S]')) AS u(c)),
pc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
       FROM ch GROUP BY doc_id, ch),
d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
          AS BIGINT) AS s_fp
      FROM pc GROUP BY doc_id),
e AS (SELECT doc_id, n_chars,
        CAST(CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT)
          - s_fp // n_chars AS BIGINT) AS ent_fp
      FROM d)
SELECT doc_id, n_chars, ent_fp,
  CAST(ent_fp AS DOUBLE) / 1e6 AS entropy,
  CASE WHEN ent_fp < {ENTROPY_LOW_FP} THEN 'low'
       WHEN ent_fp > {ENTROPY_HIGH_FP} THEN 'high'
       ELSE 'normal' END AS bucket
FROM e
"""


EXT_ROUND15_QUERIES.update(
    {
        "pii_screen": (pii_screen_q, _sql_pii_screen()),
        "stream_pii_screen": (pii_screen_stream, _sql_pii_screen()),
        "char_entropy_screen": (char_entropy_q, _sql_char_entropy()),
    }
)


# =========================================================================
# Embedding centroid drift (operators/simsearch.py centroid_drift)
# =========================================================================

def embed_drift_centroid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-cosine drift between the even/odd vec_id slices of
    the embedding corpus (operators/simsearch.py centroid_drift)."""
    from ..operators.simsearch import centroid_drift
    from .ext_common import _emb

    return centroid_drift(_emb(spark, sf_dir))


def _sql_embed_drift() -> str:
    from ..operators.simsearch import VAR_SCALE

    cos = (
        "CAST(red.dot AS DOUBLE) / (sqrt(CAST(red.aa AS DOUBLE)) * "
        "sqrt(CAST(red.bb AS DOUBLE)))"
    )
    return f"""
WITH r AS (SELECT vec_id % 2 AS side, rr.i AS i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * {float(VAR_SCALE)})
      AS BIGINT) AS q
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS rr(i)),
a AS (SELECT
    CAST(sum(CASE WHEN side = 0 THEN q ELSE 0 END) AS BIGINT) AS sa,
    CAST(sum(CASE WHEN side = 1 THEN q ELSE 0 END) AS BIGINT) AS sb
  FROM r GROUP BY i),
red AS (SELECT
    CAST(sum(CAST(sa AS HUGEINT) * sb) AS HUGEINT) AS dot,
    CAST(sum(CAST(sa AS HUGEINT) * sa) AS HUGEINT) AS aa,
    CAST(sum(CAST(sb AS HUGEINT) * sb) AS HUGEINT) AS bb
  FROM a),
c AS (SELECT
    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_ref,
    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_cur
  FROM embeddings)
SELECT c.n_ref, c.n_cur, {cos} AS cos_centroid, 1.0 - ({cos}) AS drift
FROM red CROSS JOIN c
"""


# =========================================================================
# MMR diversified top-k (operators/simsearch.py mmr_topk)
# =========================================================================

def simsearch_mmr_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-5 for 4 query
    vectors over a 16-deep cosine shortlist (operators/simsearch.py
    mmr_topk)."""
    from ..operators.simsearch import mmr_topk
    from .ext_common import _emb

    return mmr_topk(_emb(spark, sf_dir))


def _sql_mmr_topk(nq: int = 4, m: int = 16, k: int = 5) -> str:
    from ..operators.simsearch import MMR_LAMBDA
    from .ext_retrieval import _cos_sql

    lam = repr(MMR_LAMBDA)
    om = repr(1.0 - MMR_LAMBDA)  # same double Spark computes
    sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < {nq}),
scored AS (SELECT q.query_id, e.vec_id,
    {_cos_sql('q.q_emb', 'e.embedding')} AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
sl AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
  SELECT query_id, vec_id, cos, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS r
  FROM scored) WHERE r <= {m}),
sle AS (SELECT sl.query_id, sl.vec_id, sl.cos, e.embedding
  FROM sl JOIN embeddings e USING (vec_id)),
ps AS MATERIALIZED (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
    {_cos_sql('a.embedding', 'b.embedding')} AS sim
  FROM sle a JOIN sle b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
s1 AS (SELECT query_id, vec_id, cos, {lam} * cos AS mmr_score, 1 AS step
  FROM (SELECT query_id, vec_id, cos, row_number() OVER (
      PARTITION BY query_id ORDER BY {lam} * cos DESC, vec_id ASC) AS rn
    FROM sl) WHERE rn = 1)"""
    for i in range(2, k + 1):
        sel = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM s{j}" for j in range(1, i)
        )
        sql += f""",
sel{i} AS ({sel}),
rem{i} AS (SELECT sl.* FROM sl ANTI JOIN sel{i} USING (query_id, vec_id)),
pen{i} AS (SELECT ps.query_id, ps.va AS vec_id, max(ps.sim) AS maxsim
  FROM ps JOIN sel{i} s ON ps.query_id = s.query_id AND ps.vb = s.vec_id
  GROUP BY ps.query_id, ps.va),
s{i} AS (SELECT query_id, vec_id, cos, mmr_score, {i} AS step FROM (
  SELECT r.query_id, r.vec_id, r.cos,
    {lam} * r.cos - {om} * p.maxsim AS mmr_score,
    row_number() OVER (PARTITION BY r.query_id
      ORDER BY {lam} * r.cos - {om} * p.maxsim DESC, r.vec_id ASC) AS rn
  FROM rem{i} r JOIN pen{i} p USING (query_id, vec_id)) WHERE rn = 1)"""
    final = " UNION ALL ".join(
        f"SELECT query_id, vec_id, cos, mmr_score, "
        f"CAST(step AS INTEGER) AS step FROM s{j}"
        for j in range(1, k + 1)
    )
    return sql + " " + final


EXT_ROUND15_QUERIES.update(
    {
        "embed_drift_centroid": (embed_drift_centroid_q, _sql_embed_drift()),
        "simsearch_mmr_topk": (simsearch_mmr_topk_q, _sql_mmr_topk()),
    }
)


# =========================================================================
# Round-15 third batch: n-gram novelty curve, RANGE-frame window,
# exact per-group mode
# =========================================================================

def ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty under doc_id order
    (operators/textstats.py ngram_novelty)."""
    from ..operators.textstats import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir))


SQL_NGRAM_NOVELTY = """
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')
      AS arr
  FROM documents),
g0 AS (
  SELECT doc_id, unnest(CASE WHEN len(arr) >= 3 THEN
      list_transform(range(1, len(arr) - 1),
                     i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2])
    ELSE [] END) AS ngram
  FROM w),
g AS (SELECT DISTINCT doc_id, ngram FROM g0),
f AS (SELECT ngram, min(doc_id) AS fd FROM g GROUP BY ngram)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  CAST(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS novelty
FROM g JOIN f USING (ngram) GROUP BY g.doc_id
"""


def window_range_between_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the benched ROWS frames): per order,
    the customer's rolling 30-day order-value sum — RANGE BETWEEN 30
    PRECEDING AND CURRENT ROW over the epoch-day ordering key, so
    same-day orders share one frame (the semantic ROWS frames cannot
    express). Exact cents integers; one exchange on o_custkey."""
    from pyspark.sql import Window
    from .ext_round14 import _t

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("__cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.sum("__cents").over(w).cast("long").alias("sum_30d_cents"),
    )


SQL_WINDOW_RANGE_BETWEEN = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
    CAST(datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS BIGINT)
      AS day,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT o_orderkey, o_custkey, day,
  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
    AS sum_30d_cents
FROM o
"""


EXT_ROUND15_QUERIES.update(
    {
        "ngram_novelty": (ngram_novelty_q, SQL_NGRAM_NOVELTY),
        "window_range_between": (
            window_range_between_q,
            SQL_WINDOW_RANGE_BETWEEN,
        ),
    }
)


# =========================================================================
# Round-15 fourth batch: embedding standardization, per-source dup
# rate, top event paths, degree distribution
# =========================================================================

def embed_standardize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score whitening, long form
    (operators/simsearch.py standardize_dims)."""
    from ..operators.simsearch import standardize_dims
    from .ext_common import _emb

    return standardize_dims(_emb(spark, sf_dir))


def _sql_embed_standardize() -> str:
    from ..operators.simsearch import VAR_SCALE

    return f"""
WITH r AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
    CAST(round(CAST(embedding[i] AS DOUBLE) * {float(VAR_SCALE)})
      AS BIGINT) AS q
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS rr(i)),
st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
  FROM r GROUP BY dim)
SELECT r.vec_id, r.dim,
  CASE WHEN st.n * st.ss - st.s * st.s > 0 THEN
    CAST(st.n * r.q - st.s AS DOUBLE)
      / sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE))
  ELSE 0.0 END AS z
FROM r JOIN st USING (dim)
"""


def source_dedup_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate — the corpus-health report
    that tells a curation pipeline WHICH feed is flooding it with
    copies (dedup_exact finds the groups; this attributes them).
    (source, n_docs, n_dup_docs, dup_rate): a doc counts as dup when
    its text hash occurs >= 2 times corpus-wide (cross-source dupes
    count in every source involved — attribution, not survivorship).
    One hash aggregate + one hash-keyed join + a source-keyed
    aggregate; all map-side-combinable."""
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    hc = d.groupBy(F.md5("text").alias("__h")).agg(
        F.count("*").alias("__cnt")
    )
    j = d.select("source", F.md5("text").alias("__h")).join(hc, "__h")
    dup = F.sum(F.when(F.col("__cnt") >= 2, 1).otherwise(0)).cast("long")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            dup.alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            (
                F.col("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )


SQL_SOURCE_DEDUP_RATE = """
WITH d AS (SELECT source, md5(text) AS h FROM documents
           WHERE text IS NOT NULL),
hc AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY h)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN hc.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_docs,
  CAST(sum(CASE WHEN hc.cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS dup_rate
FROM d JOIN hc USING (h) GROUP BY d.source
"""


def events_path_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 opening event paths: each user's first 3 event types
    under the total (ts, event_id) order, joined with '>' — the
    onboarding-funnel census (which openings are common; where do
    journeys start). One user-keyed ranking window (the
    events_attribution exchange shape) + one path count +
    TakeOrdered."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id",
                                       "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = ev.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= 3
    )
    paths = (
        firsts.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


SQL_EVENTS_PATH_TOPK = """
WITH r AS (
  SELECT user_id, event_type, row_number() OVER (
    PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY user_id)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM p GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT 20
"""


def graph_degree_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the support-2 co-order part graph (the
    graph_triangles fixture, planted K4 included): (deg, n_nodes) —
    the first diagnostic run on any production graph (hub detection,
    power-law sanity, join-skew forecasting for the heavier graph
    passes). Edge derivation as in graph_triangles; then one degree
    aggregate + one histogram aggregate, both map-side-combinable."""
    from .registry_analytics import _coorder_parts

    dop = _coorder_parts(spark, sf_dir).distinct()
    a = dop.select(F.col("o_key"), F.col("p_key").alias("lo"))
    b = dop.select(F.col("o_key"), F.col("p_key").alias("hi"))
    edges = (
        a.join(b, "o_key")
        .filter(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("__sup"))
        .filter(F.col("__sup") >= 2)
    )
    nodes = edges.select(F.col("lo").alias("node")).union(
        edges.select(F.col("hi").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    return (
        deg.groupBy("deg")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy(F.asc("deg"))
    )


def _sql_degree_distribution() -> str:
    from .registry_analytics import _TRI_PLANT

    plant_rows = ", ".join(f"({o}, {p})" for o, p in _TRI_PLANT)
    return f"""
WITH op AS (
  SELECT DISTINCT o_key, p_key FROM (
    SELECT l_orderkey AS o_key, l_partkey AS p_key FROM lineitem
    UNION ALL
    SELECT * FROM (VALUES {plant_rows}) v(o_key, p_key))),
edges AS (
  SELECT a.p_key AS lo, b.p_key AS hi
  FROM op a JOIN op b ON a.o_key = b.o_key AND a.p_key < b.p_key
  GROUP BY a.p_key, b.p_key
  HAVING count(*) >= 2),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi FROM edges)
  GROUP BY node)
SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY deg ORDER BY deg ASC
"""


EXT_ROUND15_QUERIES.update(
    {
        "embed_standardize": (embed_standardize_q, _sql_embed_standardize()),
        "source_dedup_rate": (source_dedup_rate_q, SQL_SOURCE_DEDUP_RATE),
        "events_path_topk": (events_path_topk_q, SQL_EVENTS_PATH_TOPK),
        "graph_degree_distribution": (
            graph_degree_distribution_q,
            _sql_degree_distribution(),
        ),
    }
)


# =========================================================================
# One-pass column profiler (dq family)
# =========================================================================

def dq_profile_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of the events stream — the
    schema-health report (null rates, exact cardinalities) a pipeline
    runs before trusting a new feed. The corpus has no natural NULLs,
    so the fixture nullifies value on event_id % 9 == 0 and props on
    event_id % 7 == 0 (mirrored in the oracle) — the null-count gate
    certifies on real NULLs. Returns one row per column:
    (column, n_rows, n_nulls, n_distinct).

    Scale shape: ONE aggregate pass computes every column's
    null/distinct stats (Spark expands the multi-distinct into one
    expand + aggregate — still a single scan), then a row-local
    stack() unpivots the 1-row result; nothing else touches data."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 9 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 7 != 0, F.col("props")).alias("props"),
    )
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"__nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"__nd_{c}"))
    one = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (column, n_nulls, n_distinct)",
        "__n AS n_rows",
    ).select("column", "n_rows", "n_nulls", "n_distinct")


SQL_DQ_PROFILE_COLUMNS = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
    CASE WHEN event_id % 9 <> 0 THEN value END AS value,
    CASE WHEN event_id % 7 <> 0 THEN props END AS props
  FROM events),
a AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(count(*) - count(event_id) AS BIGINT) AS nn_event_id,
    CAST(count(DISTINCT event_id) AS BIGINT) AS nd_event_id,
    CAST(count(*) - count(user_id) AS BIGINT) AS nn_user_id,
    CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id,
    CAST(count(*) - count(event_type) AS BIGINT) AS nn_event_type,
    CAST(count(DISTINCT event_type) AS BIGINT) AS nd_event_type,
    CAST(count(*) - count(value) AS BIGINT) AS nn_value,
    CAST(count(DISTINCT value) AS BIGINT) AS nd_value,
    CAST(count(*) - count(props) AS BIGINT) AS nn_props,
    CAST(count(DISTINCT props) AS BIGINT) AS nd_props
  FROM ev)
SELECT 'event_id' AS "column", n AS n_rows, nn_event_id AS n_nulls,
       nd_event_id AS n_distinct FROM a
UNION ALL SELECT 'user_id', n, nn_user_id, nd_user_id FROM a
UNION ALL SELECT 'event_type', n, nn_event_type, nd_event_type FROM a
UNION ALL SELECT 'value', n, nn_value, nd_value FROM a
UNION ALL SELECT 'props', n, nn_props, nd_props FROM a
"""


EXT_ROUND15_QUERIES.update(
    {
        "dq_profile_columns": (dq_profile_columns_q, SQL_DQ_PROFILE_COLUMNS),
    }
)


# =========================================================================
# Retrieval evaluation: NDCG@5 and ANN recall@5
# =========================================================================

def rank_eval_ndcg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the exact ranking vs label-match relevance
    (operators/simsearch.py ndcg_at_k)."""
    from ..operators.simsearch import ndcg_at_k
    from .ext_common import _emb

    return ndcg_at_k(_emb(spark, sf_dir))


def _sql_rank_eval_ndcg() -> str:
    from ..operators.simsearch import NDCG_CUM, NDCG_W
    from .ext_retrieval import SQL_SIMSEARCH_TOPK

    wcase = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(NDCG_W)
    )
    cumcase = " ".join(
        f"WHEN {i} THEN {c}" for i, c in enumerate(NDCG_CUM) if i > 0
    )
    return f"""
WITH tk AS ({SQL_SIMSEARCH_TOPK}),
ql AS (SELECT vec_id AS query_id, label AS q_label FROM embeddings
       WHERE vec_id < 8),
j AS (SELECT tk.query_id,
    CASE WHEN l.label = ql.q_label THEN 1 ELSE 0 END AS rel,
    tk.rank
  FROM tk JOIN embeddings l USING (vec_id) JOIN ql USING (query_id)),
a AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
    CAST(sum(rel * CASE rank {wcase} END) AS BIGINT) AS dcg_fp
  FROM j GROUP BY query_id)
SELECT query_id, n_rel, dcg_fp,
  CASE WHEN n_rel > 0 THEN CAST(dcg_fp AS DOUBLE)
    / CAST(CASE n_rel {cumcase} END AS DOUBLE) ELSE 0.0 END AS ndcg
FROM a
"""


def rank_eval_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5: LSH shortlist vs exact ground truth
    (operators/simsearch.py recall_at_k)."""
    from ..operators.simsearch import recall_at_k
    from .ext_common import _emb

    return recall_at_k(_emb(spark, sf_dir))


def _sql_rank_eval_recall(k: int = 5) -> str:
    from .ext_retrieval import SQL_SIMSEARCH_LSH_TOPK, SQL_SIMSEARCH_TOPK

    return f"""
WITH ex AS ({SQL_SIMSEARCH_TOPK}),
ann AS ({SQL_SIMSEARCH_LSH_TOPK}),
h AS (SELECT ann.query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM ann JOIN ex ON ann.query_id = ex.query_id
    AND ann.vec_id = ex.vec_id
  GROUP BY ann.query_id),
qs AS (SELECT DISTINCT query_id FROM ex)
SELECT qs.query_id,
  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / {float(k)} AS recall
FROM qs LEFT JOIN h ON qs.query_id = h.query_id
"""


EXT_ROUND15_QUERIES.update(
    {
        "rank_eval_ndcg": (rank_eval_ndcg_q, _sql_rank_eval_ndcg()),
        "rank_eval_recall": (rank_eval_recall_q, _sql_rank_eval_recall()),
    }
)
