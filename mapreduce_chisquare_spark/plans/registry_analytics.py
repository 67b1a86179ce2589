"""queries()/oracle_sql() registry — graph analytics, deterministic
sketches, exact quantile audits, curation passes and event analytics.

The graph tier extends the engine the way the reference's mrjob
lineage was historically extended (PageRank is the original MapReduce
showcase; cf. the chained-job structure of
/root/reference/multi_jobs_hdfs.py:39-215) — but as DataFrame plans
with fixed-point integer contracts, so both engines produce
bit-identical results and the oracle gate certifies VALUES, not just
shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_ITERATIONS,
    PR_SCALE,
    pagerank,
    triangle_counts,
)
from ..operators.sketches import KMV_HASH_SPACE, kmv_distinct
from ..sources.readers import literal_relation, scan_parquet
from ..streaming.curation import gopher_screen_stream


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return scan_parquet(spark, sf_dir, name)


# =========================================================================
# PageRank over the customer -> supplier trade graph
# =========================================================================

def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer->supplier trade graph shared by PageRank, PPR and
    HITS: a directed edge C<custkey> -> S<suppkey> per order line
    (orders x lineitem); the operators dedupe it to one edge per
    (customer, supplier) pair."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
    )


def graph_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (operators/graph.py) over the
    trade graph. Suppliers are sinks — the dangling-mass redistribution
    path is exercised on every iteration, not just in tests."""
    return pagerank(_trade_edges(spark, sf_dir))


def _sql_pagerank(
    iterations: int = PR_ITERATIONS, scale: int = PR_SCALE
) -> str:
    """DuckDB twin: the fixed iteration count is unrolled into chained
    CTEs (no recursion needed — the contract pins the round count),
    every step CAST to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT)."""
    num, den = PR_DAMP_NUM, PR_DAMP_DEN
    blocks = [
        f"""
WITH eg AS MATERIALIZED (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                  'S' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
nodes AS MATERIALIZED (SELECT src AS node FROM eg UNION SELECT dst FROM eg),
od AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM eg GROUP BY src),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node,
              CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS r
       FROM nodes)"""
    ]
    for i in range(1, int(iterations) + 1):
        p = i - 1
        blocks.append(
            f"""
inc{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(p.r // od.deg) AS BIGINT) AS s
  FROM r{p} p JOIN od ON p.node = od.src JOIN eg e ON e.src = p.node
  GROUP BY e.dst),
dg{i} AS MATERIALIZED (
  SELECT CAST(COALESCE(sum(p.r), 0) AS BIGINT) // (SELECT n FROM nn) AS ds
  FROM r{p} p WHERE p.node NOT IN (SELECT src FROM od)),
r{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST(({scale} * {den - num}) // ({den} * (SELECT n FROM nn))
              + ({num} * (COALESCE(inc{i}.s, 0) + (SELECT ds FROM dg{i})))
                // {den} AS BIGINT) AS r
  FROM nodes nd LEFT JOIN inc{i} ON nd.node = inc{i}.node)"""
        )
    return (
        ",".join(blocks)
        + f"\nSELECT node, r AS rank_fp FROM r{int(iterations)}\n"
    )


SQL_GRAPH_PAGERANK = _sql_pagerank()


# =========================================================================
# Triangle counting over the co-order part graph
# =========================================================================

# Planted K4 (4 synthetic orders, each a triple over parts -1..-4):
# every pair of {-1,-2,-3,-4} co-occurs in exactly 2 orders, so all 6
# edges clear min_support=2 and the clique contributes 4 triangles (3
# per node). The synthetic corpus's co-order graph is support-sparse
# by construction, so without the plant the gate could pass on an
# empty result — the dedup_exact de-trivialization lesson applied.
_TRI_PLANT = [
    (-1, -1), (-1, -2), (-1, -3),
    (-2, -1), (-2, -2), (-2, -4),
    (-3, -1), (-3, -3), (-3, -4),
    (-4, -2), (-4, -3), (-4, -4),
]


def _coorder_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_key, p_key) order-part incidences from lineitem, plus the
    planted K4 orders."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_partkey").alias("p_key"),
    ).union(literal_relation(spark, _TRI_PLANT, "o_key long, p_key long"))


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support-2 co-order part graph with the planted K4, as an
    undirected (lo, hi) edge list (lo < hi): two parts are adjacent
    when they co-occur in at least 2 distinct orders. Shared by LPA,
    k-core and link prediction."""
    op = _coorder_parts(spark, sf_dir).distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_key") == F.col("b.o_key"))
            & (F.col("a.p_key") < F.col("b.p_key")),
        )
        .groupBy(
            F.col("a.p_key").alias("lo"), F.col("b.p_key").alias("hi")
        )
        .agg(F.count("*").alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("lo", "hi")
    )


def graph_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle counting (operators/graph.py) over
    the support-2 co-order part graph, plus a planted K4 so the gate
    always certifies real triangles."""
    return triangle_counts(
        _coorder_parts(spark, sf_dir), min_support=2, top=20
    )


def _sql_triangles(min_support: int = 2, top: int = 20) -> str:
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
  HAVING count(*) >= {int(min_support)}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi FROM edges)
  GROUP BY node),
oriented AS (
  SELECT CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi) THEN e.lo ELSE e.hi END
           AS src,
         CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi) THEN e.hi ELSE e.lo END
           AS dst,
         CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi) THEN dh.deg ELSE dl.deg
           END AS dst_deg
  FROM edges e
  JOIN deg dl ON e.lo = dl.node
  JOIN deg dh ON e.hi = dh.node),
tris AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM oriented w1
  JOIN oriented w2 ON w1.src = w2.src
   AND (w1.dst_deg, w1.dst) < (w2.dst_deg, w2.dst)
  JOIN oriented cl ON cl.src = w1.dst AND cl.dst = w2.dst)
SELECT p_key, CAST(count(*) AS BIGINT) AS tri_cnt FROM (
  SELECT a AS p_key FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris)
GROUP BY p_key
ORDER BY tri_cnt DESC, p_key ASC
LIMIT {int(top)}
"""


SQL_GRAPH_TRIANGLES = _sql_triangles()


# =========================================================================
# KMV distinct sketch
# =========================================================================

_KMV_K = 64


def distinct_sketch_kmv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate distinct-user count via the KMV
    sketch (operators/sketches.py) — the cross-engine-deterministic
    alternative to approx_count_distinct."""
    return kmv_distinct(
        _t(spark, sf_dir, "events"), "user_id", "event_type", k=_KMV_K
    )


def _sql_kmv(k: int = _KMV_K) -> str:
    space = repr(KMV_HASH_SPACE)
    return f"""
WITH h AS (
  SELECT DISTINCT event_type AS grp,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT grp, h,
             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
      FROM h),
kk AS (SELECT grp, CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk
       FROM r WHERE rn <= {int(k)} GROUP BY grp)
SELECT grp AS event_type,
       CASE WHEN k_used < {int(k)} THEN CAST(k_used AS DOUBLE)
            ELSE CAST({int(k) - 1} AS DOUBLE) * {space}
                 / CAST(hk AS DOUBLE) END AS kmv_distinct,
       k_used
FROM kk
"""


SQL_DISTINCT_SKETCH_KMV = _sql_kmv()


# =========================================================================
# Exact quantile audit
# =========================================================================

def dq_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type p50/p95/p99 of event value
    (operators/warehouse.py dq_quantiles)."""
    from ..operators.warehouse import dq_quantiles

    return dq_quantiles(_t(spark, sf_dir, "events"))


def _sql_dq_quantiles(percentiles: tuple = (50, 95, 99)) -> str:
    cols = ",\n  ".join(
        f"CAST(max(CASE WHEN rn - 1 = ((n - 1) * {int(p)}) // 100 "
        f"THEN c END) AS DOUBLE) / 100.0 AS p{int(p)}"
        for p in percentiles
    )
    return f"""
WITH r AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(round(value * 100) AS BIGINT), event_id)
           AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events)
SELECT event_type, max(n) AS n,
  {cols}
FROM r GROUP BY event_type
"""


SQL_DQ_QUANTILES = _sql_dq_quantiles()


ANALYTICS_QUERIES = {
    "graph_pagerank": (graph_pagerank_q, SQL_GRAPH_PAGERANK),
    "graph_triangles": (graph_triangles_q, SQL_GRAPH_TRIANGLES),
    "distinct_sketch_kmv": (distinct_sketch_kmv_q, SQL_DISTINCT_SKETCH_KMV),
    "dq_quantiles": (dq_quantiles_q, SQL_DQ_QUANTILES),
}


# =========================================================================
# Named public curation passes: Gopher rules, C4 line dedup, DSIR
# =========================================================================

_GOPHER_SQL_WORDS = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), "
    "x -> x <> '')"
)


def quality_gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality heuristics (operators/textstats.py) over the
    documents table."""
    from ..operators.textstats import quality_gopher_rules

    return quality_gopher_rules(_t(spark, sf_dir, "documents"))


SQL_QUALITY_GOPHER_RULES = f"""
WITH w AS (
  SELECT doc_id, text, {_GOPHER_SQL_WORDS} AS ws FROM documents),
m AS (
  SELECT doc_id, len(ws) AS n,
    COALESCE(CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT),
             0) AS chars,
    len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS alpha,
    (len(text) - len(replace(text, '#', '')))
      + (len(text) - len(replace(text, '…', ''))) AS symbols,
    len(list_intersect(list_distinct(ws),
        ['the', 'a', 'to', 'of', 'and', 'that', 'with'])) AS nstop
  FROM w),
md AS (
  SELECT doc_id, max(c) AS modal FROM (
    SELECT doc_id, t.word, count(*) AS c
    FROM w, UNNEST(ws) AS t(word)
    GROUP BY doc_id, t.word) g
  GROUP BY doc_id)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_words,
  CAST(n >= 50 AND n <= 100000 AS INT) AS rule_word_count,
  CAST(3 * n <= chars AND chars <= 10 * n AS INT) AS rule_mean_len,
  CAST(5 * alpha >= 4 * n AS INT) AS rule_alpha,
  CAST(10 * symbols <= n AS INT) AS rule_symbol,
  CAST(nstop >= 2 AS INT) AS rule_stopwords,
  CAST(5 * COALESCE(modal, 0) <= n AS INT) AS rule_repetition,
  CAST(n >= 50 AND n <= 100000 AND 3 * n <= chars AND chars <= 10 * n
       AND 5 * alpha >= 4 * n AND 10 * symbols <= n AND nstop >= 2
       AND 5 * COALESCE(modal, 0) <= n AS INT) AS passed
FROM m LEFT JOIN md USING (doc_id)
"""


# Line synthesis for the C4 pass: this corpus is single-line, so the
# query rewrites each document into fixed 10-word lines FIRST —
# identically on both engines — which (with the ~30-word vocabulary)
# produces real cross-document duplicate lines for the global dedup
# to cut. The operator itself is corpus-agnostic (splits on newline).
_C4_LINE_WORDS = 10


def c4_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import c4_line_dedup

    docs = _t(spark, sf_dir, "documents")
    lw = _C4_LINE_WORDS
    relined = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: w != "").alias("__ws"),
    ).select(
        "doc_id",
        F.when(
            F.size("__ws") > 0,
            F.array_join(
                F.transform(
                    F.sequence(
                        F.lit(0), F.expr(f"(size(__ws) + {lw - 1}) div {lw} - 1")
                    ),
                    lambda i: F.array_join(
                        F.slice("__ws", i * lw + 1, lw), " "
                    ),
                ),
                "\n",
            ),
        ).alias("text"),
    ).filter(F.col("text").isNotNull())
    return c4_line_dedup(relined, min_line_words=3, min_doc_lines=1)


SQL_C4_LINE_DEDUP = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
d AS (
  SELECT doc_id,
         list_transform(range(0, (len(ws) + {_C4_LINE_WORDS - 1})
                                 // {_C4_LINE_WORDS}),
           i -> array_to_string(
                  list_slice(ws, i * {_C4_LINE_WORDS} + 1,
                             i * {_C4_LINE_WORDS} + {_C4_LINE_WORDS}),
                  ' ')) AS ls
  FROM w WHERE len(ws) > 0),
lines AS (
  SELECT doc_id, u.line_no, u.line
  FROM d, UNNEST(list_transform(range(1, len(ls) + 1),
         i -> struct_pack(line_no := i - 1, line := ls[i]))) AS t(u)),
fl AS (
  SELECT doc_id, line_no, line FROM lines
  WHERE len(list_filter(string_split(line, ' '), x -> x <> '')) >= 3),
mk AS (
  SELECT doc_id, line_no, line,
         CASE WHEN row_number() OVER (
           PARTITION BY line ORDER BY doc_id, line_no) = 1
         THEN 1 ELSE 0 END AS keep
  FROM fl),
pd AS (
  SELECT doc_id,
         CAST(sum(keep) AS BIGINT) AS n_lines_kept,
         CAST(count(*) - sum(keep) AS BIGINT) AS n_lines_dropped,
         array_to_string(list(line ORDER BY line_no)
                         FILTER (WHERE keep = 1), chr(10)) AS clean_text
  FROM mk GROUP BY doc_id)
SELECT doc_id, clean_text, n_lines_kept, n_lines_dropped
FROM pd WHERE n_lines_kept >= 1
"""


def dsir_importance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/curation.py) with the 'en'
    slice as the target distribution."""
    from ..operators.curation import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en", k=50
    )


SQL_DSIR_IMPORTANCE = """
WITH toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t, t.word
  FROM documents,
       UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
              x -> x <> '')) AS t(word)),
dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt,
              CAST(max(is_t) AS BIGINT) AS is_t
       FROM toks GROUP BY doc_id, word),
vocab AS (SELECT word, CAST(sum(cnt * is_t) AS BIGINT) AS tcnt,
                 CAST(sum(cnt) AS BIGINT) AS rcnt
          FROM dw GROUP BY word),
tot AS (SELECT CAST(sum(tcnt) AS BIGINT) AS t_total,
               CAST(sum(rcnt) AS BIGINT) AS r_total,
               CAST(count(*) AS BIGINT) AS v
        FROM vocab),
terms AS (
  SELECT dw.doc_id, dw.cnt, dw.word,
         CAST(dw.cnt AS DOUBLE) *
         (ln((CAST(vocab.tcnt AS DOUBLE) + 1.0)
             / (CAST(tot.t_total AS DOUBLE) + CAST(tot.v AS DOUBLE)))
          - ln((CAST(vocab.rcnt AS DOUBLE) + 1.0)
               / (CAST(tot.r_total AS DOUBLE) + CAST(tot.v AS DOUBLE))))
           AS t
  FROM dw JOIN vocab USING (word), tot),
per AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY word)),
           (acc, x) -> acc + x) AS log_weight
  FROM terms GROUP BY doc_id)
SELECT doc_id, n_tokens, log_weight
FROM per
ORDER BY log_weight DESC, doc_id ASC
LIMIT 50
"""


ANALYTICS_QUERIES.update(
    {
        "quality_gopher_rules": (
            quality_gopher_rules_q,
            SQL_QUALITY_GOPHER_RULES,
        ),
        "c4_line_dedup": (c4_line_dedup_q, SQL_C4_LINE_DEDUP),
        "dsir_importance": (dsir_importance_q, SQL_DSIR_IMPORTANCE),
    }
)


# =========================================================================
# Multimodal: audio/video header-probe round-trip
# =========================================================================

def multimodal_av_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-bytes audio/video metadata: synthesize canonical WAV/AVI
    containers per doc id, then recover the stream parameters from
    the bytes with the pure-Python RIFF probes
    (operators/multimodal.py). The DuckDB twin computes the same
    closed-form parameters directly — so the gate certifies that
    probe(synth(params)) == params THROUGH real container bytes,
    cross-engine."""
    from ..operators.multimodal import av_probe_documents

    return av_probe_documents(_t(spark, sf_dir, "documents"))


# n_bytes closed forms: WAV = 12 (RIFF hdr) + 24 (fmt) + 8 (data hdr)
# + n_samples * channels * 2; AVI = 12 + 12 (LIST hdr + 'hdrl')
# + 8 + 56 (avih). Mirrors synth_wav/synth_avi byte layouts exactly.
SQL_MULTIMODAL_AV_PROBE = """
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE WHEN doc_id % 2 = 0
    THEN 44 + (100 + doc_id % 37) * (1 + (doc_id // 2) % 2) * 2
    ELSE 88 END AS BIGINT) AS n_bytes,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 5) * 1600 END
       AS INT) AS sample_rate,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2 END
       AS INT) AS channels,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 100 + doc_id % 37 END
       AS INT) AS n_samples,
  CAST(CASE WHEN doc_id % 2 = 1 THEN 320 + (doc_id % 7) * 16 END
       AS INT) AS width,
  CAST(CASE WHEN doc_id % 2 = 1 THEN 240 + (doc_id % 5) * 16 END
       AS INT) AS height,
  CAST(CASE WHEN doc_id % 2 = 1 THEN 10 + doc_id % 23 END
       AS INT) AS n_frames
FROM documents
"""


ANALYTICS_QUERIES.update(
    {
        "multimodal_av_probe": (
            multimodal_av_probe_q,
            SQL_MULTIMODAL_AV_PROBE,
        ),
    }
)


def distinct_sketch_kmv_merge_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch MERGEABILITY end to end: per-event-type KMV states
    union-merged into one global distinct-user estimate
    (operators/sketches.py kmv_merge) — by the k-smallest argument
    this equals the sketch built directly on the unpartitioned
    stream, which the unit test asserts."""
    from ..operators.sketches import kmv_kept, kmv_merge

    kept = kmv_kept(
        _t(spark, sf_dir, "events"), "user_id", "event_type", k=_KMV_K
    )
    return kmv_merge(kept, k=_KMV_K)


def _sql_kmv_merge(k: int = _KMV_K) -> str:
    space = repr(KMV_HASH_SPACE)
    return f"""
WITH h AS (
  SELECT DISTINCT event_type AS grp,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT grp, h,
             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
      FROM h),
kept AS (SELECT grp, h FROM r WHERE rn <= {int(k)}),
topk AS (SELECT DISTINCT h FROM kept ORDER BY h LIMIT {int(k)}),
agg AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk
        FROM topk)
SELECT (SELECT CAST(count(DISTINCT grp) AS BIGINT) FROM kept)
         AS n_groups,
       k_used,
       CASE WHEN k_used < {int(k)} THEN CAST(k_used AS DOUBLE)
            ELSE CAST({int(k) - 1} AS DOUBLE) * {space}
                 / CAST(hk AS DOUBLE) END AS kmv_distinct
FROM agg
"""


ANALYTICS_QUERIES.update(
    {
        "distinct_sketch_kmv_merge": (
            distinct_sketch_kmv_merge_q,
            _sql_kmv_merge(),
        ),
    }
)


ANALYTICS_QUERIES.update(
    {
        "stream_gopher_screen": (
            gopher_screen_stream,
            SQL_QUALITY_GOPHER_RULES,
        ),
    }
)


# =========================================================================
# Personalized PageRank (seed-restart) over the trade graph
# =========================================================================

_PPR_SEEDS = ("C1", "C2", "C3")


def graph_ppr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py) seeded at three
    customers of the trade graph — 'more like these' proximity over
    customer->supplier edges."""
    from ..operators.graph import personalized_pagerank

    return personalized_pagerank(
        _trade_edges(spark, sf_dir), list(_PPR_SEEDS)
    )


def _sql_ppr(
    seeds: tuple = _PPR_SEEDS,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
) -> str:
    """DuckDB twin of personalized_pagerank: the pagerank unroll with
    the restart vector concentrated on the literal seed set (which
    also joins the node universe)."""
    num, den = PR_DAMP_NUM, PR_DAMP_DEN
    # dedupe EXACTLY as the operator does: ns feeds every
    # restart-mass denominator and must match the seed relation
    su = sorted(set(seeds))
    ns = len(su)
    seed_rows = ", ".join(f"('{s}')" for s in su)
    def in_seeds_q(col: str) -> str:
        return f"{col} IN (" + ", ".join(f"'{s}'" for s in su) + ")"

    in_seeds = in_seeds_q("node")
    in_seeds_nd = in_seeds_q("nd.node")
    blocks = [
        f"""
WITH eg AS MATERIALIZED (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                  'S' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
nodes AS MATERIALIZED (
  SELECT src AS node FROM eg UNION SELECT dst FROM eg
  UNION SELECT node FROM (VALUES {seed_rows}) sv(node)),
od AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM eg GROUP BY src),
r0 AS MATERIALIZED (
  SELECT node,
         CAST(CASE WHEN {in_seeds} THEN {scale} // {ns} ELSE 0 END
              AS BIGINT) AS r
  FROM nodes)"""
    ]
    for i in range(1, int(iterations) + 1):
        p = i - 1
        blocks.append(
            f"""
inc{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(p.r // od.deg) AS BIGINT) AS s
  FROM r{p} p JOIN od ON p.node = od.src JOIN eg e ON e.src = p.node
  GROUP BY e.dst),
dg{i} AS MATERIALIZED (
  SELECT CAST(COALESCE(sum(p.r), 0) AS BIGINT) // {ns} AS ds
  FROM r{p} p WHERE p.node NOT IN (SELECT src FROM od)),
r{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST(CASE WHEN {in_seeds_nd}
              THEN ({scale} * {den - num}) // ({den} * {ns})
                   + ({num} * (SELECT ds FROM dg{i})) // {den}
              ELSE 0 END
              + ({num} * COALESCE(inc{i}.s, 0)) // {den} AS BIGINT) AS r
  FROM nodes nd LEFT JOIN inc{i} ON nd.node = inc{i}.node)"""
        )
    return (
        ",".join(blocks)
        + f"\nSELECT node, r AS rank_fp FROM r{int(iterations)}\n"
    )


ANALYTICS_QUERIES.update(
    {"graph_ppr": (graph_ppr_q, _sql_ppr())}
)


# =========================================================================
# Statistical NLP: PMI collocations + skip-gram co-occurrence
# =========================================================================

def collocations_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import collocations_pmi

    return collocations_pmi(_t(spark, sf_dir, "documents"))


def _sql_collocations_pmi(min_count: int = 5, k: int = 50) -> str:
    return f"""
WITH w AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM w, UNNEST(range(1, len(ws))) AS t(i)),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_cnt
       FROM bg GROUP BY w1, w2),
lc AS (SELECT w1, CAST(sum(pair_cnt) AS BIGINT) AS lcnt
       FROM bc GROUP BY w1),
rc AS (SELECT w2, CAST(sum(pair_cnt) AS BIGINT) AS rcnt
       FROM bc GROUP BY w2),
nb AS (SELECT CAST(sum(pair_cnt) AS BIGINT) AS nbi FROM bc)
SELECT w1, w2, pair_cnt,
  ln(CAST(nbi AS DOUBLE) * CAST(pair_cnt AS DOUBLE)
     / (CAST(lcnt AS DOUBLE) * CAST(rcnt AS DOUBLE))) AS pmi
FROM bc JOIN lc USING (w1) JOIN rc USING (w2), nb
WHERE pair_cnt >= {int(min_count)}
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {int(k)}
"""


SQL_COLLOCATIONS_PMI = _sql_collocations_pmi()


def skipgram_cooc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import skipgram_cooc

    return skipgram_cooc(_t(spark, sf_dir, "documents"))


def _sql_skipgram_cooc(window: int = 2, k: int = 50) -> str:
    offs = ", ".join(
        str(o) for o in range(-int(window), int(window) + 1)
        if o != 0
    )
    return f"""
WITH w AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents),
pr AS (
  SELECT ws[i] AS center, ws[i + o] AS context
  FROM w,
       UNNEST(range(1, len(ws) + 1)) AS a(i),
       UNNEST([{offs}]) AS b(o)
  WHERE i + o >= 1 AND i + o <= len(ws))
SELECT center, context, CAST(count(*) AS BIGINT) AS pair_cnt
FROM pr GROUP BY center, context
ORDER BY pair_cnt DESC, center ASC, context ASC
LIMIT {int(k)}
"""


SQL_SKIPGRAM_COOC = _sql_skipgram_cooc()


ANALYTICS_QUERIES.update(
    {
        "collocations_pmi": (collocations_pmi_q, SQL_COLLOCATIONS_PMI),
        "skipgram_cooc": (skipgram_cooc_q, SQL_SKIPGRAM_COOC),
    }
)


# =========================================================================
# Cohort retention + market-basket rules
# =========================================================================

def events_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import events_retention

    return events_retention(_t(spark, sf_dir, "events"))


SQL_EVENTS_RETENTION = """
WITH uw AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 1000000 // 604800 AS week
  FROM events),
cw AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM uw),
cell AS (
  SELECT cohort_week, week - cohort_week AS weeks_since,
         CAST(count(*) AS BIGINT) AS n_users
  FROM cw
  GROUP BY cohort_week, week - cohort_week),
sz AS (SELECT cohort_week, n_users AS cohort_size
       FROM cell WHERE weeks_since = 0)
SELECT cohort_week, weeks_since, n_users,
       CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE)
         AS retention
FROM cell JOIN sz USING (cohort_week)
"""


def basket_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-order part pairs, with the same
    planted K4 as graph_triangles so the gate always scores real
    rules (the organic support-2 pair set can be empty at the
    smallest SF)."""
    from ..operators.graph import basket_rules

    return basket_rules(_coorder_parts(spark, sf_dir), min_support=2, k=50)


def _sql_basket_rules(min_support: int = 2, k: int = 50) -> str:
    plant_rows = ", ".join(f"({o}, {p})" for o, p in _TRI_PLANT)
    return f"""
WITH op AS (
  SELECT DISTINCT o_key, p_key FROM (
    SELECT l_orderkey AS o_key, l_partkey AS p_key FROM lineitem
    UNION ALL
    SELECT * FROM (VALUES {plant_rows}) v(o_key, p_key))),
nord AS (SELECT CAST(count(DISTINCT o_key) AS DOUBLE) AS n_ord FROM op),
pairs AS (
  SELECT a.p_key AS antecedent, b.p_key AS consequent,
         CAST(count(*) AS BIGINT) AS pair_supp
  FROM op a JOIN op b
    ON a.o_key = b.o_key AND a.p_key <> b.p_key
  GROUP BY a.p_key, b.p_key
  HAVING count(*) >= {int(min_support)}),
item AS (SELECT p_key AS item, CAST(count(*) AS BIGINT) AS supp
         FROM op GROUP BY p_key)
SELECT antecedent, consequent, pair_supp,
  CAST(pair_supp AS DOUBLE) / CAST(ia.supp AS DOUBLE) AS confidence,
  n_ord * CAST(pair_supp AS DOUBLE)
    / (CAST(ia.supp AS DOUBLE) * CAST(ic.supp AS DOUBLE)) AS lift
FROM pairs
JOIN item ia ON antecedent = ia.item
JOIN item ic ON consequent = ic.item, nord
ORDER BY lift DESC, antecedent ASC, consequent ASC
LIMIT {int(k)}
"""


ANALYTICS_QUERIES.update(
    {
        "events_retention": (events_retention_q, SQL_EVENTS_RETENTION),
        "basket_rules": (basket_rules_q, _sql_basket_rules()),
    }
)


# =========================================================================
# Round-9 additions: mergeable rank sketch, Misra-Gries heavy hitters
# =========================================================================

from ..constants import DELIM_REGEX  # noqa: E402

_RS_K = 256
_MG_K = 10


def dq_quantiles_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type p50/p95/p99 from the mergeable bottom-k
    rank sketch (operators/sketches.py rank_sketch_*, adapter
    operators/warehouse.py dq_quantiles_sketch)."""
    from ..operators.warehouse import dq_quantiles_sketch

    return dq_quantiles_sketch(_t(spark, sf_dir, "events"), k=_RS_K)


def _sql_rank_sketch_quantiles(
    k: int = _RS_K, percentiles: tuple = (50, 95, 99), shards: int = 0
) -> str:
    """DuckDB twin of the rank sketch: same md5 bottom-k state, same
    'lower' quantile rule. shards > 0 emits the sharded-then-merged
    construction (dq_quantiles_sketch_merge's plan) — which selects
    the SAME rows, the mergeability law the tests pin."""
    cols = ",\n  ".join(
        f"CAST(max(CASE WHEN rn - 1 = ((m - 1) * {int(p)}) // 100 "
        f"THEN c END) AS DOUBLE) / 100.0 AS p{int(p)}"
        for p in percentiles
    )
    if shards:
        kept = f"""
k1 AS (SELECT event_type, h, c FROM (
   SELECT event_type, h, c, row_number() OVER (
     PARTITION BY event_type, sh ORDER BY h, c) AS rn FROM hh)
   WHERE rn <= {int(k)}),
kept AS (SELECT event_type, h, c FROM (
   SELECT event_type, h, c, row_number() OVER (
     PARTITION BY event_type ORDER BY h, c) AS rn FROM k1)
   WHERE rn <= {int(k)})"""
        shard_col = f", event_id % {int(shards)} AS sh"
    else:
        kept = f"""
kept AS (SELECT event_type, h, c FROM (
   SELECT event_type, h, c, row_number() OVER (
     PARTITION BY event_type ORDER BY h, c) AS rn FROM hh)
   WHERE rn <= {int(k)})"""
        shard_col = ""
    return f"""
WITH hh AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h,
         CAST(round(value * 100) AS BIGINT) AS c{shard_col}
  FROM events WHERE event_id IS NOT NULL),
{kept},
r AS (SELECT event_type, c, h,
        CAST(row_number() OVER (
          PARTITION BY event_type ORDER BY c, h) AS BIGINT) AS rn,
        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
      FROM kept)
SELECT event_type, max(m) AS n_sampled,
  {cols}
FROM r GROUP BY event_type
"""


SQL_DQ_QUANTILES_SKETCH = _sql_rank_sketch_quantiles()


def dq_quantiles_sketch_merge_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The rank-sketch merge law as a plan: per-(type, shard) states
    merged per type, quantiles from the MERGED state — equals the
    unsharded sketch bit-for-bit (operators/warehouse.py
    dq_quantiles_sketch_merge)."""
    from ..operators.warehouse import dq_quantiles_sketch_merge

    return dq_quantiles_sketch_merge(
        _t(spark, sf_dir, "events"), k=_RS_K, shards=4
    )


SQL_DQ_QUANTILES_SKETCH_MERGE = _sql_rank_sketch_quantiles(shards=4)


def _raw_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw token stream (casefold + split, empties dropped, NO
    stopword/length/per-doc-distinct filters — frequency surveys and
    the quality model share this shape, unlike the chi-square
    relation's per-doc-distinct contract)."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), DELIM_REGEX),
        lambda t: t != F.lit(""),
    )
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("term"))
    )


_SQL_RAW_TOKS = (
    "tl AS (SELECT doc_id, "
    "list_filter(regexp_split_to_array(lower(text), '{delim}'), "
    "x -> x <> '') AS l FROM documents), "
    "tok AS (SELECT doc_id, u.t AS term FROM tl, UNNEST(l) AS u(t))"
)


def heavy_hitters_mg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Misra-Gries top-k summary of the corpus token
    frequency (operators/sketches.py mg_summary, k=10): counts minus
    the (k+1)-th largest, the bounded-memory heavy-hitter contract
    c_hat <= c_true <= c_hat + err_bound."""
    from ..operators.sketches import mg_summary

    counts = _raw_tokens(spark, sf_dir).groupBy("term").agg(
        F.count("*").cast("long").alias("c")
    )
    return mg_summary(counts, "term", k=_MG_K)


def _sql_mg(delim: str, k: int = _MG_K) -> str:
    toks = _SQL_RAW_TOKS.format(delim=delim)
    return f"""
WITH {toks},
cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY term),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term ASC
        LIMIT {k + 1}),
t AS (SELECT CAST(CASE WHEN count(*) = {k + 1} THEN min(c)
                       ELSE 0 END AS BIGINT) AS t FROM top),
r AS (SELECT term, c, row_number() OVER (
        ORDER BY c DESC, term ASC) AS rn FROM top)
SELECT term, CAST(c - t.t AS BIGINT) AS c_hat,
       t.t AS err_bound
FROM r CROSS JOIN t WHERE rn <= {k} AND c - t.t > 0
"""


def heavy_hitters_mg_merge_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MG merge law as a plan (operators/sketches.py
    mg_summary_sharded): per-shard MG(k) summaries (shard = doc_id
    mod 4) added then re-shrunk — the Agarwal et al. mergeable-
    summaries step, error telescoping to <= 2N/(k+1)."""
    from ..operators.sketches import mg_summary_sharded

    toks = F.filter(
        F.split(F.lower(F.col("text")), DELIM_REGEX),
        lambda t: t != F.lit(""),
    )
    tok = (
        _t(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % 4).cast("long").alias("sh"),
            F.explode(toks).alias("term"),
        )
    )
    return mg_summary_sharded(tok, "term", "sh", k=_MG_K)


def _sql_mg_merge(delim: str, k: int = _MG_K) -> str:
    toks = _SQL_RAW_TOKS.format(delim=delim)
    return f"""
WITH {toks},
sc AS (SELECT doc_id % 4 AS sh, term, CAST(count(*) AS BIGINT) AS c
       FROM tok GROUP BY doc_id % 4, term),
rn1 AS (SELECT *, row_number() OVER (
          PARTITION BY sh ORDER BY c DESC, term ASC) AS rn FROM sc),
ts AS (SELECT sh, CAST(coalesce(max(CASE WHEN rn = {k + 1} THEN c END),
                                0) AS BIGINT) AS t_s
       FROM rn1 WHERE rn <= {k + 1} GROUP BY sh),
summ AS (SELECT term, CAST(rn1.c - ts.t_s AS BIGINT) AS ch
         FROM rn1 JOIN ts USING (sh)
         WHERE rn <= {k} AND rn1.c - ts.t_s > 0),
m AS (SELECT term, CAST(sum(ch) AS BIGINT) AS c
      FROM summ GROUP BY term),
top AS (SELECT term, c FROM m ORDER BY c DESC, term ASC
        LIMIT {k + 1}),
t AS (SELECT CAST(CASE WHEN count(*) = {k + 1} THEN min(c)
                       ELSE 0 END AS BIGINT) AS t FROM top),
r AS (SELECT term, c, row_number() OVER (
        ORDER BY c DESC, term ASC) AS rn FROM top)
SELECT term, CAST(c - t.t AS BIGINT) AS c_hat,
       t.t AS err_bound
FROM r CROSS JOIN t WHERE rn <= {k} AND c - t.t > 0
"""


def _sql_delim_for_mg() -> str:
    from .oracle_common import SQL_DELIM

    return SQL_DELIM


ANALYTICS_QUERIES.update(
    {
        # round-9 additions — promoted into the round-9 certification
        # window (same-round promotion per plans/registry.py protocol)
        "dq_quantiles_sketch": (
            dq_quantiles_sketch_q,
            SQL_DQ_QUANTILES_SKETCH,
        ),
        "dq_quantiles_sketch_merge": (
            dq_quantiles_sketch_merge_q,
            SQL_DQ_QUANTILES_SKETCH_MERGE,
        ),
        "heavy_hitters_mg": (
            heavy_hitters_mg_q,
            _sql_mg(_sql_delim_for_mg()),
        ),
        "heavy_hitters_mg_merge": (
            heavy_hitters_mg_merge_q,
            _sql_mg_merge(_sql_delim_for_mg()),
        ),
    }
)


# =========================================================================
# CDC merge apply + marketing attribution (round 11 tail)
# =========================================================================

def cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-1 CDC MERGE apply (operators/warehouse.py cdc_apply):
    latest-change-per-key compaction of a synthetic I/U/D change
    stream derived from orders, full-outer-applied to the snapshot.
    The fixture plants superseded changes (a seq-3 DELETE overridden
    by a seq-4 UPDATE on keys % 55 == 0) so the certification fails
    unless latest-wins ordering is honored, and NULL-valued upserts
    (seq-5 'U' carrying NULL on keys % 23 == 0) so the certification
    fails unless the carried NULL overwrites the prior value."""
    from ..operators.warehouse import cdc_apply

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    base = o.filter(F.col("k") % 100 < 90)

    def _chg(cond, v, op: str, seq: int):
        return F.when(
            cond,
            F.struct(
                v.cast("long").alias("v"),
                F.lit(op).alias("op"),
                F.lit(seq).alias("seq"),
            ),
        )

    # one scan of the change source: each row emits its (possibly
    # several) change records from a filtered conditional array —
    # the per-slice union form re-scanned orders four times
    slices = F.filter(
        F.array(
            _chg(F.col("k") % 5 == 0, F.col("v") + 111, "U", 1),
            _chg(
                (F.col("k") % 100 >= 90) & (F.col("k") % 3 == 0),
                F.lit(555),
                "I",
                2,
            ),
            _chg(F.col("k") % 11 == 0, F.lit(None), "D", 3),
            _chg(F.col("k") % 55 == 0, F.col("v") + 999, "U", 4),
            _chg(F.col("k") % 23 == 0, F.lit(None), "U", 5),
        ),
        lambda c: c.isNotNull(),
    )
    changes = o.select("k", F.explode(slices).alias("__c")).select(
        "k", F.col("__c.v").alias("v"), F.col("__c.op").alias("op"),
        F.col("__c.seq").alias("seq"),
    )
    return cdc_apply(base, changes, key="k", val="v")


SQL_CDC_APPLY = """
WITH o AS (SELECT o_orderkey AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
base AS (SELECT k, v FROM o WHERE k % 100 < 90),
ch AS (
  SELECT k, v + 111 AS v, 'U' AS op, 1 AS seq FROM o WHERE k % 5 = 0
  UNION ALL
  SELECT k, CAST(555 AS BIGINT), 'I', 2 FROM o
  WHERE k % 100 >= 90 AND k % 3 = 0
  UNION ALL
  SELECT k, CAST(NULL AS BIGINT), 'D', 3 FROM o WHERE k % 11 = 0
  UNION ALL
  SELECT k, v + 999, 'U', 4 FROM o WHERE k % 55 = 0
  UNION ALL
  SELECT k, CAST(NULL AS BIGINT), 'U', 5 FROM o WHERE k % 23 = 0),
latest AS (
  SELECT k, v AS cv, op AS cop FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM ch)
  WHERE rn = 1),
j AS (SELECT coalesce(b.k, l.k) AS k, b.v AS bv, l.cv, l.cop
      FROM base b FULL OUTER JOIN latest l ON b.k = l.k)
SELECT k, CASE WHEN cop IS NOT NULL THEN cv ELSE bv END AS v
FROM j WHERE cop IS NULL OR cop <> 'D'
"""


def events_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/warehouse.py
    events_attribution): every purchase credits the most recent
    preceding non-purchase event by the same user within 7 days. The
    Spark plan is the single-pass carried-window form; the oracle is
    the independent join + row_number argmax form, so equality
    certifies the window rewrite."""
    from ..operators.warehouse import events_attribution

    return events_attribution(_t(spark, sf_dir, "events"))


SQL_EVENTS_ATTRIBUTION = """
WITH ev AS (SELECT event_id, user_id, event_type, value,
                   epoch_us(ts) AS ts_us
            FROM events),
conv AS (SELECT * FROM ev WHERE event_type = 'purchase'),
t AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
cand AS (
  SELECT c.event_id AS conv_id, t.event_id AS t_id,
         t.event_type AS t_type,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts_us DESC, t.event_id DESC)
           AS rn
  FROM conv c JOIN t ON c.user_id = t.user_id
   AND (t.ts_us < c.ts_us
        OR (t.ts_us = c.ts_us AND t.event_id < c.event_id))
   AND t.ts_us >= c.ts_us - 604800000000)
SELECT c.event_id AS conv_id, c.user_id, c.ts_us AS conv_ts_us,
       c.value AS conv_value, p.t_id AS touch_id,
       p.t_type AS touch_type
FROM conv c
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) p
  ON c.event_id = p.conv_id
"""


ANALYTICS_QUERIES.update(
    {
        # round-11 fourth batch — registry tail, queued for the
        # round-12 certification window
        "cdc_apply": (cdc_apply_q, SQL_CDC_APPLY),
        "events_attribution": (events_attribution_q, SQL_EVENTS_ATTRIBUTION),
    }
)


# =========================================================================
# Label-propagation communities + Markov transitions + compaction plan
# =========================================================================

def graph_label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA communities (operators/graph.py
    label_propagation) over the support-2 co-order part graph with
    the planted K4 — the same edge relation graph_triangles counts,
    so the community structure is certified on a graph with known
    dense subsets."""
    from ..operators.graph import label_propagation

    return label_propagation(_coorder_edges(spark, sf_dir))


def _sql_label_propagation(iterations: int = 3) -> str:
    plant_rows = ", ".join(f"({o}, {p})" for o, p in _TRI_PLANT)
    blocks = [
        f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT o_key, p_key FROM (
    SELECT l_orderkey AS o_key, l_partkey AS p_key FROM lineitem
    UNION ALL
    SELECT * FROM (VALUES {plant_rows}) v(o_key, p_key))),
eg AS MATERIALIZED (
  SELECT a.p_key AS lo, b.p_key AS hi
  FROM op a JOIN op b ON a.o_key = b.o_key AND a.p_key < b.p_key
  GROUP BY a.p_key, b.p_key
  HAVING count(*) >= 2),
sym AS MATERIALIZED (
  SELECT lo AS a, hi AS b FROM eg UNION SELECT hi, lo FROM eg),
l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM sym)"""
    ]
    for i in range(1, int(iterations) + 1):
        p = i - 1
        blocks.append(
            f"""
c{i} AS (SELECT s.a AS node, l.lbl, count(*) AS c
        FROM sym s JOIN l{p} l ON l.node = s.b
        GROUP BY s.a, l.lbl),
l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM c{i})
  WHERE rn = 1)"""
        )
    return (
        ",".join(blocks)
        + f"\nSELECT node, lbl AS community FROM l{int(iterations)}\n"
    )


SQL_GRAPH_LABEL_PROPAGATION = _sql_label_propagation()


def events_markov_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table (operators/warehouse.py
    events_markov_transitions) over per-user event sequences, with
    the (ts, event_id) total order pinning same-timestamp rows."""
    from ..operators.warehouse import events_markov_transitions

    return events_markov_transitions(_t(spark, sf_dir, "events"))


SQL_EVENTS_MARKOV = """
WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                  event_type
           FROM events),
p AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id)
               AS to_type
      FROM e),
c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE)
         / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
         AS prob
FROM c
"""


COMPACTION_TARGET = 50_000  # bytes per rewrite group at test SFs


def compaction_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/layout.py
    compaction_plan) over a file listing derived from documents
    (path = zero-padded doc id so lexicographic == numeric order,
    size = n_chars): deterministic bins of ~COMPACTION_TARGET."""
    from ..operators.layout import compaction_plan

    files = _t(spark, sf_dir, "documents").select(
        F.format_string("f%08d", F.col("doc_id")).alias("path"),
        F.col("n_chars").alias("size"),
    )
    return compaction_plan(files, COMPACTION_TARGET)


SQL_COMPACTION_PLAN = f"""
WITH f AS (SELECT printf('f%08d', doc_id) AS path, n_chars AS size
           FROM documents),
c AS (SELECT path, size,
             sum(size) OVER (ORDER BY path
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - size AS cum_before
      FROM f)
SELECT CAST(cum_before // {COMPACTION_TARGET} AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size) AS BIGINT) AS total_size,
       min(path) AS first_id, max(path) AS last_id
FROM c GROUP BY 1
"""


ANALYTICS_QUERIES.update(
    {
        # round-11 fifth batch — registry tail, queued for the
        # round-12 certification window
        "graph_label_propagation": (
            graph_label_propagation_q,
            SQL_GRAPH_LABEL_PROPAGATION,
        ),
        "events_markov_transitions": (
            events_markov_transitions_q,
            SQL_EVENTS_MARKOV,
        ),
        "compaction_plan": (compaction_plan_q, SQL_COMPACTION_PLAN),
    }
)


# =========================================================================
# Expectation-suite checks + percentile windows (round 11 sixth batch)
# =========================================================================

def dq_checks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite gate (operators/warehouse.py dq_checks) over
    lineitem: not-null and non-negative rules folded into one
    aggregation pass, a uniqueness rule that genuinely FAILS
    (l_orderkey repeats per line), and referential integrity against
    orders via one anti-join."""
    from ..operators.warehouse import dq_checks

    return dq_checks(
        _t(spark, sf_dir, "lineitem"),
        not_null=["l_orderkey", "l_shipdate"],
        unique=["l_orderkey"],
        non_negative=["l_extendedprice", "l_discount"],
        ref=("l_orderkey", _t(spark, sf_dir, "orders"), "o_orderkey"),
    )


SQL_DQ_CHECKS = """
WITH r AS (
  SELECT 'not_null:l_orderkey' AS rule,
         CAST(count(*) AS BIGINT) AS n_checked,
         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_failed
  FROM lineitem
  UNION ALL
  SELECT 'not_null:l_shipdate', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'non_negative:l_extendedprice', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'non_negative:l_discount', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN l_discount < 0 THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'unique:l_orderkey', CAST(count(l_orderkey) AS BIGINT),
         CAST(count(l_orderkey) - count(DISTINCT l_orderkey)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'ref:l_orderkey', CAST(count(l_orderkey) AS BIGINT),
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_orderkey = l.l_orderkey))
  FROM lineitem)
SELECT rule, n_checked, n_failed, n_failed = 0 AS passed FROM r
"""


def window_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist — the two rank-normalizing window
    functions the window family (rank/dense/ntile/lag/frames) did not
    yet cover; both are functions of the ORDER KEY VALUE alone, so
    ties cannot make them nondeterministic."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_WINDOW_PERCENTILES = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       percent_rank() OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity) AS pct_rank,
       cume_dist() OVER (PARTITION BY l_returnflag
                         ORDER BY l_quantity) AS cume
FROM lineitem
"""


ANALYTICS_QUERIES.update(
    {
        # round-11 sixth batch — registry tail, queued for the
        # round-12 certification window
        "dq_checks": (dq_checks_q, SQL_DQ_CHECKS),
        "window_percentiles": (window_percentiles_q, SQL_WINDOW_PERCENTILES),
    }
)


# =========================================================================
# k-core peeling (round 11 sixth batch)
# =========================================================================

def graph_kcore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (operators/graph.py kcore_peel) on the same
    support-2 co-order part graph as triangles/LPA: the planted K4
    guarantees a non-empty 3-core, organic hairs peel away."""
    from ..operators.graph import kcore_peel

    return kcore_peel(_coorder_edges(spark, sf_dir), k=3)


def _sql_kcore(k: int = 3, rounds: int = 4) -> str:
    plant_rows = ", ".join(f"({o}, {p})" for o, p in _TRI_PLANT)
    blocks = [
        f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT o_key, p_key FROM (
    SELECT l_orderkey AS o_key, l_partkey AS p_key FROM lineitem
    UNION ALL
    SELECT * FROM (VALUES {plant_rows}) v(o_key, p_key))),
eg AS MATERIALIZED (
  SELECT a.p_key AS lo, b.p_key AS hi
  FROM op a JOIN op b ON a.o_key = b.o_key AND a.p_key < b.p_key
  GROUP BY a.p_key, b.p_key
  HAVING count(*) >= 2),
e0 AS MATERIALIZED (
  SELECT lo AS a, hi AS b FROM eg UNION SELECT hi, lo FROM eg)"""
    ]
    for i in range(1, int(rounds) + 1):
        p = i - 1
        blocks.append(
            f"""
d{i} AS (SELECT a, count(*) AS deg FROM e{p} GROUP BY a),
n{i} AS MATERIALIZED (SELECT a FROM d{i} WHERE deg >= {int(k)}),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{p} e
  WHERE e.a IN (SELECT a FROM n{i}) AND e.b IN (SELECT a FROM n{i}))"""
        )
    return (
        ",".join(blocks)
        + f"""
SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
FROM e{int(rounds)} GROUP BY a
"""
    )


ANALYTICS_QUERIES.update(
    {
        # round-11 sixth batch (continued) — registry tail, queued
        # for the round-12 certification window
        "graph_kcore": (graph_kcore_q, _sql_kcore()),
    }
)


# =========================================================================
# Jaccard link prediction
# =========================================================================


def graph_linkpred_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction (operators/graph.py
    jaccard_link_prediction) on the support-2 co-order part graph
    with planted K4 — hub-guarded wedge join, top-50 non-adjacent
    pairs by common-neighbor Jaccard."""
    from ..operators.graph import jaccard_link_prediction

    return jaccard_link_prediction(_coorder_edges(spark, sf_dir))


def _sql_linkpred(k: int = 50, max_deg: int = 200) -> str:
    plant_rows = ", ".join(f"({o}, {p})" for o, p in _TRI_PLANT)
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT o_key, p_key FROM (
    SELECT l_orderkey AS o_key, l_partkey AS p_key FROM lineitem
    UNION ALL
    SELECT * FROM (VALUES {plant_rows}) v(o_key, p_key))),
eg AS MATERIALIZED (
  SELECT a.p_key AS lo, b.p_key AS hi
  FROM op a JOIN op b ON a.o_key = b.o_key AND a.p_key < b.p_key
  GROUP BY a.p_key, b.p_key
  HAVING count(*) >= 2),
sym AS MATERIALIZED (
  SELECT lo AS a, hi AS b FROM eg UNION SELECT hi, lo FROM eg),
deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS deg
                     FROM sym GROUP BY a),
ctr AS (SELECT a AS n FROM deg WHERE deg <= {int(max_deg)}),
pairs AS (
  SELECT x.a AS u, y.a AS w, CAST(count(*) AS BIGINT) AS common
  FROM sym x JOIN sym y ON x.b = y.b AND x.a < y.a
  WHERE x.b IN (SELECT n FROM ctr)
  GROUP BY x.a, y.a),
cand AS (
  SELECT * FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM sym s
                    WHERE s.a = p.u AND s.b = p.w)),
degx AS MATERIALIZED (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym
  WHERE b IN (SELECT n FROM ctr) GROUP BY a),
scored AS (
  SELECT c.u AS a, c.w AS b, c.common,
         CAST(c.common AS DOUBLE)
           / CAST(du.deg + dw.deg - c.common AS DOUBLE) AS jaccard
  FROM cand c JOIN degx du ON du.a = c.u JOIN degx dw ON dw.a = c.w)
SELECT a, b, common, jaccard FROM scored
ORDER BY jaccard DESC, a ASC, b ASC
LIMIT {int(k)}
"""


ANALYTICS_QUERIES.update(
    {
        # round-11 seventh batch (continued) — registry tail, queued
        # for the round-12 certification window
        "graph_linkpred_jaccard": (
            graph_linkpred_jaccard_q,
            _sql_linkpred(),
        ),
    }
)


# =========================================================================
# Round-12 additions: HITS, cumulative reach, referential integrity
# =========================================================================

def graph_hits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer HITS (operators/graph.py hits) over the
    customer->supplier trade graph — suppliers are pure authorities
    (hub 0) and customers pure hubs (authority 0), so both zero
    paths of the renormalized half-steps are exercised on every
    round, not just in unit tests."""
    from ..operators.graph import hits

    return hits(_trade_edges(spark, sf_dir))


def _sql_hits(iterations: int | None = None, scale: int | None = None) -> str:
    """DuckDB twin of hits(): the fixed round count unrolled into
    chained CTEs (the _sql_pagerank pattern), every sum CAST back to
    BIGINT, `//` mirroring Spark's `div` (all values non-negative)."""
    from ..operators.graph import HITS_ITERATIONS, HITS_SCALE

    its = HITS_ITERATIONS if iterations is None else int(iterations)
    sc = HITS_SCALE if scale is None else int(scale)
    blocks = [
        f"""
WITH eg AS MATERIALIZED (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                  'S' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
nodes AS MATERIALIZED (SELECT src AS node FROM eg UNION SELECT dst FROM eg),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
h0 AS MATERIALIZED (
  SELECT node, CAST({sc} // (SELECT n FROM nn) AS BIGINT) AS m
  FROM nodes)"""
    ]
    for i in range(1, its + 1):
        p = i - 1
        blocks.append(
            f"""
araw{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(h.m) AS BIGINT) AS raw
  FROM eg e JOIN h{p} h ON e.src = h.node GROUP BY e.dst),
ad{i} AS MATERIALIZED (
  SELECT greatest(CAST(COALESCE(sum(raw), 0) AS BIGINT) // {sc}, 1) AS d
  FROM araw{i}),
a{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST(COALESCE(r.raw, 0) // (SELECT d FROM ad{i}) AS BIGINT) AS m
  FROM nodes nd LEFT JOIN araw{i} r ON nd.node = r.node),
hraw{i} AS MATERIALIZED (
  SELECT e.src AS node, CAST(sum(a.m) AS BIGINT) AS raw
  FROM eg e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
hd{i} AS MATERIALIZED (
  SELECT greatest(CAST(COALESCE(sum(raw), 0) AS BIGINT) // {sc}, 1) AS d
  FROM hraw{i}),
h{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST(COALESCE(r.raw, 0) // (SELECT d FROM hd{i}) AS BIGINT) AS m
  FROM nodes nd LEFT JOIN hraw{i} r ON nd.node = r.node)"""
        )
    return (
        ",".join(blocks)
        + f"""
SELECT h{its}.node, h{its}.m AS hub_fp, a{its}.m AS auth_fp
FROM h{its} JOIN a{its} ON h{its}.node = a{its}.node
"""
    )


ANALYTICS_QUERIES.update(
    {
        # round-12 first batch — registry tail, queued for the
        # round-13 certification window
        "graph_hits": (graph_hits_q, _sql_hits()),
    }
)


def events_cumulative_reach_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user reach per event type by day
    (operators/warehouse.py cumulative_reach): first-touch
    decomposition — running sum of daily first-touch counts, never a
    growing-prefix count(DISTINCT)."""
    from ..operators.warehouse import cumulative_reach

    return cumulative_reach(_t(spark, sf_dir, "events"))


SQL_EVENTS_CUMULATIVE_REACH = """
WITH tagged AS (
  SELECT event_type,
         epoch_us(ts) // CAST(86400000000 AS BIGINT) AS day_us,
         CASE WHEN row_number() OVER (
             PARTITION BY event_type, user_id
             ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_t
  FROM events),
daily AS (
  SELECT event_type, day_us,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(first_t) AS BIGINT) AS new_users
  FROM tagged GROUP BY event_type, day_us)
SELECT event_type, day_us, n_events, new_users,
       CAST(sum(new_users) OVER (
         PARTITION BY event_type ORDER BY day_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM daily
"""


# Planted orphan FKs (negative keys never exist in the parent
# tables), so the gate certifies real orphan counting — without the
# plant TPC-H data is referentially clean and the check could pass
# on an all-zeros result.
_RI_PLANT = [-1, -2, -3]


def dq_referential_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (operators/warehouse.py
    referential_integrity) over the lineitem->orders and
    orders->customer relationships, each with 3 planted orphan child
    rows (negative FKs)."""
    from ..operators.warehouse import referential_integrity

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    plant = literal_relation(spark, [(k,) for k in _RI_PLANT], "k long")
    li_fk = li.select(F.col("l_orderkey").alias("k")).unionAll(plant)
    o_fk = orders.select(F.col("o_custkey").alias("k")).unionAll(plant)
    return referential_integrity(
        [
            ("lineitem.l_orderkey->orders", li_fk, "k", orders, "o_orderkey"),
            ("orders.o_custkey->customer", o_fk, "k", cust, "c_custkey"),
        ]
    )


def _sql_dq_referential() -> str:
    plant = ", ".join(f"({k})" for k in _RI_PLANT)
    return f"""
WITH li_fk AS (
  SELECT l_orderkey AS k FROM lineitem
  UNION ALL SELECT * FROM (VALUES {plant}) v(k)),
o_fk AS (
  SELECT o_custkey AS k FROM orders
  UNION ALL SELECT * FROM (VALUES {plant}) v(k)),
r1 AS (
  SELECT 'lineitem.l_orderkey->orders' AS relationship,
         CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(*) FILTER (WHERE p.o_orderkey IS NULL) AS BIGINT)
           AS n_orphans
  FROM li_fk c LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p
    ON c.k = p.o_orderkey),
r2 AS (
  SELECT 'orders.o_custkey->customer' AS relationship,
         CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(*) FILTER (WHERE p.c_custkey IS NULL) AS BIGINT)
           AS n_orphans
  FROM o_fk c LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) p
    ON c.k = p.c_custkey),
u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
SELECT relationship, n_child, n_orphans,
       CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE)
         AS orphan_rate
FROM u
"""


ANALYTICS_QUERIES.update(
    {
        # round-12 first batch (continued) — registry tail, queued
        # for the round-13 certification window
        "events_cumulative_reach": (
            events_cumulative_reach_q,
            SQL_EVENTS_CUMULATIVE_REACH,
        ),
        "dq_referential": (dq_referential_q, _sql_dq_referential()),
    }
)


# =========================================================================
# Round-12 second batch: HLL distinct sketch, bucketize
# =========================================================================

def distinct_sketch_hll_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct estimate of lineitem part keys
    (operators/sketches.py hll_registers + hll_estimate): md5-slice
    32-bit hash, 64 registers, integer CASE-ladder rho, exact-binary-
    fraction harmonic sum, linear-counting small-range correction."""
    from ..operators.sketches import hll_estimate, hll_registers

    li = scan_parquet(spark, sf_dir, "lineitem")
    return hll_estimate(hll_registers(li, "l_partkey"))


def distinct_sketch_hll_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-then-merged HLL (operators/sketches.py hll_merge):
    4 shards sketch independently (l_orderkey % 4), registers merge
    by per-index max, and the estimate must equal the single-pass
    sketch EXACTLY — the oracle computes global registers directly,
    so any merge defect breaks hash equality."""
    from ..operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    li = scan_parquet(spark, sf_dir, "lineitem").withColumn(
        "__shard", F.col("l_orderkey") % 4
    )
    regs = hll_registers(li, "l_partkey", shard_col="__shard")
    return hll_estimate(hll_merge(regs))


def _sql_hll(key_expr: str = "CAST(l_partkey AS VARCHAR)") -> str:
    from ..operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_W_BITS,
    )
    from .oracle_common import sql_md5_hash32

    wspace = 1 << HLL_W_BITS
    rho_case = (
        "CASE "
        + " ".join(
            f"WHEN w >= {1 << (HLL_W_BITS - rho)} THEN {rho}"
            for rho in range(1, HLL_W_BITS + 1)
        )
        + f" ELSE {HLL_W_BITS + 1} END"
    )
    raw = (
        f"{HLL_ALPHA} * CAST(m AS DOUBLE) * CAST(m AS DOUBLE) / s"
    )
    return f"""
WITH h AS (SELECT {sql_md5_hash32(key_expr)} AS h32 FROM lineitem),
r0 AS (SELECT h32 // {wspace} AS idx, h32 % {wspace} AS w FROM h),
reg AS (SELECT idx, max({rho_case}) AS m_j FROM r0 GROUP BY idx),
f AS (SELECT i.idx, COALESCE(reg.m_j, 0) AS m_j
      FROM UNNEST(range({HLL_M})) i(idx)
      LEFT JOIN reg ON reg.idx = i.idx),
agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS v,
               sum(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE)) AS s
        FROM f)
SELECT m AS n_registers, v AS zero_registers,
       {raw} AS hll_raw,
       CASE WHEN {raw} <= 2.5 * CAST(m AS DOUBLE) AND v > 0
            THEN CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)
                                        / CAST(v AS DOUBLE))
            ELSE {raw} END AS hll_estimate
FROM agg
"""


def quantile_bucketize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth binning of lineitem extended price (cents)
    into 8 buckets (operators/warehouse.py quantile_bucketize):
    histogram-first, deterministic tie handling, all-integer."""
    from ..operators.warehouse import quantile_bucketize

    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents")
    )
    return quantile_bucketize(li, "cents")


SQL_QUANTILE_BUCKETIZE = """
WITH hist AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1),
cum AS (
  SELECT v, c,
         CAST(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
           AS BIGINT) AS below
  FROM hist),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
binned AS (
  SELECT v, c,
         least(7, (below * 8) // (SELECT n FROM n)) AS bucket
  FROM cum)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
FROM binned GROUP BY bucket
"""


ANALYTICS_QUERIES.update(
    {
        # round-12 second batch — registry tail, queued for the
        # round-13 certification window
        "distinct_sketch_hll": (distinct_sketch_hll_q, _sql_hll()),
        "distinct_sketch_hll_merge": (
            distinct_sketch_hll_merge_q,
            _sql_hll(),
        ),
        "quantile_bucketize": (
            quantile_bucketize_q,
            SQL_QUANTILE_BUCKETIZE,
        ),
    }
)


def distinct_sketch_hll_intersection_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HLL set algebra (operators/sketches.py hll_intersection):
    audience overlap of two overlapping part-key sets — A = parts on
    orders with even order keys, B = parts on orders with order key
    % 3 == 0 (A ∩ B = the % 6 == 0 slice, nonempty by construction
    so the gate certifies a real overlap estimate)."""
    from ..operators.sketches import hll_intersection

    li = scan_parquet(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 3 == 0)
    return hll_intersection(a, b, "l_partkey")


def _sql_hll_regs(src_filter: str, name: str) -> str:
    """Register CTE chain for one filtered source (mirrors
    hll_registers); emits CTEs {name}_reg and {name}_f."""
    from ..operators.sketches import HLL_M, HLL_W_BITS
    from .oracle_common import sql_md5_hash32

    wspace = 1 << HLL_W_BITS
    rho_case = (
        "CASE "
        + " ".join(
            f"WHEN w >= {1 << (HLL_W_BITS - rho)} THEN {rho}"
            for rho in range(1, HLL_W_BITS + 1)
        )
        + f" ELSE {HLL_W_BITS + 1} END"
    )
    h = sql_md5_hash32("CAST(l_partkey AS VARCHAR)")
    return f"""
{name}_h AS (SELECT {h} AS h32 FROM lineitem WHERE {src_filter}),
{name}_r0 AS (SELECT h32 // {wspace} AS idx, h32 % {wspace} AS w
              FROM {name}_h),
{name}_reg AS (SELECT idx, max({rho_case}) AS m_j
               FROM {name}_r0 GROUP BY idx),
{name}_f AS (SELECT i.idx, COALESCE(r.m_j, 0) AS m_j
             FROM UNNEST(range({HLL_M})) i(idx)
             LEFT JOIN {name}_reg r ON r.idx = i.idx)"""


def _sql_hll_est(regs_cte: str, out: str) -> str:
    from ..operators.sketches import HLL_ALPHA

    raw = f"{HLL_ALPHA} * CAST(m AS DOUBLE) * CAST(m AS DOUBLE) / s"
    return f"""
{out}_agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
        CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v,
        sum(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE)) AS s
        FROM {regs_cte}),
{out} AS (SELECT CASE WHEN {raw} <= 2.5 * CAST(m AS DOUBLE) AND v > 0
                 THEN CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)
                                             / CAST(v AS DOUBLE))
                 ELSE {raw} END AS e
          FROM {out}_agg)"""


def _sql_hll_intersection() -> str:
    return (
        "WITH "
        + _sql_hll_regs("l_orderkey % 2 = 0", "a")
        + ","
        + _sql_hll_regs("l_orderkey % 3 = 0", "b")
        + """,
u_f AS (SELECT a_f.idx, greatest(a_f.m_j, b_f.m_j) AS m_j
        FROM a_f JOIN b_f ON a_f.idx = b_f.idx),"""
        + _sql_hll_est("a_f", "ea")
        + ","
        + _sql_hll_est("b_f", "eb")
        + ","
        + _sql_hll_est("u_f", "eu")
        + """
SELECT ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
       greatest(0.0, ea.e + eb.e - eu.e) AS est_intersection
FROM ea, eb, eu
"""
    )


ANALYTICS_QUERIES.update(
    {
        "distinct_sketch_hll_intersection": (
            distinct_sketch_hll_intersection_q,
            _sql_hll_intersection(),
        ),
    }
)
