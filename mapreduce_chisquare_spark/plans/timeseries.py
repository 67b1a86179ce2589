"""The time-series family's registry entries: builders over the events
log (operators/timeseries.py) and their DuckDB twins.

Resampling, the conversion funnel, the data-series search ladder
(PAA, SAX, grid refine, DTW), the matrix profile, diagnostics and the
forecast folds. Each twin quantizes values to exact integer cents,
orders a series by (ts, event_id) and folds doubles in segment order,
as its operator does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import timeseries as ts
from .ext_common import _events


def resample_ffill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.resample_ffill(_events(spark, sf_dir))


# The resamplers' hourly observations and grid spine
# (operators/timeseries.py _hourly).
_SQL_OBS = """o AS (
  SELECT user_id, epoch_us(ts) AS us, value,
         (epoch_us(ts) // 1000000 // 3600) * 3600 AS h
  FROM events WHERE user_id < 40),"""
_SQL_SPINE = """sp AS (
  SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS h
  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
        FROM o GROUP BY user_id) t)"""

SQL_RESAMPLE_FFILL = f"""
WITH {_SQL_OBS}
lv AS (
  SELECT user_id, h, value FROM (
    SELECT user_id, h, value,
      row_number() OVER (PARTITION BY user_id, h
                         ORDER BY us DESC, value DESC) AS rn
    FROM o) t WHERE rn = 1),
n AS (
  SELECT user_id, h, CAST(count(*) AS BIGINT) AS n_events
  FROM o GROUP BY user_id, h),
{_SQL_SPINE}
SELECT sp.user_id, sp.h AS hour_start,
  coalesce(n.n_events, 0) AS n_events,
  last_value(lv.value IGNORE NULLS) OVER (
    PARTITION BY sp.user_id ORDER BY sp.h) AS value_ffill
FROM sp
LEFT JOIN lv ON sp.user_id = lv.user_id AND sp.h = lv.h
LEFT JOIN n  ON sp.user_id = n.user_id  AND sp.h = n.h
"""


def ts_paa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA sketches of each user's event-value series
    (operators/timeseries.py ts_paa)."""
    return ts.ts_paa(_events(spark, sf_dir))


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

# Each user's squared PAA distance to user 0, folded in seg order.
_SQL_TS_DIST = (
    "tq AS (SELECT seg, paa_value AS q_value FROM tsk WHERE user_id = 0), "
    "td AS (SELECT s.user_id, "
    "sum((s.paa_value - q_value) * (s.paa_value - q_value) "
    "    ORDER BY s.seg) AS dist2 "
    "FROM tsk s JOIN tq USING (seg) WHERE s.user_id <> 0 "
    "GROUP BY s.user_id)"
)


SQL_TS_PAA = (
    "WITH " + _PAA_CTES
    + " SELECT user_id, seg, paa_value, n_points FROM tsk"
)


def ts_similarity_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar user series to user 0 by squared PAA
    distance (operators/timeseries.py ts_similarity_topk)."""
    return ts.ts_similarity_topk(_events(spark, sf_dir))


SQL_TS_SIMILARITY = (
    "WITH " + _PAA_CTES + ", " + _SQL_TS_DIST + " "
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
    return ts.ts_similarity_refined(_events(spark, sf_dir))


SQL_TS_SIMILARITY_REFINED = (
    "WITH " + _PAA_CTES + ", " + _paa_ctes(32, "fg") + ", "
    + _SQL_TS_DIST + ", "
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
    return ts.ts_sax(_events(spark, sf_dir))


# The ONE symbol expression both SAX oracles share (word builder +
# symbol-tier search): the cross-multiplied-cents comparison
# (mean >= b  <=>  sc >= b_cents * n) — no float exists anywhere.
def _sax_sym_expr() -> str:
    return " + ".join(
        f"(CASE WHEN sc >= {int(b)} * np THEN 1 ELSE 0 END)"
        for b in ts.SAX_BREAKS_CENTS
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


SQL_TS_SAX = (
    "WITH "
    + _sax_ctes()
    + " SELECT user_id, sax_word,"
    f" CAST({len(ts.SAX_BREAKS_CENTS) + 1} AS INTEGER)"
    " AS card FROM sxw"
)


def ts_sax_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-singleton iSAX leaves: users grouped by identical SAX word
    (operators/timeseries.py ts_sax_group)."""
    return ts.ts_sax_group(_events(spark, sf_dir))


SQL_TS_SAX_GROUP = (
    "WITH "
    + _sax_ctes()
    + """
SELECT sax_word, CAST(count(*) AS BIGINT) AS n_users,
       min(user_id) AS min_user
FROM sxw GROUP BY sax_word HAVING count(*) >= 2
"""
)


def _sql_rank_tail(bound: str, score: str, src: str, k: int) -> str:
    """The refine tiers' rank tail: the k shortlisted users of
    smallest `score` (from `src`), beside their `bound` from `cand`."""
    return f"""SELECT c.user_id, c.{bound}, d.{score},
  CAST(row_number() OVER (ORDER BY d.{score} ASC, d.user_id ASC)
       AS INTEGER) AS rank
FROM {src} d JOIN cand c USING (user_id)
ORDER BY d.{score} ASC, d.user_id ASC LIMIT {k}
"""


def ts_similarity_sax_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol-tier iSAX search: MINDIST prune + exact PAA re-rank
    (operators/timeseries.py ts_similarity_sax_topk)."""
    return ts.ts_similarity_sax_topk(_events(spark, sf_dir))


def _sql_ts_sax_topk() -> str:
    blist = "[" + ", ".join(
        f"CAST({int(b)} AS BIGINT)" for b in ts.SAX_BREAKS_CENTS
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
{_sql_rank_tail("mindist2", "dist2", "pd", 10)}"""
    )


SQL_TS_SAX_TOPK = _sql_ts_sax_topk()


def ts_similarity_dtw_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic tier of the series-search ladder: LB_Keogh-pruned
    banded DTW top-10 around user 0 at 16 grid cells, band radius 2,
    40-candidate shortlist (operators/timeseries.py
    ts_similarity_dtw_topk)."""
    return ts.ts_similarity_dtw_topk(_events(spark, sf_dir))


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
{_sql_rank_tail("lb2", "dtw2", "dtw", k)}"""
    )


SQL_TS_DTW_TOPK = _sql_ts_dtw_topk()


def _sql_mp_ctes(
    grid: int, m: int, tag: str, arr: str, keep: str, dist: str
) -> str:
    """The matrix-profile twins' CTEs: each user's grid cells as one
    array (`arr`), the window-start pairs that satisfy `keep`, and
    each pair's squared distance (`dist`) as an ORDER BY o sum over
    the offsets, left to right like Spark's fold."""
    s = grid - m + 1
    sq = "(cells[a + o + 1] - cells[b + o + 1])"
    return (
        _paa_ctes(grid, tag)
        + f""",
{arr} AS (SELECT user_id, array_agg(paa_value ORDER BY seg) AS cells
       FROM {tag}k GROUP BY user_id),
pr AS (SELECT user_id, cells, r1.a, r2.b
       FROM {arr}, range(0, {s}) r1(a), range(0, {s}) r2(b)
       WHERE {keep}),
dv AS (SELECT user_id, a, b,
         sum({sq} * {sq} ORDER BY o) AS {dist}
       FROM pr, range(0, {m}) r3(o)
       GROUP BY user_id, a, b)"""
    )


def ts_motif_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series motif discovery: closest non-trivial pair of 8-cell
    subsequences within each user's 32-cell grid representation
    (operators/timeseries.py ts_motif)."""
    return ts.ts_motif(_events(spark, sf_dir))


def _sql_ts_motif(grid: int = 32, m: int = 8, exclusion: int = 4) -> str:
    """DuckDB twin of ts_motif: same grid cells (_paa_ctes), candidate
    pairs from two range() laterals with the exclusion-zone filter,
    the per-pair distance as an ORDER BY o sum over the offset range
    (left-to-right — matching Spark's fold over a literal sequence
    exactly), winner per series via QUALIFY row_number."""
    return (
        "WITH "
        + _sql_mp_ctes(
            grid, m, "mp", "ma", f"r2.b - r1.a > {exclusion}", "dist2"
        )
        + """
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
    return ts.ts_discord(_events(spark, sf_dir))


def _sql_ts_discord(grid: int = 32, m: int = 8, exclusion: int = 4) -> str:
    """DuckDB twin of ts_discord: same grid cells (_paa_ctes),
    partner pairs from two range() laterals with the two-sided
    exclusion filter, per-pair distance as an ORDER BY o sum
    (matching Spark's inner offset fold exactly), nearest neighbor
    via a min aggregate (order-insensitive over bit-identical sums,
    so it matches Spark's running-min fold), discord per series via
    QUALIFY row_number on (nn_dist2 DESC, a ASC)."""
    return (
        "WITH "
        + _sql_mp_ctes(
            grid, m, "dc", "da", f"abs(r2.b - r1.a) > {exclusion}", "d2"
        )
        + """,
nn AS (SELECT user_id, a, min(d2) AS nn_dist2
       FROM dv GROUP BY user_id, a)
SELECT user_id, CAST(a AS BIGINT) AS start, nn_dist2
FROM nn
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY nn_dist2 DESC, a ASC) = 1
"""
    )


SQL_TS_DISCORD = _sql_ts_discord()


def ts_changepoint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM changepoint location
    (operators/timeseries.py ts_changepoint)."""
    return ts.ts_changepoint(_events(spark, sf_dir))


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
    return ts.ts_anomaly_zscore(_events(spark, sf_dir))


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
    return ts.ts_corr_topk(_events(spark, sf_dir))


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


def ts_seasonality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series hour-of-day seasonality strength and peak hour
    (operators/timeseries.py ts_seasonality)."""
    return ts.ts_seasonality(_events(spark, sf_dir))


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


_EWMA_ALPHA = 0.3

# The forecast twins' series: each user's values in (ts, event_id)
# order, as one list.
_SQL_VALS = """s AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id)
           AS vals
  FROM events GROUP BY user_id)"""


def ts_forecast_ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA level / one-step forecast
    (operators/timeseries.py ts_forecast_ewma)."""
    return ts.ts_forecast_ewma(_events(spark, sf_dir), alpha=_EWMA_ALPHA)


def _sql_ewma(alpha: float = _EWMA_ALPHA) -> str:
    a, b = repr(alpha), repr(1.0 - alpha)
    return f"""
WITH {_SQL_VALS}
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_points,
       list_reduce(vals, (acc, x) -> x * CAST({a} AS DOUBLE)
                                     + acc * CAST({b} AS DOUBLE))
         AS ewma_level
FROM s
"""


SQL_TS_FORECAST_EWMA = _sql_ewma()


_HOLT_A, _HOLT_B = 0.3, 0.2


def ts_forecast_holt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.ts_forecast_holt(
        _events(spark, sf_dir), alpha=_HOLT_A, beta=_HOLT_B
    )


def _sql_holt(alpha: float = _HOLT_A, beta: float = _HOLT_B) -> str:
    """Recursive-CTE twin — deliberately NOT list_reduce: DuckDB's
    list_reduce mutates a struct accumulator's fields in place, so a
    later field's expression reads the earlier field's NEW value
    (measured: trend diverges from step 3). The recursion evaluates
    both expressions against the previous row, matching Spark's
    fresh-struct-per-step fold."""
    a1, a2 = repr(float(alpha)), repr(1.0 - float(alpha))
    b1, b2 = repr(float(beta)), repr(1.0 - float(beta))
    lvl = (
        f"vals[i + 1] * CAST({a1} AS DOUBLE) "
        f"+ (l + b) * CAST({a2} AS DOUBLE)"
    )
    return f"""
WITH RECURSIVE {_SQL_VALS},
rec AS (
  SELECT user_id, vals, 1 AS i,
         CAST(vals[1] AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
  FROM s
  UNION ALL
  SELECT user_id, vals, i + 1,
         {lvl},
         ({lvl} - l) * CAST({b1} AS DOUBLE) + b * CAST({b2} AS DOUBLE)
  FROM rec WHERE i < len(vals))
SELECT user_id, CAST(len(vals) AS BIGINT) AS n_points,
       l AS level, b AS trend, l + b AS forecast_1
FROM rec WHERE i = len(vals)
"""


SQL_TS_FORECAST_HOLT = _sql_holt()


def resample_interpolate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.resample_interpolate(_events(spark, sf_dir))


SQL_RESAMPLE_INTERPOLATE = f"""
WITH {_SQL_OBS}
pu AS (
  SELECT user_id, h, us, max(value) AS v
  FROM o GROUP BY user_id, h, us),
ph AS (
  SELECT user_id, h,
         max(us) AS us_last, arg_max(v, us) AS v_last,
         min(us) AS us_first, arg_min(v, us) AS v_first
  FROM pu GROUP BY user_id, h),
{_SQL_SPINE},
j AS (
  SELECT sp.user_id, sp.h,
         ph.us_last, ph.v_last, ph.us_first, ph.v_first
  FROM sp LEFT JOIN ph ON sp.user_id = ph.user_id AND sp.h = ph.h),
w AS (
  SELECT user_id, h, h * 1000000 AS t,
    last_value(us_last IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS us_p,
    last_value(v_last IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_p,
    first_value(us_first IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS us_n,
    first_value(v_first IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_n
  FROM j)
SELECT user_id, h AS hour_start,
  CASE WHEN us_p IS NULL THEN v_n
       WHEN us_n IS NULL THEN v_p
       ELSE v_p + (v_n - v_p)
            * (CAST(t - us_p AS DOUBLE) / CAST(us_n - us_p AS DOUBLE))
  END AS value_interp
FROM w
"""


_ACF_MAX_LAG = 3


def ts_acf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.ts_acf(_events(spark, sf_dir), max_lag=_ACF_MAX_LAG)


def _sql_ts_acf(max_lag: int = _ACF_MAX_LAG) -> str:
    """DuckDB twin builds the five components relationally
    (positional unnest + SUM) — legitimate because they are EXACT
    BIGINT sums, order-independent by construction, unlike the float
    folds elsewhere in this module."""
    lags = ", ".join(str(L) for L in range(1, int(max_lag) + 1))
    return f"""
WITH s AS (
  SELECT user_id,
         list(CAST(round(value * 100) AS BIGINT)
              ORDER BY epoch_us(ts), event_id) AS l
  FROM events GROUP BY user_id),
p AS (
  SELECT user_id, lag, len(l) - lag AS m, l
  FROM s, UNNEST([{lags}]) AS t(lag)
  WHERE len(l) - lag >= 2),
u AS (
  SELECT user_id, lag, m, l[i] AS x, l[i + lag] AS y
  FROM p, UNNEST(range(1, m + 1)) AS r(i)),
a AS (
  SELECT user_id, lag, CAST(max(m) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u GROUP BY user_id, lag)
SELECT user_id, CAST(lag AS INT) AS lag, m AS n_pairs,
  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
     * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
FROM a
WHERE CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
  AND CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
"""


_HW_A, _HW_B, _HW_G, _HW_M = 0.3, 0.2, 0.3, 4


def ts_forecast_holt_winters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.ts_forecast_holt_winters(
        _events(spark, sf_dir),
        alpha=_HW_A, beta=_HW_B, gamma=_HW_G, period=_HW_M,
    )


def _sql_holt_winters(
    alpha: float = _HW_A,
    beta: float = _HW_B,
    gamma: float = _HW_G,
    m: int = _HW_M,
) -> str:
    """Recursive-CTE twin of the Holt-Winters fold — the _sql_holt
    discipline (never list_reduce; l' inlined into b' and the
    seasonal update; slice-concat array rebuild)."""
    a1, a2 = repr(float(alpha)), repr(1.0 - float(alpha))
    b1, b2 = repr(float(beta)), repr(1.0 - float(beta))
    g1, g2 = repr(float(gamma)), repr(1.0 - float(gamma))
    j = f"((i % {m}) + 1)"
    lvl = (
        f"(vals[i + 1] - sn[{j}]) * CAST({a1} AS DOUBLE) "
        f"+ (l + b) * CAST({a2} AS DOUBLE)"
    )
    zeros = ", ".join(["CAST(0.0 AS DOUBLE)"] * int(m))
    return f"""
WITH RECURSIVE {_SQL_VALS},
rec AS (
  SELECT user_id, vals, 1 AS i,
         CAST(vals[1] AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
         [{zeros}] AS sn
  FROM s
  UNION ALL
  SELECT user_id, vals, i + 1,
         {lvl},
         ({lvl} - l) * CAST({b1} AS DOUBLE)
           + b * CAST({b2} AS DOUBLE),
         list_concat(list_concat(
           list_slice(sn, 1, {j} - 1),
           [(vals[i + 1] - ({lvl})) * CAST({g1} AS DOUBLE)
            + sn[{j}] * CAST({g2} AS DOUBLE)]),
           list_slice(sn, {j} + 1, {m}))
  FROM rec WHERE i < len(vals))
SELECT user_id, CAST(len(vals) AS BIGINT) AS n_points,
       l AS level, b AS trend,
       sn[(len(vals) % {m}) + 1] AS season_next,
       l + b + sn[(len(vals) % {m}) + 1] AS forecast_1
FROM rec WHERE i = len(vals)
"""


def ts_decompose_classical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (operators/timeseries.py
    ts_decompose_classical): centered 2x4 moving-average trend,
    per-slot seasonal means, residuals — pure windows, no
    materialized arrays."""
    return ts.ts_decompose_classical(_events(spark, sf_dir))


SQL_TS_DECOMPOSE = """
WITH b AS (SELECT user_id, epoch_us(ts) AS us, event_id AS eid,
                  CAST(round(value * 100) AS BIGINT) AS vc
           FROM events),
r AS (SELECT user_id, vc,
             row_number() OVER w AS idx,
             lag(vc, 2) OVER w AS l2, lag(vc, 1) OVER w AS l1,
             lead(vc, 1) OVER w AS f1, lead(vc, 2) OVER w AS f2
      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, eid)),
t AS (SELECT user_id, idx, vc,
             CAST(l2 + 2 * l1 + 2 * vc + 2 * f1 + f2 AS BIGINT) AS nt,
             (idx - 1) % 4 AS slot
      FROM r),
d AS (SELECT user_id, idx, vc, nt, slot,
             CAST(8 * vc - nt AS BIGINT) AS dd
      FROM t WHERE nt IS NOT NULL),
s AS (SELECT user_id, slot, CAST(sum(dd) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY user_id, slot)
SELECT d.user_id, CAST(d.idx AS INTEGER) AS idx,
       CAST(d.vc AS DOUBLE) / 100.0 AS value,
       CAST(d.nt AS DOUBLE) / 800.0 AS trend,
       CAST(s.sd AS DOUBLE) / (CAST(s.n AS DOUBLE) * 800.0)
         AS seasonal,
       CAST(d.dd AS DOUBLE) / 800.0
         - CAST(s.sd AS DOUBLE) / (CAST(s.n AS DOUBLE) * 800.0)
         AS resid
FROM d JOIN s USING (user_id, slot)
"""


def ts_lead_lag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag detection over event-type daily activity
    (operators/timeseries.py ts_lead_lag): best cross-correlation
    lag in [-2, +2] days per ordered type pair, exact BIGINT Pearson
    components, ties to the smaller lag."""
    return ts.ts_lead_lag(_events(spark, sf_dir))


SQL_TS_LEAD_LAG = """
WITH daily AS (
  SELECT event_type AS t,
         epoch_us(ts) // CAST(86400000000 AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
m AS (
  SELECT a.t AS ta, b.t AS tb, l.lag,
         a.c AS x, b.c AS y
  FROM daily a
  CROSS JOIN (SELECT CAST(lag AS BIGINT) AS lag
              FROM UNNEST(range(-2, 3)) v(lag)) l
  JOIN daily b ON a.t < b.t AND b.d = a.d + l.lag),
sums AS (
  SELECT ta, tb, lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM m GROUP BY ta, tb, lag),
scored AS (
  SELECT ta, tb, lag, n,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
  FROM sums
  WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY ta, tb
                               ORDER BY corr DESC, lag ASC) AS rn
  FROM scored)
SELECT ta AS type_a, tb AS type_b, lag AS best_lag, n AS n_days, corr
FROM rk WHERE rn = 1
"""


def events_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase conversion funnel with real event
    sequencing (operators/timeseries.py funnel)."""
    return ts.funnel(_events(spark, sf_dir))


SQL_EVENTS_FUNNEL = """
WITH b AS (SELECT user_id, event_type AS et, epoch_us(ts) AS us
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
w0 AS (SELECT *, min(CASE WHEN et = 'view' THEN us END)
         OVER (PARTITION BY user_id) AS t0 FROM b),
w1 AS (SELECT *, min(CASE WHEN et = 'click' AND us >= t0 THEN us END)
         OVER (PARTITION BY user_id) AS t1 FROM w0),
w2 AS (SELECT *, min(CASE WHEN et = 'purchase' AND us >= t1 THEN us END)
         OVER (PARTITION BY user_id) AS t2 FROM w1),
pu AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
       FROM w2 GROUP BY user_id),
a AS (SELECT CAST(count(t0) AS BIGINT) AS n0, CAST(count(t1) AS BIGINT) AS n1,
             CAST(count(t2) AS BIGINT) AS n2 FROM pu)
SELECT 'view' AS stage, n0 AS n_users,
  CASE WHEN n0 > 0 THEN CAST(1.0 AS DOUBLE) END AS share FROM a
UNION ALL SELECT 'click', n1,
  CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END FROM a
UNION ALL SELECT 'purchase', n2,
  CASE WHEN n0 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) END FROM a
"""


TIMESERIES_QUERIES = {
    "resample_ffill": (resample_ffill_q, SQL_RESAMPLE_FFILL),
    "resample_interpolate": (
        resample_interpolate_q,
        SQL_RESAMPLE_INTERPOLATE,
    ),
    "events_funnel": (events_funnel_q, SQL_EVENTS_FUNNEL),
    "ts_paa": (ts_paa_q, SQL_TS_PAA),
    "ts_similarity_topk": (ts_similarity_topk_q, SQL_TS_SIMILARITY),
    "ts_similarity_refined": (
        ts_similarity_refined_q,
        SQL_TS_SIMILARITY_REFINED,
    ),
    "ts_sax": (ts_sax_q, SQL_TS_SAX),
    "ts_sax_group": (ts_sax_group_q, SQL_TS_SAX_GROUP),
    "ts_similarity_sax_topk": (ts_similarity_sax_topk_q, SQL_TS_SAX_TOPK),
    "ts_similarity_dtw_topk": (ts_similarity_dtw_topk_q, SQL_TS_DTW_TOPK),
    "ts_motif": (ts_motif_q, SQL_TS_MOTIF),
    "ts_discord": (ts_discord_q, SQL_TS_DISCORD),
    "ts_changepoint": (ts_changepoint_q, SQL_TS_CHANGEPOINT),
    "ts_anomaly_zscore": (ts_anomaly_zscore_q, SQL_TS_ANOMALY_ZSCORE),
    "ts_seasonality": (ts_seasonality_q, SQL_TS_SEASONALITY),
    "ts_corr_topk": (ts_corr_topk_q, SQL_TS_CORR_TOPK),
    "ts_acf": (ts_acf_q, _sql_ts_acf()),
    "ts_decompose_classical": (ts_decompose_classical_q, SQL_TS_DECOMPOSE),
    "ts_lead_lag": (ts_lead_lag_q, SQL_TS_LEAD_LAG),
    "ts_forecast_ewma": (ts_forecast_ewma_q, SQL_TS_FORECAST_EWMA),
    "ts_forecast_holt": (ts_forecast_holt_q, SQL_TS_FORECAST_HOLT),
    "ts_forecast_holt_winters": (
        ts_forecast_holt_winters_q,
        _sql_holt_winters(),
    ),
}
