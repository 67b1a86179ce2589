"""Event-time window and as-of/range join builders + oracle SQL, and the
oracle SQL of their streaming twins.

Split from registry_extensions.py (round 12) — pure mechanical move;
registration order is unchanged (registry_extensions.py registers).
"""

from __future__ import annotations

from .ext_common import (
    CHI2_CTES,
    DataFrame,
    F,
    SparkSession,
    _events,
    asof_from_tagged,
    asof_join,
    with_text_ctes,
)

# =========================================================================
# Event-time windows (batch) + streaming twin + as-of join
# =========================================================================

def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "600 seconds"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )


SQL_WINDOW_TUMBLING = """
SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start, event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
"""


def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "600 seconds", "300 seconds"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )


SQL_WINDOW_SLIDING = """
WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS s0 FROM events),
w AS (SELECT event_type, cents, s0 AS win_start FROM b
      UNION ALL
      SELECT event_type, cents, s0 - 300 FROM b)
SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM w GROUP BY 1, 2
"""


def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "300 seconds"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("sess_start"),
            "n_events",
        )
    )


SQL_WINDOW_SESSION = """
WITH l AS (
  SELECT user_id, ts,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 300000000
    THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (SELECT user_id, ts,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM l)
SELECT user_id, CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS sess_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment with a multi-column payload: each
    purchase pulls the latest preceding click's timestamp AND event id.

    Both join sides live in the SAME events table, so the rows are
    tagged in one projection over ONE scan (asof_from_tagged) — no
    second scan, no union. Duplicate point-in-time keys are resolved
    to max event_id via dedupe_right_ties (the payload struct is
    (click_us, click_event); click_us is constant within a tie, so
    greatest-struct = max event_id), riding the sort the union-merge
    already pays for instead of a groupBy pre-dedup — net plan: one
    scan, one shuffle."""
    is_click = F.col("event_type") == "click"
    merged = (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("_side"),
            F.when(
                is_click,
                F.struct(
                    F.unix_micros("ts").alias("click_us"),
                    F.col("event_id").alias("click_event"),
                ),
            ).alias("_rp"),
        )
    )
    return asof_from_tagged(
        merged,
        "user_id",
        "ts",
        ["click_us", "click_event"],
        ["event_id", "user_id"],
        dedupe_right_ties=True,
    )


SQL_ASOF = """
SELECT p.event_id, p.user_id, epoch_us(c.ts) AS asof_click_us,
       c.click_event AS asof_click_event
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS click_event
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts) c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


ASOF_TOLERANCE_US = 30 * 60 * 1_000_000  # 30 min, pandas merge_asof-style


def asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas merge_asof
    `tolerance`): matches older than 30 minutes are nulled out.
    Composes as a pure post-projection on the tolerance predicate —
    the matched right-side timestamp is already in the carried payload
    struct, so no second window or join is needed; both payload
    columns null together, preserving same-matched-row consistency."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("click_us"),
        F.col("event_id").alias("click_event"),
    )
    j = asof_join(
        purchases,
        clicks,
        "user_id",
        "ts",
        ["click_us", "click_event"],
        dedupe_right_ties=True,
    )
    ok = (
        F.unix_micros("ts") - F.col("asof_click_us")
    ) <= F.lit(ASOF_TOLERANCE_US)
    return j.select(
        "event_id",
        "user_id",
        F.when(ok, F.col("asof_click_us")).alias("asof_click_us"),
        F.when(ok, F.col("asof_click_event")).alias("asof_click_event"),
    )


SQL_ASOF_TOLERANCE = f"""
SELECT p.event_id, p.user_id,
  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= {ASOF_TOLERANCE_US}
       THEN epoch_us(c.ts) END AS asof_click_us,
  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= {ASOF_TOLERANCE_US}
       THEN c.click_event END AS asof_click_event
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS click_event
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts) c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


def asof_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time attribution: each purchase pulls its CLOSEST
    click in either direction (ties -> the earlier one), vs asof_join's
    backward-only match. Both sides live in the events table, so rows
    are tagged in one projection over ONE scan
    (operators/asof.py asof_nearest_from_tagged)."""
    from ..operators.asof import asof_nearest_from_tagged

    is_click = F.col("event_type") == "click"
    merged = (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("_side"),
            F.when(
                is_click,
                F.struct(
                    F.unix_micros("ts").cast("long").alias("__rts"),
                    F.col("event_id").alias("click_event"),
                ),
            ).alias("_rp"),
        )
    )
    return asof_nearest_from_tagged(
        merged, "user_id", "us", ["click_event"],
        ["event_id", "user_id", "us"],
    )


SQL_ASOF_NEAREST = """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_us(ts) AS us, max(event_id) AS click_event
      FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)),
b AS (SELECT p.event_id, c.us AS bus, c.click_event AS bev
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.us <= p.us),
f AS (SELECT p.event_id, c.us AS fus, c.click_event AS fev
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.us >= p.us)
SELECT p.event_id, p.user_id, p.us,
  CASE WHEN fus IS NULL OR (bus IS NOT NULL AND (p.us - bus) <= (fus - p.us))
       THEN bus ELSE fus END AS nearest_ts,
  CASE WHEN fus IS NULL OR (bus IS NOT NULL AND (p.us - bus) <= (fus - p.us))
       THEN bev ELSE fev END AS nearest_click_event
FROM p JOIN b USING (event_id) JOIN f USING (event_id)
"""


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as an equi-join: clicks landing in the 10-minute
    window before each purchase, counted per purchase. The bucketed
    rewrite (operators/rangejoin.py) keeps the plan a shuffled
    equi-join — a naive BETWEEN join would be a nested-loop product."""
    from ..operators.rangejoin import interval_point_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("end_us")
    )
    intervals = purchases.withColumn(
        "start_us", F.col("end_us") - F.lit(600_000_000)
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    matched = interval_point_join(
        intervals, clicks, "user_id", "start_us", "end_us", "c_us",
        bucket_width_us=600_000_000,
    )
    counts = matched.groupBy("event_id").agg(
        F.count("*").alias("n_clicks_10m")
    )
    return (
        purchases.select("event_id", "user_id")
        .join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_clicks_10m"), F.lit(0).cast("long")).alias(
                "n_clicks_10m"
            ),
        )
    )


SQL_JOIN_RANGE = """
SELECT p.event_id, p.user_id, CAST(count(c.c_us) AS BIGINT) AS n_clicks_10m
FROM (SELECT event_id, user_id, epoch_us(ts) AS end_us FROM events
      WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, epoch_us(ts) AS c_us FROM events
           WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.c_us >= p.end_us - 600000000
 AND c.c_us <= p.end_us
GROUP BY p.event_id, p.user_id
"""


SQL_STREAM_DEDUP = "SELECT DISTINCT user_id, event_type FROM events"


SQL_STREAM_CHI = with_text_ctes(CHI2_CTES) + (
    " SELECT category, term, chi2 FROM chi"
)
