"""Time-series family over the events log: per-user value series.

Operators: resampling onto an hourly grid (resample_ffill,
resample_interpolate), the conversion funnel, the data-series search
ladder (PAA sketch -> SAX symbols -> grid refine -> banded DTW, each
tier a shortlist-then-refine search), the matrix profile (ts_motif,
ts_discord), diagnostics (changepoint, z-score anomalies,
seasonality, autocorrelation, classical decomposition, lead-lag,
pairwise correlation) and the forecast folds (EWMA, Holt,
Holt-Winters).

The family's contract, shared by every operator and its DuckDB twin:
- values enter as exact integer cents (`round(value * 100)` as
  BIGINT, one `_cents` expression); sums and every decision made on
  them (segment means, SAX symbols, argmaxes, flags) are exact
  integers, and each reported double is one final division;
- a series is ordered by (ts, event_id), with the event id breaking
  same-timestamp ties, so positions are the same on both engines;
- a float reduction folds in segment (or hour, or offset) order,
  never in the engine's aggregation order, so doubles are
  bit-identical across engines;
- a search tier raises ValueError when the query series lacks the
  resolution it needs (`_guard_query_points`), rather than returning
  an empty result.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import literal_relation

HOUR = 3600


def _cents(value_col: str) -> Column:
    """The value as exact integer cents."""
    return F.round(F.col(value_col) * 100).cast("long")


def _winner(df: DataFrame, w) -> DataFrame:
    """The first row of each partition of window `w`."""
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )


def _hourly(
    events: DataFrame, step: int, max_user: int | None
) -> tuple[DataFrame, DataFrame]:
    """The resamplers' observation relation (user_id, us, value, h)
    and their grid spine (user_id, h): each user's hours from its
    first to its last observation. `max_user` bounds the checked
    slice at test scale; None resamples everyone.

    Integer division end to end (`div`, not a float divide+cast):
    epoch-µs values sit at ~1.7e15 where double rounding could move
    a boundary, and the oracle's `//` is integer division too. The
    spine explode is per-user bounded (sequence() of that user's own
    range, never a cross join of users x grid)."""
    ev = events
    if max_user is not None:
        ev = ev.filter(F.col("user_id") < max_user)
    obs = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "value",
    ).withColumn(
        "h", F.expr(f"(us div 1000000 div {step}) * {step}")
    )
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.lit(step).cast("long"))
            ).alias("h"),
        )
    )
    return obs, spine


def resample_ffill(
    events: DataFrame, step: int = HOUR, max_user: int | None = 40
) -> DataFrame:
    """(user_id, hour_start, n_events, value_ffill): hourly grid per
    user spanning that user's [first, last] event hour; n_events
    counts the hour's events and value_ffill carries the latest
    observed `value` forward (ties within an hour broken by event
    time in µs, then by max value among same-µs events, so the fill
    is deterministic).

    Scale: the spine is `_hourly`'s, the per-hour reductions are
    hash aggregates, and the fill is one window per user ordered by
    hour. State per user = one row."""
    obs, spine = _hourly(events, step, max_user)

    # Last-in-hour value with every aggregate hash-based: max(struct)
    # or max_by over a struct ordering falls back to SortAggregate
    # (non-fixed-width buffer), which sorts the whole event relation
    # map-side. Instead (1) collapse same-µs ties with max(value) —
    # commutative, deterministic — making `us` unique per (user, h),
    # then (2) max_by(value, us), which with a LONG ordering stays in
    # HashAggregate. Both steps are map-side combinable.
    per_us = obs.groupBy("user_id", "h", "us").agg(
        F.count("*").alias("c"), F.max("value").alias("v")
    )
    per_hour = per_us.groupBy("user_id", "h").agg(
        F.sum("c").alias("n_events"),
        F.max_by("v", "us").alias("last_value"),
    )
    w = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(per_hour, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour_start"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.last(F.col("last_value"), ignorenulls=True)
            .over(w)
            .alias("value_ffill"),
        )
    )


def funnel(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Ordered conversion funnel: per key, the first stage-1 event,
    the first stage-2 event AT OR AFTER it, and the first stage-3
    event at or after that — the sequencing that distinguishes a real
    funnel from three independent counts (a click BEFORE any view
    must not convert). Returns (stage, n_users, share) with share
    relative to stage-1 entries.

    One exchange total: the three stage times are unordered
    aggregate-windows over the SAME key partitioning (each reads the
    previous column, so sequencing needs no sort and no extra
    shuffle), the per-key collapse reuses that partitioning, and the
    final roll-up is a 1-row aggregate exploded to 3 rows. All
    comparisons are exact integer microseconds."""
    s0, s1, s2 = stages
    base = events.filter(F.col("event_type").isin(*stages)).select(
        key,
        F.col("event_type").alias("et"),
        F.unix_micros(F.col(ts)).alias("us"),
    )
    w = Window.partitionBy(key)
    et, us = F.col("et"), F.col("us")
    staged = (
        base.withColumn("t0", F.min(F.when(et == s0, us)).over(w))
        .withColumn(
            "t1",
            F.min(F.when((et == s1) & (us >= F.col("t0")), us)).over(w),
        )
        .withColumn(
            "t2",
            F.min(F.when((et == s2) & (us >= F.col("t1")), us)).over(w),
        )
    )
    per_key = staged.groupBy(key).agg(
        F.max("t0").alias("t0"),
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
    )
    a = per_key.agg(
        F.count("t0").alias("n0"),
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
    )
    n0 = F.col("n0").cast("double")
    # NULL shares on an empty funnel (n0 = 0): Spark's x/0 is NULL but
    # DuckDB's IEEE division is NaN/inf, so the guard pins the
    # degenerate case to NULL in BOTH engines.
    some = F.col("n0") > 0
    rows = F.array(
        F.struct(
            F.lit(s0).alias("stage"),
            F.col("n0").alias("n_users"),
            F.when(some, F.lit(1.0)).alias("share"),
        ),
        F.struct(
            F.lit(s1).alias("stage"),
            F.col("n1").alias("n_users"),
            F.when(some, F.col("n1").cast("double") / n0).alias("share"),
        ),
        F.struct(
            F.lit(s2).alias("stage"),
            F.col("n2").alias("n_users"),
            F.when(some, F.col("n2").cast("double") / n0).alias("share"),
        ),
    )
    return a.select(F.explode(rows).alias("r")).select(
        "r.stage", "r.n_users", "r.share"
    )


def ts_paa(
    events: DataFrame, segments: int = 8, value_col: str = "value"
) -> DataFrame:
    """Piecewise Aggregate Approximation sketches per entity: each
    user's time-ordered value series splits into `segments` equal-ish
    chunks whose means form a fixed-length sketch — the data-series
    indexing primitive of the iSAX family (PAA distance lower-bounds
    Euclidean distance on the raw series, so sketch-level pruning
    never produces false dismissals; see the Odyssey/data-series
    similarity literature in PAPERS.md). Returns (user_id, seg,
    paa_value, n_points) for users with >= `segments` points (shorter
    series have no well-defined `segments`-chunk sketch and are
    excluded in BOTH engines).

    Scale shape: one user-keyed exchange serves the ordering window
    AND the (user, seg) mean aggregate (same partitioning); segment
    assignment is exact integer arithmetic (floor(pos*segments/n)) on
    the (ts, event_id)-ordered rank, so chunk boundaries are
    deterministic cross-engine, and so is the segment MEAN: values
    sum as exact integer cents before ONE final division, so the
    sketch is bit-identical on both engines (a float sum's
    engine-chosen addition order is not). The sketch relation is
    users x segments rows — vanishing next to the event log it
    summarizes, which is what makes series similarity affordable at
    100 TB: downstream search touches sketches, not raw series."""
    return _paa_segments(events, segments, value_col).select(
        "user_id", "seg", _paa_value(), "n_points"
    )


def _paa_value() -> Column:
    """A segment's mean: its exact-cent sum divided once."""
    return (
        F.col("__sc").cast("double")
        / (F.lit(100.0) * F.col("n_points").cast("double"))
    ).alias("paa_value")


def _paa_segments(
    events: DataFrame, segments: int, value_col: str
) -> DataFrame:
    """The ONE place the PAA segmentation lives (ts_paa divides these
    sums into means; ts_sax compares them against breakpoints in
    exact integers): (user_id, seg, __sc exact-cent segment sum,
    n_points) for users with >= `segments` points. Segment
    assignment is true integer floor division (`div`, matching the
    oracle's `//` exactly — a DOUBLE divide + cast agrees only while
    pos*segments is well inside 2^53) on the (ts, event_id)-ordered
    rank; one user-keyed exchange serves the ordering window AND the
    (user, seg) aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    pos = (F.row_number().over(w) - 1).cast("long")
    base = (
        events.select("user_id", "ts", "event_id", value_col)
        .withColumn("__pos", pos)
        .withColumn("__n", F.count("*").over(wn))
        .filter(F.col("__n") >= segments)
        .withColumn("seg", F.expr(f"(__pos * {int(segments)}) div __n"))
    )
    return base.groupBy("user_id", "seg").agg(
        F.sum(_cents(value_col)).alias("__sc"),
        F.count("*").cast("long").alias("n_points"),
    )


def ts_similarity_topk(
    events: DataFrame,
    query_user: int = 0,
    k: int = 10,
    segments: int = 8,
    value_col: str = "value",
) -> DataFrame:
    """Top-k most similar entity series to `query_user` by squared
    PAA distance: (user_id, dist2, rank). The sketch-level search of
    a data-series index — at scale the raw-series refinement step
    would re-rank this shortlist exactly, touching only k series
    (the lower-bounding property guarantees the true nearest is in
    any shortlist its PAA distance admits).

    Scale shape: the query sketch is `segments` rows broadcast
    against the sketch relation (itself users x segments); the
    per-user distance is one aggregate on the sketch relation's
    existing user partitioning, and the top-k cut is
    TakeOrderedAndProject with a user_id tie-break. The distance
    folds its `segments` squared diffs IN SEG ORDER (in-agg sort +
    left-to-right fold; the oracle uses an ORDER BY aggregate) over
    the bit-identical sketch values, so dist2 — the ranking key — is
    bit-stable cross-engine and the top-k boundary can never flake
    on engine-chosen addition order."""
    sk = ts_paa(events, segments, value_col)
    per_user = _sketch_dist2(sk, query_user)
    return _top_ranked(per_user, "dist2", k, "user_id", "dist2")


def _top_ranked(df: DataFrame, score: str, k: int, *cols: str) -> DataFrame:
    """The ladder's rank tail: the k rows of smallest `score`
    (user_id tie-break), projected to `cols` plus a 1-based `rank`.
    The unpartitioned rank window is bounded: it runs after the
    TakeOrdered `limit(k)`, so a single task ranks k rows."""
    w = Window.orderBy(F.asc(score), F.asc("user_id"))
    return (
        df.orderBy(F.asc(score), F.asc("user_id"))
        .limit(k)
        .select(*cols, F.row_number().over(w).cast("int").alias("rank"))
    )


def _shortlist(
    bounds: DataFrame, bound: str, n: int, cand_col: str, *extra: int
) -> tuple[DataFrame, DataFrame]:
    """The ladder's shortlist step: collect the <= `n` users of
    smallest `bound` (user_id tie-break) once and re-broadcast them as
    literal relations, so the coarse tier's lineage is not re-run per
    downstream reference. Returns (cand: user_id + the bound as
    `cand_col` ("name type"), members: the shortlisted user_ids plus
    `extra`). Freeze-at-build semantics: the shortlist is fixed when
    the plan is built; doubles survive the round trip exactly."""
    rows = (
        bounds.orderBy(F.asc(bound), F.asc("user_id")).limit(n).collect()
    )
    spark = bounds.sparkSession
    cand = literal_relation(
        spark,
        [(r.user_id, r[bound]) for r in rows],
        f"user_id long, {cand_col}",
    )
    members = literal_relation(
        spark,
        [(r.user_id,) for r in rows] + [(u,) for u in extra],
        "user_id long",
    )
    return cand, members


def _sketch_dist2(sk: DataFrame, query_user: int) -> DataFrame:
    """Per-user squared Euclidean distance between each user's sketch
    and `query_user`'s, over a (user_id, seg, paa_value) relation:
    broadcast the query's rows, join on seg, fold the squared diffs
    IN SEG ORDER (in-agg sort + left-to-right fold) so the float sum
    is bit-stable cross-engine. Returns (user_id, dist2), query user
    excluded. Sketches of different lengths never meet: seg ranges
    are equal by construction for every user in `sk`."""
    q = sk.filter(F.col("user_id") == query_user).select(
        "seg", F.col("paa_value").alias("q_value")
    )
    d = F.col("paa_value") - F.col("q_value")
    joined = (
        sk.filter(F.col("user_id") != query_user)
        .join(F.broadcast(q), "seg")
        .select("user_id", "seg", (d * d).alias("d2"))
    )
    return _ordered_sum(joined, "user_id", F.col("d2")).select(
        "user_id", F.col("__sum").alias("dist2")
    )


def _guard_query_points(
    sk: DataFrame, query_user: int, needed: int, what: str, remedy: str
) -> None:
    """The search ladder's ONE degenerate-query contract (shared by
    the SAX, refined and DTW tiers): raise ValueError — instead of
    silently returning an empty result — when the query series lacks
    the resolution the tier needs. The point count comes off the
    already-materialized sketch relation (PAA segments partition the
    series, so sum(n_points) is the series length), never a dedicated
    event-log scan; a query below the SKETCH's own resolution has no
    sketch rows at all, so a 0 count means "fewer points than the
    sketch resolution, or no events" — the message says so rather
    than claiming the user has literally zero events."""
    n_q = int(
        sk.filter(F.col("user_id") == query_user)
        .agg(F.coalesce(F.sum("n_points"), F.lit(0)).alias("n"))
        .collect()[0]["n"]
    )
    if n_q < needed:
        detail = (
            f"has only {n_q} points"
            if n_q
            else "has no sketch rows (fewer points than the sketch "
            "resolution, or no events at all)"
        )
        raise ValueError(
            f"query user {query_user} {detail}, below {what}={needed}; "
            f"{remedy} would silently return nothing — lower `{what}`"
        )


SAX_BREAKS_CENTS = (2000, 5000, 8000)


def ts_sax(
    events: DataFrame,
    segments: int = 8,
    breaks_cents: tuple = SAX_BREAKS_CENTS,
    value_col: str = "value",
) -> DataFrame:
    """SAX symbolization of the PAA sketch (Lin/Keogh et al.'s
    Symbolic Aggregate approXimation — the symbol tier of an iSAX
    index): each segment mean quantizes to the number of breakpoints
    at or below it, and the per-user symbols concatenate IN SEG ORDER
    into a fixed-length word over a card = len(breaks)+1 alphabet.
    Returns (user_id, sax_word, card). Two series whose words share a
    prefix fall in the same iSAX subtree; equal words land in the
    same index leaf — the grouping ts_sax_group exploits.

    Determinism: the symbol comparison never touches floats — a
    segment mean sc/(100*n) cents crosses breakpoint b exactly when
    sc >= b*n with sc, b, n all integers (cross-multiplied cents, the
    q22 scalar pattern), so the word is exact on both engines.
    Classic SAX z-normalizes first and uses N(0,1) breakpoints; the
    value-domain breakpoints here are the calibration knob for the
    synthetic corpus' [0,100] uniform values (a production fit takes
    the same table after its normalization pass).

    Scale shape: ts_paa's one user-keyed exchange + a user-keyed
    aggregate on the SAME partitioning (no new shuffle); the word
    relation is one short string per user — the in-memory index
    footprint of a 100 TB series corpus, which is the entire point of
    iSAX."""
    if len(breaks_cents) > 9:
        # one digit per symbol: above cardinality 10 the
        # separator-free word would read '1','0' as '10', silently
        # merging distinct iSAX leaves downstream
        raise ValueError("ts_sax supports at most 9 breakpoints")
    return (
        _sax_symbols(events, segments, breaks_cents, value_col)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("seg"), F.col("__sym"))
                        )
                    ),
                    lambda s: s["__sym"].cast("string"),
                ),
            ).alias("sax_word")
        )
        .select(
            "user_id",
            "sax_word",
            F.lit(len(breaks_cents) + 1).cast("int").alias("card"),
        )
    )


def _sax_symbols(
    events: DataFrame,
    segments: int,
    breaks_cents: tuple,
    value_col: str,
) -> DataFrame:
    """(user_id, seg, __sym) — the per-segment SAX symbol relation
    shared by the word builder (ts_sax) and the symbol-tier search
    (ts_similarity_sax_topk); rides _paa_segments' one user-keyed
    exchange."""
    return _sym_from_segments(
        _paa_segments(events, segments, value_col), breaks_cents
    )


def _sym_from_segments(seg: DataFrame, breaks_cents: tuple) -> DataFrame:
    """Symbolize an existing _paa_segments relation. The comparison
    never touches floats: a segment mean sc/(100*n) crosses
    breakpoint b exactly when sc >= b*n with everything integer
    (cross-multiplied cents)."""
    sym = F.lit(0)
    for b in breaks_cents:
        # mean >= b cents  <=>  sc >= b * n_points  (exact integers)
        sym = sym + F.when(
            F.col("__sc") >= F.lit(int(b)) * F.col("n_points"), 1
        ).otherwise(0)
    return seg.withColumn("__sym", sym)


def ts_sax_group(
    events: DataFrame,
    segments: int = 8,
    breaks_cents: tuple = SAX_BREAKS_CENTS,
    value_col: str = "value",
) -> DataFrame:
    """iSAX leaf occupancy: group entities by identical SAX word —
    the index's coarsest series-family clustering (same leaf = same
    quantized shape; candidates for series dedup / cohort analysis).
    Returns (sax_word, n_users, min_user) for words shared by >= 2
    users, the non-singleton leaves.

    Scale shape: one aggregate over the users-row word relation —
    work after ts_sax is proportional to the number of ENTITIES, not
    events; the hot-leaf histogram this emits is exactly the split
    diagnostic an iSAX builder uses to decide which subtree to
    refine."""
    words = ts_sax(events, segments, breaks_cents, value_col)
    return (
        words.groupBy("sax_word")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.min("user_id").alias("min_user"),
        )
        .filter(F.col("n_users") >= 2)
    )


def ts_similarity_sax_topk(
    events: DataFrame,
    query_user: int = 0,
    k: int = 10,
    segments: int = 8,
    shortlist: int = 40,
    breaks_cents: tuple = SAX_BREAKS_CENTS,
    value_col: str = "value",
) -> DataFrame:
    """The SYMBOL tier of the iSAX search ladder (symbols -> PAA ->
    raw; the two finer tiers are ts_similarity_topk and
    ts_similarity_refined): prune by SAX MINDIST — per segment, two
    symbols differing by >= 2 are provably separated by the gap
    between their nearest breakpoints, so mindist2 = sum of squared
    gaps (EXACT integer cents^2) lower-bounds the squared PAA
    distance x 10^4 — then re-rank the shortlist exactly at PAA
    resolution. Returns (user_id, mindist2, dist2, rank) ranked by
    the exact PAA distance. Raises ValueError when the query user has
    fewer than `segments` points (no symbol word exists) — the same
    degenerate-query contract as ts_similarity_refined.

    The honest iSAX caveat, same as a real index: the result is
    EXACT over the shortlist, and globally exact when `shortlist`
    covers the corpus (pinned by test) — but a fixed-size cut on a
    LOWER BOUND can drop a true neighbour whenever `shortlist` other
    series carry smaller mindist2 values (the degenerate case being
    the all-zeros bucket of series whose symbols all sit within +-1
    of the query's). A production index answers with higher
    cardinality, a bigger leaf budget, or the refined tier's
    certificate (compare the k-th re-ranked distance against the
    best EXCLUDED mindist2 — ts_similarity_refined's pattern);
    certifying here would mean re-ranking grows until the bound
    clears, which is a search-loop policy, not a plan shape.

    Scale shape: the segment relation materializes ONCE
    (localCheckpoint — the dedup_semantic lesson: the symbol join
    reads it twice and the re-rank a third time, and each
    un-checkpointed reference re-plans the full event scan + window);
    symbols and sketches are both derived from it map-side. The
    query's `segments` symbol rows broadcast and the per-user MINDIST
    is an integer aggregate on the existing partitioning; the
    shortlist cut is TakeOrderedAndProject and the PAA re-rank
    touches shortlist-many sketches via broadcast joins — symbols
    are ~2 orders smaller than sketches, which is why the symbol
    tier exists: at 100 TB it is the only relation small enough to
    pin in memory index-wide. Freeze-at-build semantics: segments
    materialize and the shortlist is collected when this function
    runs."""
    segs = _paa_segments(events, segments, value_col).localCheckpoint()
    _guard_query_points(
        segs, query_user, segments, "segments", "the symbol tier"
    )
    syms = _sym_from_segments(segs, breaks_cents)
    q = syms.filter(F.col("user_id") == query_user).select(
        "seg", F.col("__sym").alias("q_sym")
    )
    barr = F.array(*[F.lit(int(b)).cast("long") for b in breaks_cents])
    lo = F.least(F.col("__sym"), F.col("q_sym"))
    hi = F.greatest(F.col("__sym"), F.col("q_sym"))
    # symbols >= 2 apart: the value gap is at least
    # breaks[hi] - breaks[lo + 1] (1-based list indexing)
    cell = F.when(hi - lo <= 1, F.lit(0).cast("long")).otherwise(
        F.element_at(barr, hi.cast("int"))
        - F.element_at(barr, (lo + 1).cast("int"))
    )
    mind = (
        syms.filter(F.col("user_id") != query_user)
        .join(F.broadcast(q), "seg")
        .groupBy("user_id")
        .agg(F.sum(cell * cell).alias("mindist2"))
    )
    cand, members = _shortlist(
        mind, "mindist2", shortlist, "mindist2 long", query_user
    )
    # sketch derived from the SAME checkpointed segment relation the
    # symbol tier used — no second event scan
    sk = segs.select("user_id", "seg", _paa_value()).join(
        F.broadcast(members), "user_id"
    )
    ranked = _sketch_dist2(sk, query_user).join(F.broadcast(cand), "user_id")
    return _top_ranked(ranked, "dist2", k, "user_id", "mindist2", "dist2")


def ts_similarity_refined(
    events: DataFrame,
    query_user: int = 0,
    k: int = 10,
    segments: int = 8,
    shortlist: int = 40,
    grid: int = 32,
    value_col: str = "value",
) -> DataFrame:
    """The data-series index's REFINE step (the simsearch_pq_refined
    analogue): the coarse `segments`-cell PAA prunes the corpus to a
    `shortlist`, then ONLY those candidates are re-scored at full
    `grid`-cell resolution and re-ranked exactly. Returns (user_id,
    paa_dist2, dist2, rank) — coarse bound and refined distance side
    by side, ranked by the refined distance (user_id tie-break).

    Variable-length series are compared on the standard
    length-normalized representation (UCR-style): each series
    resampled to `grid` equal-occupancy cells via the same exact
    integer-floor assignment and exact-cents means as ts_paa — at
    grid = series length this IS the raw series, and the coarse
    sketch is the PAA of it. PAA lower-bounds Euclidean on that
    representation, so the refined top-k over the shortlist is
    provably exact whenever the k-th refined distance <=
    (grid/segments) * the best coarse distance among non-shortlisted
    users — asserted as a property test (tests/test_extensions.py::
    test_ts_similarity_refined_reorders_and_is_provably_exact).
    Candidates with fewer than `grid` points have no grid-resolution
    form and drop from the refined ranking (inner join, both
    engines).

    Scale shape: the corpus-sized work is the two sketch relations
    (users x segments and users x grid rows — both vanishing next to
    the event log, built off ONE user-keyed exchange each); the
    coarse and fine sketches each materialize ONCE (localCheckpoint,
    the ts_similarity_sax_topk pattern): coarse serves the
    degenerate-query guard, the shortlist cut, and its own distance
    fold; fine (after the members cut a shortlist x grid relation)
    serves both _sketch_dist2 sides. The event log is therefore
    scanned exactly twice per call: each un-checkpointed reference
    would re-plan the full event scan and ordering window. The
    shortlist cut is TakeOrderedAndProject on the bit-stable coarse
    distance, collected ONCE (<= `shortlist` rows — a bounded,
    driver-safe collect) and re-broadcast as a literal relation; the
    refine tier then touches shortlist x grid rows via broadcast
    joins — the event log itself never re-shuffles. At 100 TB the
    expensive exact scorer runs on a fixed, tiny candidate relation
    exactly like the PQ refine path. Freeze-at-build semantics
    (select_token_budget pattern): the shortlist is fixed when this
    function runs."""
    coarse = ts_paa(events, segments, value_col).localCheckpoint()
    # The query series must exist at GRID resolution too: ts_paa's
    # n >= grid cut would otherwise drop it silently and the refined
    # relation would come back empty with no signal (shortlisted
    # CANDIDATES with 8..grid-1 points dropping is the documented
    # inner-join semantic; the QUERY degrading is an error).
    _guard_query_points(coarse, query_user, grid, "grid", "refinement")
    cand, members = _shortlist(
        _sketch_dist2(coarse, query_user),
        "dist2",
        shortlist,
        "paa_dist2 double",
        query_user,
    )
    # The fine sketch is ALSO referenced twice downstream
    # (_sketch_dist2 reads a query side and a candidate side); after
    # the members cut it is a shortlist x grid relation, so it
    # materializes once.
    fine = (
        ts_paa(events, grid, value_col)
        .join(F.broadcast(members), "user_id")
        .localCheckpoint()
    )
    refined = _sketch_dist2(fine, query_user).join(
        F.broadcast(cand), "user_id"
    )
    return _top_ranked(
        refined, "dist2", k, "user_id", "paa_dist2", "dist2"
    )


def _ordered_sum(df: DataFrame, key: str, val_col: Column) -> DataFrame:
    """Per-`key` sum of `val_col` folded IN SEG ORDER (in-agg sort +
    left-to-right fold — the _sketch_dist2 discipline): the float sum
    is bit-stable cross-engine where a plain sum() would add in
    engine-chosen order. Input must carry a `seg` column."""
    return df.groupBy(key).agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seg"), val_col.alias("v")))
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum")
    )


def _dtw_band_arrow(q: list, band: int):
    """Arrow-batched banded DTW (Sakoe-Chiba radius `band`) against
    the closure query vector: classic O(G*band) two-row DP in plain
    Python floats (IEEE doubles), each cell
    dp[i][j] = (c[i]-q[j])^2 + min(dp[i-1][j], dp[i][j-1],
    dp[i-1][j-1]) evaluated in the SAME fixed order as the oracle's
    recursive-CTE fold — no engine-chosen reduction order anywhere,
    so dtw2 is bit-identical cross-engine. Batches come through
    Arrow; the per-row loop is G*(2*band+1) flops over a
    shortlist-sized relation, never the corpus."""
    from pyspark.sql.functions import pandas_udf

    g = len(q)
    inf = float("inf")

    @pandas_udf("double")
    def dtw2(arrs: pd.Series) -> pd.Series:
        out = []
        for arr in arrs:
            c = [float(x) for x in arr]
            prev = [0.0] + [inf] * g
            for i in range(1, g + 1):
                cur = [inf] * (g + 1)
                lo = max(1, i - band)
                hi = min(g, i + band)
                for j in range(lo, hi + 1):
                    d = c[i - 1] - q[j - 1]
                    m = prev[j]
                    if prev[j - 1] < m:
                        m = prev[j - 1]
                    if cur[j - 1] < m:
                        m = cur[j - 1]
                    cur[j] = d * d + m
                prev = cur
            out.append(prev[g])
        return pd.Series(out, dtype="float64")

    return dtw2


def ts_similarity_dtw_topk(
    events: DataFrame,
    query_user: int = 0,
    k: int = 10,
    grid: int = 16,
    band: int = 2,
    shortlist: int = 40,
    value_col: str = "value",
) -> DataFrame:
    """The ELASTIC tier of the series-search ladder (above the
    Euclidean PAA/SAX tiers): top-k nearest series to `query_user`
    under banded Dynamic Time Warping, pruned by the LB_Keogh lower
    bound (Keogh & Ratanamahatana 2005, public) — the canonical
    shape-matching search a data-series user reaches for when phase
    shift should not count as distance. Returns (user_id, lb2, dtw2,
    rank): the lower bound and exact banded-DTW distance side by
    side, ranked by dtw2 (user_id tie-break). Raises ValueError for
    a query with fewer than `grid` points — the ladder's shared
    degenerate-query contract.

    Series are compared on the `grid`-cell length-normalized
    representation (ts_paa — exact-cents means, bit-identical
    cross-engine). The query's band envelope U[j]/L[j] =
    max/min(q[j-band..j+band]) is built driver-side from the
    collected query sketch (exact: max/min pick existing doubles)
    and broadcast as literal arrays; LB_Keogh(c) = sum of
    (c_j - U_j)^2 when above, (L_j - c_j)^2 when below, else 0 —
    provably <= banded DTW^2 on the same representation (the DTW
    path must match each c_j against SOME q within the band, whose
    distance the envelope minorizes; property-tested with no false
    dismissal through an uncut shortlist).

    Scale shape: the grid sketch materializes ONCE (localCheckpoint)
    and serves guard, envelope, LB and refine; LB is one ordered
    fold per user on the sketch relation's existing user
    partitioning (bit-stable seg-order sum) + a
    TakeOrderedAndProject cut; ONLY the <= `shortlist` collected
    candidates (re-broadcast as literals) reach the O(G*band) DTW
    DP, which runs as an Arrow-batched UDF over shortlist-many
    G-cell arrays — the event log is scanned once and never
    re-shuffled, and the expensive elastic scorer touches a fixed,
    tiny relation exactly like the PQ/PAA refine paths. The honest
    index caveat (same as the SAX tier): the result is exact over
    the shortlist; a fixed-size cut on a lower bound can drop a true
    neighbour whenever `shortlist` others carry smaller LB values.
    Freeze-at-build semantics: sketches materialize and the
    shortlist is collected when this function runs."""
    g = ts_paa(events, grid, value_col).localCheckpoint()
    _guard_query_points(g, query_user, grid, "grid", "the DTW tier")
    q_rows = (
        g.filter(F.col("user_id") == query_user)
        .select("seg", "paa_value")
        .collect()
    )
    qv = [0.0] * grid
    for r in q_rows:
        qv[int(r.seg)] = float(r.paa_value)
    upper = [
        max(qv[max(0, j - band) : min(grid, j + band + 1)])
        for j in range(grid)
    ]
    lower = [
        min(qv[max(0, j - band) : min(grid, j + band + 1)])
        for j in range(grid)
    ]
    uarr = F.array(*[F.lit(float(u)) for u in upper])
    larr = F.array(*[F.lit(float(x)) for x in lower])
    v = F.col("paa_value")
    u = F.element_at(uarr, F.col("seg").cast("int") + 1)
    lo = F.element_at(larr, F.col("seg").cast("int") + 1)
    contrib = (
        F.when(v > u, (v - u) * (v - u))
        .when(v < lo, (lo - v) * (lo - v))
        .otherwise(F.lit(0.0))
    )
    lb = _ordered_sum(
        g.filter(F.col("user_id") != query_user).select(
            "user_id", "seg", contrib.alias("c")
        ),
        "user_id",
        F.col("c"),
    ).select("user_id", F.col("__sum").alias("lb2"))
    cand, members = _shortlist(lb, "lb2", shortlist, "lb2 double")
    arrs = _cells(g.join(F.broadcast(members), "user_id"))
    scored = arrs.select(
        "user_id", _dtw_band_arrow(qv, band)(F.col("cells")).alias("dtw2")
    ).join(F.broadcast(cand), "user_id")
    return _top_ranked(scored, "dtw2", k, "user_id", "lb2", "dtw2")


def _cells(sk: DataFrame) -> DataFrame:
    """(user_id, cells): each user's sketch values as one array in seg
    order, over a (user_id, seg, paa_value) relation — the DTW tier
    scores it, ts_motif and ts_discord fold over it."""
    return sk.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seg", "paa_value"))),
            lambda st: st["paa_value"],
        ).alias("cells")
    )


def _window_dist2(cells: Column, a: Column, b: Column, m: int) -> Column:
    """Squared Euclidean distance between the length-`m` windows of
    `cells` starting at `a` and `b` (0-based), folded IN OFFSET ORDER
    (left fold over a literal sequence — the bit-stable discipline
    matching the oracle's sum(... ORDER BY o)). The ONE copy of the
    matrix-profile distance fold."""

    def step(acc: Column, o: Column) -> Column:
        d = F.element_at(cells, (a + o + 1).cast("int")) - F.element_at(
            cells, (b + o + 1).cast("int")
        )
        return acc + d * d

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0), step
    )


def ts_motif(
    events: DataFrame,
    grid: int = 32,
    m: int = 8,
    exclusion: int | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Per-series MOTIF discovery — the matrix-profile question (Yeh
    et al., ICDM 2016, public): for every entity, the closest pair of
    length-`m` subsequences within its own series, trivial matches
    excluded (|start_a - start_b| must exceed `exclusion`, default
    m // 2 — overlapping windows always look alike). Returns
    (user_id, start_a, start_b, dist2): the best pair per series with
    its squared Euclidean distance on the `grid`-cell
    length-normalized representation (ts_paa — exact-cents means,
    bit-identical cross-engine), tie-broken by (start_a, start_b) so
    the winner is deterministic. The repeated-structure probe a
    series user runs after similarity search: recurring daily shapes,
    repeated faults, templated activity.

    Scale shape: motif discovery shards PERFECTLY by series — one
    user-keyed exchange builds the G-cell array per entity, then the
    (G-m+1)² candidate pairs explode map-side from literal sequences
    ((G-m+1)² is a CONSTANT per series, ~600 rows at the defaults —
    never corpus x corpus), the per-pair distance folds its m squared
    diffs in offset order (left fold over a literal sequence — the
    bit-stable discipline), and the per-series winner rides a window
    on the SAME user partitioning the array build already paid. At
    100 TB: linear in series count, constant per series, one
    exchange, no UDF — all whole-stage-codegen'd JVM expressions.
    Series with fewer than `grid` points are excluded with ts_paa's
    documented cut (both engines). Raises when the exclusion zone
    admits no candidate pair at all (grid - m + 1 <= exclusion + 1) —
    the ladder's raise-instead-of-silent-empty contract: an empty
    result should mean no qualifying series, never degenerate
    parameters."""
    if exclusion is None:
        exclusion = m // 2
    if m > grid:
        raise ValueError(f"m={m} exceeds grid={grid}")
    if grid - m + 1 <= exclusion + 1:
        raise ValueError(
            f"exclusion zone {exclusion} admits no candidate pair at "
            f"grid={grid}, m={m} (need grid - m + 1 > exclusion + 1)"
        )
    arr = _cells(ts_paa(events, grid, value_col))
    starts = F.sequence(F.lit(0), F.lit(grid - m))
    pairs = (
        arr.select("user_id", "cells", F.explode(starts).alias("a"))
        .select("user_id", "cells", "a", F.explode(starts).alias("b"))
        .filter(F.col("b") - F.col("a") > F.lit(exclusion))
    )
    scored = pairs.select(
        "user_id",
        F.col("a").cast("long").alias("start_a"),
        F.col("b").cast("long").alias("start_b"),
        _window_dist2(
            F.col("cells"), F.col("a"), F.col("b"), m
        ).alias("dist2"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc("dist2"), F.asc("start_a"), F.asc("start_b")
    )
    return _winner(scored, w).select("user_id", "start_a", "start_b", "dist2")


def ts_discord(
    events: DataFrame,
    grid: int = 32,
    m: int = 8,
    exclusion: int | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Per-series DISCORD discovery — the anomaly half of the matrix
    profile (Yeh et al., ICDM 2016, public): for every entity, the
    length-`m` subsequence of its `grid`-cell representation whose
    nearest non-trivial neighbor (|other - start| > `exclusion`,
    default m // 2) is FARTHEST. Returns (user_id, start, nn_dist2):
    the most isolated window per series with its nearest-neighbor
    squared Euclidean distance, tie-broken by smallest start. The
    anomaly probe a series user runs next to ts_motif's recurring
    shapes: one-off faults, regime breaks, sensor glitches — the
    window NOTHING else in the series looks like.

    Scale shape: shards PERFECTLY by series, like ts_motif — one
    user-keyed exchange builds the G-cell array per entity, then each
    of the (G-m+1) starts computes its nearest-neighbor distance in a
    SINGLE nested fold over literal sequences (outer: running min
    over valid partners b; inner: the m squared diffs in offset
    order — the bit-stable discipline; min is order-insensitive, so
    the oracle's min aggregate over the same bit-identical sums
    matches exactly). No pair relation is ever materialized — the
    per-series work is a constant ~(G-m+1)^2*m flops inside one
    projected expression, and the per-series winner rides a window on
    the SAME user partitioning. At 100 TB: linear in series count,
    one exchange, no UDF. Series with fewer than `grid` points are
    excluded with ts_paa's documented cut (both engines). Raises
    when the exclusion zone leaves some start without a valid partner
    (grid - m + 1 < 2*exclusion + 2 — a central start starves exactly
    when s <= 2*exclusion + 1), where the two engines would otherwise
    diverge (empty-group drop vs +inf row)."""
    if exclusion is None:
        exclusion = m // 2
    if m > grid:
        raise ValueError(f"m={m} exceeds grid={grid}")
    s = grid - m + 1
    if s < 2 * exclusion + 2:
        raise ValueError(
            f"exclusion zone {exclusion} leaves central starts with no "
            f"valid partner at grid={grid}, m={m} (need grid - m + 1 >= "
            f"2*exclusion + 2)"
        )
    arr = _cells(ts_paa(events, grid, value_col))
    starts = F.sequence(F.lit(0), F.lit(s - 1))
    sub = arr.select("user_id", "cells", F.explode(starts).alias("a"))
    c = F.col("cells")

    def pair_dist(b: Column) -> Column:
        return _window_dist2(c, F.col("a"), b, m)

    valid = F.filter(
        starts, lambda b: F.abs(b - F.col("a")) > F.lit(exclusion)
    )
    nn = sub.select(
        "user_id",
        F.col("a").cast("long").alias("start"),
        F.aggregate(
            valid,
            F.lit(float("inf")),
            lambda acc, b: F.least(acc, pair_dist(b)),
        ).alias("nn_dist2"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("nn_dist2"), F.asc("start")
    )
    return _winner(nn, w).select("user_id", "start", "nn_dist2")


def ts_changepoint(
    events: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Per-series CUSUM changepoint estimation (Page 1954, public —
    the classic single-changepoint location statistic): for each
    entity, the position that maximizes |cumulative sum of deviations
    from the series mean| over its (ts, event_id)-ordered values.
    Returns (user_id, cp_pos, n_points, cusum): the 1-based position
    AFTER which the level shift most plausibly occurs, the series
    length, and the signed CUSUM value at the argmax (in value units —
    the shift's direction and weight). Ties break on the smallest
    position; series with a single point are excluded (no interior
    position exists).

    Exactness: the argmax is decided on EXACT integers. With cents
    c_j and per-series totals SC = sum(c_j), n, the CUSUM at position
    i is (sum_{j<=i} c_j - i*SC/n)/100 — multiplying through by n
    gives S_i = n*csum_i - i*SC, an exact BIGINT both engines compute
    identically, so the argmax (and tie-breaks) can never drift on
    float rounding. The reported `cusum` is the single division
    S_i/(100.0*n), the same left-to-right double arithmetic on both
    sides. (|c_j| <= 1e6 cents and n <= 1e6 points keep n*csum well
    inside the BIGINT range.)

    Scale shape: ONE user-keyed exchange serves the ordering window
    (running sum + row_number), the per-series totals window, and the
    winner window — three logical windows, one partitioning, no
    second shuffle. Linear in the event log, no UDFs; at 100 TB this
    is a single pass over each series."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    base = (
        events.select(
            "user_id", "ts", "event_id", _cents(value_col).alias("__c")
        )
        .withColumn("__pos", F.row_number().over(w).cast("long"))
        .withColumn(
            "__csum",
            F.sum("__c").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("__n", F.count("*").over(wn))
        .withColumn("__sc", F.sum("__c").over(wn))
        .filter(F.col("__pos") < F.col("__n"))
    )
    s = (
        F.col("__n") * F.col("__csum") - F.col("__pos") * F.col("__sc")
    ).alias("__s")
    scored = base.select(
        "user_id", "__pos", "__n", s
    )
    win = Window.partitionBy("user_id").orderBy(
        F.desc(F.abs(F.col("__s"))), F.asc("__pos")
    )
    return (
        _winner(scored, win)
        .select(
            "user_id",
            F.col("__pos").alias("cp_pos"),
            F.col("__n").cast("long").alias("n_points"),
            (
                F.col("__s").cast("double")
                / (F.lit(100.0) * F.col("__n").cast("double"))
            ).alias("cusum"),
        )
    )


def ts_anomaly_zscore(
    events: DataFrame, threshold: int = 3, value_col: str = "value"
) -> DataFrame:
    """Per-series pointwise anomaly flags: events whose value sits
    more than `threshold` population standard deviations from their
    OWN series' mean — the model-free outlier screen a series user
    runs before the shape-aware tiers (ts_discord finds the window
    nothing else resembles; this finds the point far from its own
    distribution). Returns (user_id, event_id, z) for flagged events.

    Exactness: the FLAG DECISION is exact integer arithmetic, never a
    float comparison. |x_i - mean| > t*std is cross-multiplied into
    (n*c_i - SC)^2 > t^2 * (n*SSQ - SC^2) over exact cent sums
    (c_i cents, SC = sum c, SSQ = sum c^2), evaluated in DECIMAL(38,0)
    on the Spark side and HUGEINT on the oracle side — both exact
    128-bit integer arithmetic, so a borderline event can never flip
    on float rounding (`threshold` is an int so t^2 stays exact).
    Series with zero variance flag nothing. The reported z itself is
    the same left-to-right double formula on both engines
    ((c - SC/n) / sqrt(nvar/n^2), cents units cancel), with the
    variance derived from the exact 128-bit nvar so a flagged row can
    never carry a non-finite z (nvar >= 1 whenever the gate passes).

    Scale shape: ONE user-keyed exchange serves both per-series
    windows (totals + flags are row-local after them); linear in the
    event log, no UDFs, map-side after the single exchange."""
    wn = Window.partitionBy("user_id")
    base = (
        events.select("user_id", "event_id", _cents(value_col).alias("__c"))
        .withColumn("__n", F.count("*").over(wn))
        .withColumn("__sc", F.sum("__c").over(wn))
        .withColumn("__ssq", F.sum(F.col("__c") * F.col("__c")).over(wn))
    )
    cond, z = zscore_flag_exprs(threshold)
    return base.filter(cond).select("user_id", "event_id", z.alias("z"))


def zscore_flag_exprs(threshold: int) -> tuple:
    """The ONE copy of the exact-decision z-score expressions (see
    ts_anomaly_zscore; the streaming screen reuses them against a
    batch-trained profile). Over columns __c (event cents), __n,
    __sc, __ssq (per-series count / cent sum / squared-cent sum),
    returns (flag_condition, z): the condition is the exact
    decimal(38,0) cross-multiplied test, z the shared double
    formula."""
    d = "decimal(38,0)"
    nd = F.col("__n").cast(d)
    dev = nd * F.col("__c").cast(d) - F.col("__sc").cast(d)
    nvar = nd * F.col("__ssq").cast(d) - F.col("__sc").cast(d) * F.col(
        "__sc"
    ).cast(d)
    mean = F.col("__sc").cast("double") / F.col("__n").cast("double")
    # variance for the REPORTED z comes from the exact 128-bit nvar
    # (nvar/n²), not the double expression ssq/n - mean² — the latter
    # can catastrophically cancel to 0/negative on a huge-mean,
    # tiny-variance series even when the exact gate nvar>0 passes,
    # leaking z = Inf/NaN to consumers. nvar >= 1 exactly whenever the
    # flag fires, and a positive decimal(38,0) never casts to 0.0, so
    # the divisor is strictly positive and z is always finite.
    varc = nvar.cast("double") / (
        F.col("__n").cast("double") * F.col("__n").cast("double")
    )
    z = (F.col("__c").cast("double") - mean) / F.sqrt(varc)
    t2 = int(threshold) * int(threshold)
    cond = (nvar > F.lit(0).cast(d)) & (
        dev * dev > F.lit(t2).cast(d) * nvar
    )
    return cond, z


def ts_seasonality(
    events: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Per-series hour-of-day seasonality profile: for each entity,
    the share of its value variance explained by the hour-of-day
    grouping (the classic one-way ANOVA R² of the 24-bucket seasonal
    profile) and the hour with the highest mean value. Returns
    (user_id, peak_hour, strength, n_points) for series with nonzero
    total variance — the 'does this series breathe daily, and when'
    screen run before committing to seasonal models or
    hour-partitioned rollups.

    Exactness: all sums are exact integer cents at both levels
    ((user, hour) partials, per-user totals as sums-of-sums). The
    zero-variance exclusion is the exact integer test
    n*SSQ - SC² > 0. strength = 1 - SSE/SST uses one double term per
    hour (ssq_h - sc_h²/n_h) folded IN HOUR ORDER (the bit-stable
    discipline; the oracle's sum(... ORDER BY h) adds in the same
    order), and the peak hour compares per-hour double means with a
    strictly-greater fold so ties resolve to the earliest hour on
    both engines.

    Scale shape: one (user, hour) aggregate (map-side combined, at
    most 24 rows per entity), then ONE user-keyed exchange whose
    aggregate computes totals AND the hour-ordered folds from a
    ≤24-element collected array. Linear in the event log, bounded
    per-entity state, no UDFs."""
    g = (
        events.select(
            "user_id", F.hour("ts").alias("h"), _cents(value_col).alias("__c")
        )
        .groupBy("user_id", "h")
        .agg(
            F.count("*").cast("long").alias("n_h"),
            F.sum("__c").alias("sc_h"),
            F.sum(F.col("__c") * F.col("__c")).alias("ssq_h"),
        )
    )
    u = g.groupBy("user_id").agg(
        F.sum("n_h").alias("n"),
        F.sum("sc_h").alias("sc"),
        F.sum("ssq_h").alias("ssq"),
        F.array_sort(
            F.collect_list(F.struct("h", "n_h", "sc_h", "ssq_h"))
        ).alias("arr"),
    )

    def term(x: Column) -> Column:
        return x["ssq_h"].cast("double") - (
            x["sc_h"].cast("double") * x["sc_h"].cast("double")
        ) / x["n_h"].cast("double")

    sse = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + term(x)
    )
    peak = F.aggregate(
        F.col("arr"),
        F.struct(
            F.lit(float("-inf")).alias("mh"), F.lit(-1).alias("h")
        ),
        lambda acc, x: F.when(
            x["sc_h"].cast("double") / x["n_h"].cast("double") > acc["mh"],
            F.struct(
                (x["sc_h"].cast("double") / x["n_h"].cast("double")).alias(
                    "mh"
                ),
                x["h"].alias("h"),
            ),
        ).otherwise(acc),
    )
    d = "decimal(38,0)"
    nvar = F.col("n").cast(d) * F.col("ssq").cast(d) - F.col("sc").cast(
        d
    ) * F.col("sc").cast(d)
    sst = F.col("ssq").cast("double") - (
        F.col("sc").cast("double") * F.col("sc").cast("double")
    ) / F.col("n").cast("double")
    return (
        u.filter(nvar > F.lit(0).cast(d))
        .select(
            "user_id",
            peak["h"].cast("int").alias("peak_hour"),
            (F.lit(1.0) - sse / sst).alias("strength"),
            F.col("n").cast("long").alias("n_points"),
        )
    )


def ts_corr_topk(
    events: DataFrame,
    segments: int = 8,
    k: int = 20,
    max_bucket: int = 100,
    value_col: str = "value",
) -> DataFrame:
    """Top-k most correlated SERIES PAIRS — the cross-series question
    the rest of the ladder doesn't ask (everything else is
    within-series or query-vs-corpus): which entities move together.
    Returns (user_a, user_b, corr): Pearson correlation of the two
    entities' `segments`-cell PAA sketches, corr-desc then pair-asc,
    user_a < user_b.

    Candidate generation is BLOCKED, never all-pairs: only pairs
    sharing an identical SAX word (same iSAX leaf — same quantized
    shape) are scored, and words with more than `max_bucket` members
    are skipped entirely (the dedup-LSH MAX_BUCKET discipline: a hot
    leaf would go quadratic; skipping it is the documented
    cost/recall trade, and correlated-but-differently-leveled pairs
    are likewise out of a value-domain blocking's recall — the
    production knob is the normalization pass SAX classically sits
    behind). Candidate work is bounded by sum(bucket^2) <=
    n_buckets * max_bucket^2, NEVER corpus^2.

    Exactness: both engines score candidates from the SAME
    bit-identical sketch cells; the five Pearson components (sum x,
    sum y, sum x^2, sum y^2, sum xy) fold IN SEG ORDER (one struct
    accumulator per pair on the Spark side, five sum(... ORDER BY
    seg) aggregates on the oracle side — componentwise the same
    left-to-right additions), and r is one shared double formula, so
    the ranking cannot drift.

    Scale shape: sketch + word relations are one row (resp. `segments`
    rows) per entity; the pair relation lives entirely inside guarded
    buckets. One exchange each for sketch, bucket sizes, the
    (word, seg) self-join, and the per-pair aggregate — all over
    entity-sized relations, vanishing next to the event log."""
    sk = ts_paa(events, segments, value_col).select(
        "user_id", "seg", "paa_value"
    )
    words = ts_sax(events, segments, value_col=value_col).select(
        "user_id", "sax_word"
    )
    ok = (
        words.groupBy("sax_word")
        .agg(F.count("*").alias("__b"))
        .filter((F.col("__b") >= 2) & (F.col("__b") <= max_bucket))
        .select("sax_word")
    )
    u = words.join(ok, "sax_word").join(sk, "user_id")
    a, b = u.alias("a"), u.alias("b")
    p = a.join(
        b,
        (F.col("a.sax_word") == F.col("b.sax_word"))
        & (F.col("a.seg") == F.col("b.seg"))
        & (F.col("a.user_id") < F.col("b.user_id")),
    ).select(
        F.col("a.user_id").alias("ua"),
        F.col("b.user_id").alias("ub"),
        F.col("a.seg").alias("seg"),
        F.col("a.paa_value").alias("x"),
        F.col("b.paa_value").alias("y"),
    )
    zero = F.struct(
        *[F.lit(0.0).alias(f) for f in ("sx", "sy", "sxx", "syy", "sxy")]
    )
    agg = p.groupBy("ua", "ub").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("seg", "x", "y"))),
            zero,
            lambda acc, e: F.struct(
                (acc["sx"] + e["x"]).alias("sx"),
                (acc["sy"] + e["y"]).alias("sy"),
                (acc["sxx"] + e["x"] * e["x"]).alias("sxx"),
                (acc["syy"] + e["y"] * e["y"]).alias("syy"),
                (acc["sxy"] + e["x"] * e["y"]).alias("sxy"),
            ),
        ).alias("c")
    )
    c = F.col("c")
    ok, r = _pearson(
        F.lit(segments), c["sx"], c["sy"], c["sxx"], c["syy"], c["sxy"]
    )
    return (
        agg.filter(ok)
        .select(
            F.col("ua").alias("user_a"),
            F.col("ub").alias("user_b"),
            r.alias("corr"),
        )
        .orderBy(F.desc("corr"), F.asc("user_a"), F.asc("user_b"))
        .limit(k)
    )


def _pearson(n, sx, sy, sxx, syy, sxy) -> tuple[Column, Column]:
    """(defined, r): Pearson correlation from its five sums over `n`
    pairs, defined when both variances are positive."""
    da = n * sxx - sx * sx
    db = n * syy - sy * sy
    return (da > 0) & (db > 0), (n * sxy - sx * sy) / (
        F.sqrt(da) * F.sqrt(db)
    )


def _series_array(
    events: DataFrame, field: str, value: Column, out: str
) -> DataFrame:
    """(user_id, `out`): each user's `value`s as one array in
    (ts, event_id) order — the order both engines share."""
    return (
        events.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                value.alias(field),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
        .select(
            "user_id",
            F.expr(f"transform(es, e -> e.{field})").alias(out),
        )
    )


def _values(events: DataFrame, value_col: str) -> DataFrame:
    """(user_id, vals): the forecast folds' ordered double series."""
    return _series_array(
        events, "v", F.col(value_col).cast("double"), "vals"
    )


def _fold_vals(seed, step) -> Column:
    """Left fold of `step` over vals[2..], its state seeded by
    `seed(vals[1])` — the forecast folds' shared shape."""
    return F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        seed(F.element_at(F.col("vals"), 1)),
        step,
    )


def ts_forecast_ewma(
    events: DataFrame, alpha: float = 0.3, value_col: str = "value"
) -> DataFrame:
    """Per-series exponential smoothing (EWMA) — the forecasting rung
    of the series ladder (simple exponential smoothing, Brown 1956;
    the one-step-ahead forecast IS the smoothed level). For each
    entity, fold its (ts, event_id)-ordered values through
    s := x*alpha + s*(1-alpha), seeded with the first value. Returns
    (user_id, n_points, ewma_level).

    Cross-engine exactness: a recursive float statistic is exact only
    if both engines execute the SAME left fold in the SAME order —
    so the series is materialized as one (ts, event_id)-sorted array
    per entity and folded left-to-right with the literal expression
    `x * alpha + acc * beta` (beta = 1 - alpha, both embedded as
    identical literals in the DuckDB twin's list_reduce). No
    aggregate-order nondeterminism exists to drift.

    Scale shape: one user-keyed exchange; per-series state is the
    series itself (bounded by the per-entity event count, the same
    contract every fold in this module carries); the fold is a single
    interpreted-HOF pass over a MATERIALIZED array (the no-CSE
    lesson: the array is built once in a prior projection). At 100 TB
    this is one shuffle and one linear pass — the minimum for an
    order-dependent statistic."""
    beta = 1.0 - alpha
    arr = _values(events, value_col)
    level = _fold_vals(
        lambda first: first,
        lambda acc, x: x * F.lit(alpha) + acc * F.lit(beta),
    )
    return arr.select(
        "user_id",
        F.size("vals").cast("long").alias("n_points"),
        level.alias("ewma_level"),
    )


def ts_forecast_holt(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    value_col: str = "value",
) -> DataFrame:
    """Per-series Holt linear-trend (double exponential) smoothing —
    the rung above ts_forecast_ewma: a level AND a trend component
    (Holt 1957, public), so the one-step forecast extrapolates slope
    instead of assuming a flat level. Fold over the
    (ts, event_id)-ordered values, seeded (l, b) = (x1, 0):

        l' = x*alpha + (l + b)*(1 - alpha)
        b' = (l' - l)*beta + b*(1 - beta)

    Returns (user_id, n_points, level, trend, forecast_1 = level +
    trend). The zero-trend seed (rather than x2 - x1) keeps the
    single-point series well-defined and the fold init equal to the
    first element — the shape both engines' left folds share.

    Cross-engine exactness: the DuckDB twin iterates the identical
    recurrence as a recursive CTE over the same ordered array — NOT
    list_reduce: DuckDB's list_reduce updates a struct accumulator's
    fields IN PLACE, so a later field's expression reads the earlier
    field's NEW value (measured: the trend drifts by step 3), while
    Spark's fold builds a fresh struct per step. The recursive CTE
    evaluates both expressions against the previous row, matching
    Spark's semantics; l' is inlined twice in b' on BOTH sides, so
    even the double-rounding pattern matches. Scale shape: identical
    to ts_forecast_ewma — one user-keyed exchange, one
    materialized-array pass."""
    a1, a2 = float(alpha), 1.0 - float(alpha)
    b1, b2 = float(beta), 1.0 - float(beta)
    arr = _values(events, value_col)

    def _lvl(acc, x):
        return x * F.lit(a1) + (acc["l"] + acc["b"]) * F.lit(a2)

    fold = _fold_vals(
        lambda first: F.struct(first.alias("l"), F.lit(0.0).alias("b")),
        lambda acc, x: F.struct(
            _lvl(acc, x).alias("l"),
            (
                (_lvl(acc, x) - acc["l"]) * F.lit(b1)
                + acc["b"] * F.lit(b2)
            ).alias("b"),
        ),
    )
    return arr.select(
        "user_id",
        F.size("vals").cast("long").alias("n_points"),
        fold["l"].alias("level"),
        fold["b"].alias("trend"),
        (fold["l"] + fold["b"]).alias("forecast_1"),
    )


def resample_interpolate(
    events: DataFrame, step: int = HOUR, max_user: int | None = 40
) -> DataFrame:
    """(user_id, hour_start, value_interp): the linear-interpolation
    sibling of resample_ffill — each grid point's value is
    interpolated between the LAST observation strictly before the
    hour start and the FIRST observation at-or-after it, flat
    extrapolation past either end. The gap-filling contract real
    sensor/metric resamplers default to. Like resample_ffill,
    `max_user` bounds the checked slice at test scale (default 40);
    None resamples everyone.

    Exactness: anchors are decided entirely on integers (per-µs ties
    collapsed by max(value); per-hour last = max_by over LONG µs,
    first = min_by; prev/next selection by the hour spine's total
    order), and the one float expression is pinned left-to-right on
    both engines: v_p + (v_n - v_p) * (CAST(t - us_p AS DOUBLE) /
    CAST(us_n - us_p AS DOUBLE)). The denominator cannot be zero:
    prev lives in an earlier hour (us_p < t) and next at-or-after the
    hour start (us_n >= t).

    Scale shape: same as resample_ffill — `_hourly`'s per-user
    bounded spine, hash-aggregate hour collapse
    (max_by/min_by over LONG orderings stay in HashAggregate), and
    TWO frame windows sharing ONE user partitioning; the plan pays
    the (user, h, us) tie-collapse exchange, the (user, h) hour
    exchange, and the user window exchange — all key-local, nothing
    corpus-wide twice."""
    obs, spine = _hourly(events, step, max_user)
    per_us = obs.groupBy("user_id", "h", "us").agg(
        F.max("value").alias("v")
    )
    per_hour = per_us.groupBy("user_id", "h").agg(
        F.max("us").alias("us_last"),
        F.max_by("v", "us").alias("v_last"),
        F.min("us").alias("us_first"),
        F.min_by("v", "us").alias("v_first"),
    )
    joined = spine.join(per_hour, ["user_id", "h"], "left")
    wp = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wn = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        0, Window.unboundedFollowing
    )
    t = (F.col("h") * F.lit(1_000_000)).cast("long")
    us_p = F.last("us_last", ignorenulls=True).over(wp)
    v_p = F.last("v_last", ignorenulls=True).over(wp)
    us_n = F.first("us_first", ignorenulls=True).over(wn)
    v_n = F.first("v_first", ignorenulls=True).over(wn)
    interp = (
        F.when(us_p.isNull(), v_n)
        .when(us_n.isNull(), v_p)
        .otherwise(
            v_p
            + (v_n - v_p)
            * (
                (t - us_p).cast("double")
                / (us_n - us_p).cast("double")
            )
        )
    )
    return joined.select(
        "user_id",
        F.col("h").alias("hour_start"),
        interp.alias("value_interp"),
    )


def ts_acf(
    events: DataFrame, max_lag: int = 3, value_col: str = "value"
) -> DataFrame:
    """Per-series autocorrelation function (the correlogram) at lags
    1..max_lag — the diagnostic read alongside ts_changepoint /
    ts_seasonality: Pearson r between the series and its lag-L shift
    over the n-L overlapping pairs. Returns
    (user_id, lag, n_pairs, acf); degenerate cells (fewer than 2
    pairs, or zero variance on either side) are excluded on both
    engines.

    Exactness: the five correlation components (Sx, Sy, Sxx, Syy,
    Sxy) are EXACT BIGINT sums over integer cents — order-independent,
    so the engines may build them differently (Spark: one
    materialized-array fold per lag; DuckDB: positional unnest +
    SUM) and still agree bit-for-bit; r is then one shared
    double formula, the ts_corr_topk pattern. (|cents| <= 1e6 and
    n <= 1e6 keep every component inside BIGINT.)

    Scale shape: one user-keyed exchange builds the ordered cents
    array; each lag is a linear fold over that SAME array in the same
    projection — max_lag folds, zero extra shuffles, no pair relation
    materialized."""
    arr = _series_array(events, "c", _cents(value_col), "cs")

    def sums_for(lag: int):
        m = F.size("cs") - F.lit(lag)
        zero = F.lit(0).cast("long")
        fold = F.aggregate(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            F.struct(
                zero.alias("sx"), zero.alias("sy"),
                zero.alias("sxx"), zero.alias("syy"),
                zero.alias("sxy"),
            ),
            lambda acc, t: F.struct(
                (acc["sx"] + F.element_at("cs", t)).alias("sx"),
                (acc["sy"] + F.element_at("cs", t + F.lit(lag))).alias(
                    "sy"
                ),
                (
                    acc["sxx"]
                    + F.element_at("cs", t) * F.element_at("cs", t)
                ).alias("sxx"),
                (
                    acc["syy"]
                    + F.element_at("cs", t + F.lit(lag))
                    * F.element_at("cs", t + F.lit(lag))
                ).alias("syy"),
                (
                    acc["sxy"]
                    + F.element_at("cs", t)
                    * F.element_at("cs", t + F.lit(lag))
                ).alias("sxy"),
            ),
        )
        return F.struct(
            F.lit(lag).cast("int").alias("lag"),
            m.cast("long").alias("m"),
            # guard: series shorter than lag+2 never evaluate the
            # fold (element_at past the array end errors under ANSI)
            F.when(m >= 2, fold).alias("s"),
        )

    cells = arr.select(
        "user_id",
        F.explode(
            F.array(*[sums_for(L) for L in range(1, int(max_lag) + 1)])
        ).alias("cell"),
    ).filter(F.col("cell.m") >= 2)
    ok, r = _pearson(
        *[
            F.col(f"cell.{f}").cast("double")
            for f in ("m", "s.sx", "s.sy", "s.sxx", "s.syy", "s.sxy")
        ]
    )
    return cells.filter(ok).select(
        "user_id",
        F.col("cell.lag").alias("lag"),
        F.col("cell.m").alias("n_pairs"),
        r.alias("acf"),
    )


def ts_forecast_holt_winters(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    gamma: float = 0.3,
    period: int = 4,
    value_col: str = "value",
) -> DataFrame:
    """Per-series Holt-Winters additive (triple exponential)
    smoothing — the seasonal rung above ts_forecast_holt: level,
    trend, AND an m-slot additive seasonal state (Winters 1960,
    public). Fold over the (ts, event_id)-ordered values with the
    element at 1-based position p touching seasonal slot
    j = ((p - 1) mod m) + 1:

        l' = (x - s_j)*alpha + (l + b)*(1 - alpha)
        b' = (l' - l)*beta + b*(1 - beta)
        s_j' = (x - l')*gamma + s_j*(1 - gamma)

    seeded (l, b, s) = (x1, 0, zeros(m)) — the zero seasonal seed
    keeps single-point series well-defined and is the SAME simple
    init on both engines (textbook inits fit a first-cycle regression;
    a certified operator needs a closed-form seed). Returns (user_id,
    n_points, level, trend, season_next, forecast_1 = level + trend +
    season_next) where season_next is the slot the NEXT point would
    touch.

    Cross-engine exactness: the ts_forecast_holt discipline — the
    DuckDB twin iterates the identical recurrence as a recursive CTE
    (never list_reduce: its in-place struct mutation reads l' where l
    is meant), l' is inlined into b' and s_j' on BOTH sides so the
    double-rounding pattern matches, and the seasonal array is
    rebuilt per step by slice-concat (no in-place element write
    exists in either engine's expression language — the same rebuild
    both sides). Scale shape: identical to the other folds — one
    user-keyed exchange, one materialized-array pass; per-step state
    adds m doubles."""
    m = int(period)
    a1, a2 = float(alpha), 1.0 - float(alpha)
    b1, b2 = float(beta), 1.0 - float(beta)
    g1, g2 = float(gamma), 1.0 - float(gamma)
    arr = _values(events, value_col)

    def _j(acc):  # 1-based seasonal slot of the element consumed now
        return (acc["i"] % F.lit(m)) + F.lit(1)

    def _sj(acc):
        return F.element_at(acc["s"], _j(acc))

    def _lvl(acc, x):
        return (x - _sj(acc)) * F.lit(a1) + (
            acc["l"] + acc["b"]
        ) * F.lit(a2)

    fold = _fold_vals(
        lambda first: F.struct(
            first.alias("l"),
            F.lit(0.0).alias("b"),
            F.array_repeat(F.lit(0.0), m).alias("s"),
            F.lit(1).alias("i"),
        ),
        lambda acc, x: F.struct(
            _lvl(acc, x).alias("l"),
            (
                (_lvl(acc, x) - acc["l"]) * F.lit(b1)
                + acc["b"] * F.lit(b2)
            ).alias("b"),
            F.concat(
                F.slice(acc["s"], F.lit(1), _j(acc) - F.lit(1)),
                F.array(
                    (x - _lvl(acc, x)) * F.lit(g1) + _sj(acc) * F.lit(g2)
                ),
                F.slice(acc["s"], _j(acc) + F.lit(1), F.lit(m) - _j(acc)),
            ).alias("s"),
            (acc["i"] + F.lit(1)).alias("i"),
        ),
    )
    season_next = F.element_at(
        fold["s"], (F.size("vals") % F.lit(m)) + F.lit(1)
    )
    return arr.select(
        "user_id",
        F.size("vals").cast("long").alias("n_points"),
        fold["l"].alias("level"),
        fold["b"].alias("trend"),
        season_next.alias("season_next"),
        (fold["l"] + fold["b"] + season_next).alias("forecast_1"),
    )


DECOMP_PERIOD = 4


def ts_decompose_classical(
    events: DataFrame,
    period: int = DECOMP_PERIOD,
    value_col: str = "value",
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method every STL exposition starts from — textbook, public): per
    user series, trend = centered 2×m moving average, detrended =
    value − trend, seasonal = per-slot mean of the detrended values,
    residual = detrended − seasonal. Returns (user_id, idx, value,
    trend, seasonal, resid) for interior points (m/2 < idx <=
    n − m/2, where the centered window is full). Period m must be
    even (the 2×m form).

    Exactness: values quantize to
    integer CENTS and every statistic is EXACT BIGINT until one
    final division per output column — trend = N/(2m·100) with
    N = vc₋ₕ + 2Σ interior + vcₕ, detrended D = 2m·vc − N, seasonal
    = ΣD / (n·2m·100). Integer sums are order-independent, so the
    per-slot aggregate cannot drift between engines no matter the
    partial-aggregate schedule (a float sum's does, at sf0.1 group
    sizes).
    Overflow budget: |D| ≤ 2m·max_cents, ΣD over n rows ≤
    n·2m·max_cents — 1e9 rows of 1e7-cent values at m = 12 stays
    under 2.5e17, inside int64.

    Scale shape: ONE user-keyed exchange for the lag/lead window (the
    frame is m+1 rows of state), one (user, slot) aggregate for the
    m-row-per-user seasonal table, broadcast-shaped join back. No
    arrays materialized — this operator is pure windows, so it holds
    for series too long to collect (unlike the forecast folds, whose
    contract bounds per-entity length)."""
    m = int(period)
    if m % 2 != 0:
        raise ValueError("classical 2xm decomposition needs even m")
    h = m // 2
    den = float(2 * m * 100)  # fixed-point denominator, one div/out
    w = Window.partitionBy("user_id").orderBy("us", "eid")
    base = events.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        _cents(value_col).alias("vc"),
    ).withColumn("idx", F.row_number().over(w))
    lags = base
    for off in range(-h, h + 1):
        cname = f"__o{off + h}"
        col = (
            F.lag("vc", -off).over(w)
            if off < 0
            else F.lead("vc", off).over(w)
        )
        lags = lags.withColumn(cname, col)
    # centered 2xm MA numerator: edge offsets once, interior doubled
    # — EXACT BIGINT, so term order is free
    n_t = F.col("__o0")
    for i in range(1, m):
        n_t = n_t + F.lit(2) * F.col(f"__o{i}")
    n_t = n_t + F.col(f"__o{m}")
    td = lags.select(
        "user_id",
        "idx",
        "vc",
        n_t.cast("long").alias("__nt"),
        ((F.col("idx") - 1) % F.lit(m)).alias("slot"),
    ).filter(F.col("__nt").isNotNull())
    det = td.withColumn(
        "__d",
        (F.lit(2 * m) * F.col("vc") - F.col("__nt")).cast("long"),
    )
    seas = det.groupBy("user_id", "slot").agg(
        F.sum("__d").cast("long").alias("__sd"),
        F.count("*").cast("long").alias("__n"),
    )
    seasonal = F.col("__sd").cast("double") / (
        F.col("__n").cast("double") * F.lit(den)
    )
    det_d = F.col("__d").cast("double") / F.lit(den)
    return (
        det.join(seas, ["user_id", "slot"])
        .select(
            "user_id",
            "idx",
            (F.col("vc").cast("double") / F.lit(100.0)).alias("value"),
            (F.col("__nt").cast("double") / F.lit(den)).alias("trend"),
            seasonal.alias("seasonal"),
            (det_d - seasonal).alias("resid"),
        )
    )


LEAD_LAG_MAX = 2  # lags scanned: -2 .. +2 days


def ts_lead_lag(
    events: DataFrame,
    max_lag: int = LEAD_LAG_MAX,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Lead-lag detection between event-type activity series — the
    "does signup activity LEAD purchase activity, and by how many
    days?" question (cross-correlation at small integer lags, the
    econometrics/ops-analytics staple). For every ordered type pair
    (a < b) and lag L in [-max_lag, +max_lag], Pearson correlation
    of a's daily count at day d against b's at day d + L over the
    days BOTH series are active (intersection support, disclosed:
    inactive days are absent, not zero-filled — zero-filling is one
    resample_ffill away and changes the statistic). Reports each
    pair's best lag: (type_a, type_b, best_lag, n_days, corr) —
    argmax corr, ties to the smaller lag.

    Exactness: the five Pearson components are exact BIGINT sums of
    daily counts; r is one shared double formula, so ranking cannot
    drift cross-engine. Degenerate lags (either variance zero, or
    < 3 common days) are excluded before the argmax.

    Scale shape: the event log collapses FIRST to the (type, day)
    daily relation — one map-side-combinable aggregate; everything
    after (the lag cross, the pair join on day, the per-(pair, lag)
    aggregate, the argmax window) runs on catalog-sized relations
    (types x days), vanishing next to the log. No window ever spans
    the raw events."""
    day = F.expr(
        f"unix_micros({ts_col}) div CAST(86400000000 AS BIGINT)"
    ).cast("long")
    daily = (
        events.select(F.col(type_col).alias("t"), day.alias("d"))
        .groupBy("t", "d")
        .agg(F.count("*").cast("long").alias("c"))
    )
    lags = events.sparkSession.range(1).select(
        F.explode(
            F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
        ).alias("__l")
    ).select(F.col("__l").cast("long").alias("lag"))
    a = daily.select(
        F.col("t").alias("ta"), F.col("d").alias("da"),
        F.col("c").alias("x"),
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("t").alias("tb"), F.col("d").alias("db"),
        F.col("c").alias("y"),
    )
    m = a.join(
        b,
        (F.col("ta") < F.col("tb"))
        & (F.col("db") == F.col("da") + F.col("lag")),
    )
    sums = m.groupBy("ta", "tb", "lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    scored = sums.filter(
        (F.col("n") >= 3) & (vx > 0) & (vy > 0)
    ).select(
        "ta",
        "tb",
        "lag",
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double"))
        ).alias("corr"),
    )
    w = Window.partitionBy("ta", "tb").orderBy(
        F.desc("corr"), F.asc("lag")
    )
    return (
        _winner(scored, w)
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("lag").alias("best_lag"),
            F.col("n").alias("n_days"),
            "corr",
        )
    )
