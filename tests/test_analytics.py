"""Graph analytics, deterministic sketches, exact quantiles, EWMA:
value-exact unit tests against plain-Python references of the SAME
contracts the DuckDB twins pin, plus the scale-shape properties the
docstrings claim."""

from __future__ import annotations

import hashlib
import math

import pytest

from mapreduce_chisquare_spark.operators.graph import (
    PR_SCALE,
    pagerank,
    triangle_counts,
)
from mapreduce_chisquare_spark.operators.sketches import kmv_distinct


def _py_pagerank(edges, iterations=10, scale=PR_SCALE):
    """Plain-Python reference of the exact fixed-point contract."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (scale * 15) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for u, v in edges:
            inc[v] += r[u] // outdeg[u]
        dang = sum(r[v] for v in nodes if v not in outdeg) // n
        r = {v: base + (85 * (inc[v] + dang)) // 100 for v in nodes}
    return r


@pytest.mark.slow  # 10s+ reference/brute-force sweep; full tier
def test_pagerank_matches_python_reference_bit_for_bit(spark):
    """Hub-and-sink graph: C1,C2,C3 all cite S1; C1 also cites S2;
    S1/S2 are sinks (dangling mass exercised every round). Every rank
    must equal the Python reference EXACTLY — the fixed-point contract
    leaves no tolerance."""
    edges = [
        ("C1", "S1"), ("C2", "S1"), ("C3", "S1"),
        ("C1", "S2"), ("S2", "C1"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank_fp for r in pagerank(df).collect()}
    want = _py_pagerank(edges)
    assert got == want
    # the thrice-cited sink outranks everything
    assert max(want, key=want.get) == "S1"
    # conservation: total rank stays within N floor-losses of scale
    assert abs(sum(want.values()) - PR_SCALE) < 100 * len(want)


def test_pagerank_uniform_cycle_is_uniform(spark):
    """A directed 4-cycle is symmetric: all ranks identical, and no
    dangling mass exists to redistribute."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks = {r.node: r.rank_fp for r in pagerank(df).collect()}
    assert len(set(ranks.values())) == 1
    assert ranks == _py_pagerank(edges)


def _op_df(spark, rows):
    return spark.createDataFrame(rows, "o_key long, p_key long")


K4_ORDERS = [
    (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 4),
    (3, 1), (3, 3), (3, 4),
    (4, 2), (4, 3), (4, 4),
]


def test_triangles_counts_planted_k4_exactly(spark):
    """Four triples over parts {1,2,3,4}: every pair co-occurs in
    exactly 2 orders, so K4 survives min_support=2 — 4 triangles, 3
    per node."""
    out = {
        r.p_key: r.tri_cnt
        for r in triangle_counts(_op_df(spark, K4_ORDERS)).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_support_threshold_prunes_single_cooccurrence(spark):
    """A triangle seen in only ONE order has support-1 edges — pruned
    entirely at min_support=2, counted at min_support=1."""
    rows = [(1, 10), (1, 11), (1, 12)]
    assert triangle_counts(_op_df(spark, rows), min_support=2).count() == 0
    out = {
        r.p_key: r.tri_cnt
        for r in triangle_counts(_op_df(spark, rows), min_support=1).collect()
    }
    assert out == {10: 1, 11: 1, 12: 1}


def test_triangles_star_hub_yields_none_and_duplicate_lines_collapse(spark):
    """A hub co-ordered pairwise with 30 spokes (no spoke-spoke edge)
    has zero triangles — and repeated (order, part) lines must not
    inflate support (the relation is deduped before pairing)."""
    rows = []
    for i in range(30):
        # two orders per spoke so (hub=0, spoke) clears support 2
        rows += [(100 + i, 0), (100 + i, 1 + i)] * 2
        rows += [(200 + i, 0), (200 + i, 1 + i)]
    assert triangle_counts(_op_df(spark, rows), min_support=2).count() == 0


def _py_kmv_hash(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def test_kmv_exact_below_k_and_estimate_matches_contract(spark):
    """A group with < k distinct keys reports the EXACT count; a
    saturated group reports (k-1)*2^60/h_k with h_k reproduced by a
    Python md5 reference — and the deterministic hash keeps the
    estimate within the sketch's expected error of the truth."""
    rows = [("small", i) for i in range(40)] * 3
    rows += [("big", i) for i in range(5000)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = {
        r.event_type: (r.kmv_distinct, r.k_used)
        for r in kmv_distinct(df, "user_id", "event_type", k=64).collect()
    }
    assert out["small"] == (40.0, 40)
    hk = sorted(_py_kmv_hash(i) for i in range(5000))[63]
    want = 63.0 * float(2**60) / float(hk)
    got, k_used = out["big"]
    assert k_used == 64
    assert got == want
    assert abs(got - 5000) / 5000 < 0.40  # ~3 sigma for k=64


def test_kmv_topk_filter_compiles_to_window_group_limit(spark, sf_dir):
    """The rank<=k filter must prune per-partition BEFORE the
    exchange (WindowGroupLimit) — the property that keeps the shuffle
    at k rows per partition-group at 100 TB."""
    from mapreduce_chisquare_spark.plans.registry import REGISTRY
    from tests.test_plans import plan_text

    p = plan_text(REGISTRY["distinct_sketch_kmv"][0](spark, sf_dir))
    assert "WindowGroupLimit" in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p


def test_dq_quantiles_exact_positions(spark):
    """1..100 planted per type: the type-1 (non-interpolating)
    contract picks positions 49/94/98 -> values 50/95/99."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.warehouse import dq_quantiles

    rows = [
        (i + 1000 * t, dt.datetime(2024, 1, 1), 1, f"t{t}", float(v), "{}")
        for t in range(2)
        for i, v in enumerate(range(100, 0, -1))  # reversed: order must not matter
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {r.event_type: (r.n, r.p50, r.p95, r.p99) for r in dq_quantiles(df).collect()}
    assert out == {"t0": (100, 50.0, 95.0, 99.0), "t1": (100, 50.0, 95.0, 99.0)}


def test_ewma_matches_left_fold_and_single_point_is_identity(spark):
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import ts_forecast_ewma

    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0, 12.0, 9.0, 20.0, 3.5]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "x", v, "{}")
        for i, v in enumerate(vals)
    ]
    rows.append((99, t0, 2, "x", 7.25, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {r.user_id: (r.n_points, r.ewma_level) for r in ts_forecast_ewma(df).collect()}
    s = vals[0]
    for x in vals[1:]:
        s = x * 0.3 + s * 0.7
    assert out[1] == (5, s)
    assert out[2] == (1, 7.25)


def test_ewma_is_order_insensitive_to_input_layout(spark):
    """Shuffling input rows must not change the fold: ordering comes
    from (ts, event_id), not arrival order."""
    import datetime as dt
    import random

    from mapreduce_chisquare_spark.operators.timeseries import ts_forecast_ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "x", float((i * 37) % 100), "{}")
        for i in range(50)
    ]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    mk = lambda rs: spark.createDataFrame(
        rs,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    a = ts_forecast_ewma(mk(rows)).collect()[0]
    b = ts_forecast_ewma(mk(shuffled)).collect()[0]
    assert (a.n_points, a.ewma_level) == (b.n_points, b.ewma_level)


def test_gopher_rules_each_rule_fires_and_boundaries_are_exact(spark):
    from mapreduce_chisquare_spark.operators.textstats import (
        quality_gopher_rules,
    )

    good = "the quick brown fox jumps over a lazy dog near to the river " * 5
    docs = [
        (1, good),                                     # 60 words, passes all
        (2, "the a to " + "word " * 10),               # 13 words: too short
        (3, ("the a to " + "extraordinarily " * 57)),  # mean word len > 10
        (4, "the a to " + "12345 " * 57),              # digit words: alpha
        (5, "the a to " + "wo#rd# " * 57),             # symbol-heavy
        (6, "word other thing stuff " * 15),           # no required stopwords
        (7, "the a to of and that with " + "dup " * 53),  # modal 53/60 > 0.2
        # exact boundary: 50 words, modal word exactly 10/50 = 0.2 -> passes
        (8, "the a to of and " + "xxx " * 10
            + " ".join(f"word{i:02d}" for i in range(35))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_gopher_rules(df).collect()}
    assert out[1].passed == 1, out[1]
    assert out[2].rule_word_count == 0 and out[2].passed == 0
    assert out[3].rule_mean_len == 0 and out[3].passed == 0
    assert out[4].rule_alpha == 0 and out[4].passed == 0
    assert out[5].rule_symbol == 0 and out[5].passed == 0
    assert out[6].rule_stopwords == 0 and out[6].passed == 0
    assert out[7].rule_repetition == 0 and out[7].passed == 0
    assert out[8].n_words == 50, out[8]
    assert out[8].rule_repetition == 1 and out[8].passed == 1, out[8]


def test_c4_line_dedup_keeps_first_occurrence_and_reassembles(spark):
    from mapreduce_chisquare_spark.operators.curation import c4_line_dedup

    a = "alpha bravo charlie delta"
    b = "echo foxtrot golf hotel"
    d = "india juliet kilo lima"
    docs = [
        (1, f"{a}\n{b}\nshort line here ok"),
        (2, f"{b}\n{d}"),          # b is a dupe of doc 1's line 1
        (3, f"{b}\ntwo words"),    # dupe + under-3-words: doc dies
        (4, "xx yy"),              # single short line: filtered out
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_line_dedup(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].clean_text == f"{a}\n{b}\nshort line here ok"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (3, 0)
    assert out[2].clean_text == d
    assert (out[2].n_lines_kept, out[2].n_lines_dropped) == (1, 1)


def test_dsir_importance_matches_python_reference_and_ranks_target_words(
    spark,
):
    import math
    from collections import Counter, defaultdict

    from mapreduce_chisquare_spark.operators.curation import dsir_importance

    from pyspark.sql import functions as F

    docs = [
        (1, "en", "alpha alpha alpha beta"),
        (2, "en", "alpha gamma alpha alpha"),
        (3, "xx", "beta beta gamma delta"),
        (4, "xx", "delta delta beta beta"),
        (5, "xx", "alpha alpha alpha alpha"),  # raw doc full of target words
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    out = [
        (r.doc_id, r.n_tokens, r.log_weight)
        for r in dsir_importance(df, F.col("lang") == "en", k=5).collect()
    ]

    # python reference of the exact contract (word-ordered fold)
    tcnt, rcnt = Counter(), Counter()
    per_doc = {}
    for doc_id, lang, text in docs:
        ws = text.split()
        per_doc[doc_id] = Counter(ws)
        rcnt.update(ws)
        if lang == "en":
            tcnt.update(ws)
    v = len(rcnt)
    tt, rt = sum(tcnt.values()), sum(rcnt.values())
    want = []
    for doc_id, cnts in per_doc.items():
        lw = 0.0
        for w in sorted(cnts):
            llr = math.log((tcnt[w] + 1.0) / (tt + float(v))) - math.log(
                (rcnt[w] + 1.0) / (rt + float(v))
            )
            lw = lw + cnts[w] * llr
        want.append((doc_id, sum(cnts.values()), lw))
    want.sort(key=lambda t: (-t[2], t[0]))
    assert out == want
    # the all-'alpha' doc must outrank the beta/delta docs
    ranks = [d for d, _, _ in out]
    assert ranks.index(5) < ranks.index(3) and ranks.index(5) < ranks.index(4)


def test_holt_matches_left_fold_and_single_point(spark):
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_forecast_holt,
    )

    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0, 12.0, 9.0, 20.0, 3.5, 14.25]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "x", v, "{}")
        for i, v in enumerate(vals)
    ]
    rows.append((99, t0, 2, "x", 7.25, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r.user_id: (r.n_points, r.level, r.trend, r.forecast_1)
        for r in ts_forecast_holt(df).collect()
    }
    l, b = vals[0], 0.0
    for x in vals[1:]:
        l2 = x * 0.3 + (l + b) * 0.7
        b = (x * 0.3 + (l + b) * 0.7 - l) * 0.2 + b * 0.8
        l = l2
    assert out[1] == (6, l, b, l + b)
    assert out[2] == (1, 7.25, 0.0, 7.25)


def test_resample_interpolate_exact_contract(spark):
    """Observations at 00:30 (v=10) and 03:30 (v=40): grid hours 0-3.
    Hour 0 precedes the first observation -> flat 10. Hours 1..3
    interpolate between the anchors at exact integer-µs ratios.
    Same-µs duplicate events collapse to max(value) before anchoring."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import (
        resample_interpolate,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=30), 7, "x", 10.0, "{}"),
        (2, t0 + dt.timedelta(minutes=30), 7, "x", 9.0, "{}"),  # same-µs tie
        (3, t0 + dt.timedelta(hours=3, minutes=30), 7, "x", 40.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r.hour_start: r.value_interp
        for r in resample_interpolate(df).collect()
    }
    base = int(t0.timestamp())
    us0 = (base + 1800) * 1_000_000
    us1 = (base + 3 * 3600 + 1800) * 1_000_000

    def lin(t_s):
        t = t_s * 1_000_000
        return 10.0 + (40.0 - 10.0) * (float(t - us0) / float(us1 - us0))

    assert out[base] == 10.0  # before first obs: flat next
    for k in (1, 2, 3):
        assert out[base + k * 3600] == lin(base + k * 3600)
    assert len(out) == 4


def test_kmv_merge_equals_direct_sketch_of_union(spark):
    """The mergeability law: k smallest over the union of per-group
    retained sets == k smallest over all distinct hashes, so the
    merged estimate equals the single-group sketch of the whole
    stream EXACTLY."""
    from mapreduce_chisquare_spark.operators.sketches import (
        kmv_distinct,
        kmv_kept,
        kmv_merge,
    )

    rows = [(f"t{i % 7}", i * 31 % 4001) for i in range(12000)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    merged = kmv_merge(
        kmv_kept(df, "user_id", "event_type", k=64), k=64
    ).collect()[0]
    direct = kmv_distinct(
        df.selectExpr("'all' AS g", "user_id"), "user_id", "g", k=64
    ).collect()[0]
    assert merged.kmv_distinct == direct.kmv_distinct
    assert merged.k_used == direct.k_used == 64
    assert merged.n_groups == 7


def test_stream_gopher_screen_equals_batch(spark, sf_dir):
    """availableNow over the multi-file fixture must reproduce the
    batch operator's rows exactly — same code path, same values."""
    from mapreduce_chisquare_spark.operators.textstats import (
        quality_gopher_rules,
    )
    from mapreduce_chisquare_spark.sources.readers import scan_parquet
    from mapreduce_chisquare_spark.streaming.curation import (
        gopher_screen_stream,
    )

    got = sorted(
        tuple(r) for r in gopher_screen_stream(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in quality_gopher_rules(
            scan_parquet(spark, sf_dir, "documents")
        ).collect()
    )
    assert got == want


def test_kmv_ignores_null_keys(spark):
    """NULL keys hash to NULL and are excluded on BOTH engines —
    Spark sorts NULL first and DuckDB last, so a retained NULL would
    diverge the sketch; the contract drops them before ranking."""
    from mapreduce_chisquare_spark.operators.sketches import kmv_distinct

    rows = [("t", i) for i in range(30)] + [("t", None)] * 5
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = kmv_distinct(df, "user_id", "event_type", k=64).collect()
    assert [(r.kmv_distinct, r.k_used) for r in out] == [(30.0, 30)]


def test_pagerank_empty_edges_returns_empty(spark):
    from mapreduce_chisquare_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "src string, dst string")
    out = pagerank(df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank_fp"]


def _py_ppr(edges, seeds, iterations=10, scale=None):
    from mapreduce_chisquare_spark.operators.graph import PR_SCALE

    scale = scale or PR_SCALE
    edges = sorted(set(edges))
    seeds = sorted(set(seeds))
    nodes = sorted(
        {u for u, _ in edges} | {v for _, v in edges} | set(seeds)
    )
    ns = len(seeds)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (scale * 15) // (100 * ns)
    r = {v: (scale // ns if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        inc = dict.fromkeys(nodes, 0)
        for u, v in edges:
            inc[v] += r[u] // outdeg[u]
        dang = sum(r[v] for v in nodes if v not in outdeg) // ns
        r = {
            v: (base + (85 * dang) // 100 if v in seeds else 0)
            + (85 * inc[v]) // 100
            for v in nodes
        }
    return r


def test_personalized_pagerank_matches_python_and_localizes_mass(spark):
    """Ranks equal the Python reference bit-for-bit; nodes
    unreachable from the seeds stay at exactly 0 (the PPR locality
    property); a seed absent from the edge list still carries restart
    mass; total mass never exceeds scale."""
    from mapreduce_chisquare_spark.operators.graph import (
        personalized_pagerank,
    )
    from mapreduce_chisquare_spark.operators.graph import PR_SCALE

    a = [("a1", "a2"), ("a2", "a3"), ("a3", "a1")]
    b = [("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    bridge = [("a1", "b1")]
    iso = [("z1", "z2")]  # unreachable from seeds
    edges = a + b + bridge + iso
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.rank_fp
        for r in personalized_pagerank(df, ["a1"]).collect()
    }
    want = _py_ppr(edges, ["a1"])
    assert got == want
    assert got["z1"] == 0 and got["z2"] == 0
    assert sum(got.values()) <= PR_SCALE
    # seed absent from the graph still carries restart mass
    got2 = {
        r.node: r.rank_fp
        for r in personalized_pagerank(df, ["ghost"]).collect()
    }
    assert got2 == _py_ppr(edges, ["ghost"])
    assert got2["ghost"] > 0


def test_collocations_pmi_matches_python_reference(spark):
    import math
    from collections import Counter

    from mapreduce_chisquare_spark.operators.textstats import (
        collocations_pmi,
    )

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {
        (r.w1, r.w2): (r.pair_cnt, r.pmi)
        for r in collocations_pmi(docs, min_count=1, k=10).collect()
    }
    bc = Counter([("a", "b"), ("b", "c"), ("c", "a"), ("a", "b"), ("b", "c")])
    lc, rc = Counter(), Counter()
    for (a, b), c in bc.items():
        lc[a] += c
        rc[b] += c
    want = {
        p: (c, math.log(5.0 * c / (lc[p[0]] * rc[p[1]])))
        for p, c in bc.items()
    }
    assert out == want
    # min_count prunes rare pairs BEFORE scoring
    assert collocations_pmi(docs, min_count=3, k=10).count() == 0


def test_skipgram_cooc_matches_python_reference(spark):
    from collections import Counter

    from mapreduce_chisquare_spark.operators.textstats import skipgram_cooc

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {
        (r.center, r.context): r.pair_cnt
        for r in skipgram_cooc(docs, window=2, k=100).collect()
    }
    ref = Counter()
    for t in (["a", "b", "c", "a", "b"], ["b", "c"]):
        for i, w in enumerate(t):
            for o in (-2, -1, 1, 2):
                if 0 <= i + o < len(t):
                    ref[(w, t[i + o])] += 1
    assert out == dict(ref)


def test_events_retention_matrix_exact(spark):
    """Users u1,u2 start week 0; u1 returns weeks 1 and 3, u2 week 1.
    u3 starts week 2 (its own cohort). Matrix and retention fractions
    are exact."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.warehouse import (
        events_retention,
    )

    wk = 7 * 24 * 3600
    t0 = dt.datetime(1970, 1, 1)  # aligned to epoch-week boundaries

    def ev(eid, user, week, sec=0):
        return (
            eid,
            t0 + dt.timedelta(seconds=week * wk + sec),
            user,
            "x",
            1.0,
            "{}",
        )

    rows = [
        ev(1, 1, 0), ev(2, 1, 0, 60), ev(3, 1, 1), ev(4, 1, 3),
        ev(5, 2, 0), ev(6, 2, 1),
        ev(7, 3, 2),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        (r.cohort_week, r.weeks_since): (r.n_users, r.retention)
        for r in events_retention(df).collect()
    }
    assert out == {
        (0, 0): (2, 1.0),
        (0, 1): (2, 1.0),
        (0, 3): (1, 0.5),
        (2, 0): (1, 1.0),
    }


def test_basket_rules_exact_on_planted_k4(spark):
    """On the pure K4 plant (4 orders over parts 1-4, every pair
    support 2, every item support 3, N=4): confidence = 2/3 and
    lift = 4*2/(3*3) for all 12 ordered rules."""
    from mapreduce_chisquare_spark.operators.graph import basket_rules

    rows = [(o, p) for o, p in (
        (1, 1), (1, 2), (1, 3),
        (2, 1), (2, 2), (2, 4),
        (3, 1), (3, 3), (3, 4),
        (4, 2), (4, 3), (4, 4),
    )]
    df = spark.createDataFrame(rows, "o_key long, p_key long")
    out = [
        (r.antecedent, r.consequent, r.pair_supp, r.confidence, r.lift)
        for r in basket_rules(df, min_support=2, k=50).collect()
    ]
    assert len(out) == 12
    want_conf = 2.0 / 3.0
    want_lift = 4.0 * 2.0 / (3.0 * 3.0)
    assert all(
        (s, c, l) == (2, want_conf, want_lift) for _, _, s, c, l in out
    )
    # deterministic order: lift ties broken by (antecedent, consequent)
    assert [(a, b) for a, b, *_ in out] == sorted(
        (a, b) for a in range(1, 5) for b in range(1, 5) if a != b
    )


def test_ts_acf_matches_python_and_excludes_degenerates(spark):
    """Sawtooth series: lag-1/2/3 ACF equals the exact-integer Python
    reference bit-for-bit; a 2-point series (no lag fits) and a
    constant series (zero variance) are excluded without erroring
    under ANSI mode."""
    import datetime as dt
    import math

    from mapreduce_chisquare_spark.operators.timeseries import ts_acf

    t0 = dt.datetime(2024, 1, 1)
    saw = [1, 2, 3, 4, 5, 4, 3, 2, 1, 2, 3, 4, 5, 4, 3, 2]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "x", float(v), "{}")
        for i, v in enumerate(saw)
    ]
    rows += [
        (100, t0, 2, "x", 5.0, "{}"),
        (101, t0 + dt.timedelta(minutes=1), 2, "x", 7.0, "{}"),
    ]
    rows += [
        (200 + i, t0 + dt.timedelta(minutes=i), 3, "x", 4.0, "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    got = {(r.user_id, r.lag): (r.n_pairs, r.acf) for r in ts_acf(df).collect()}

    def ref(vals, lag):
        m = len(vals) - lag
        xs, ys = vals[:m], vals[lag:]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        da, db = m * sxx - sx * sx, m * syy - sy * sy
        return m, (m * sxy - sx * sy) / (math.sqrt(da) * math.sqrt(db))

    cents = [100 * v for v in saw]
    assert set(got) == {(1, 1), (1, 2), (1, 3)}
    for L in (1, 2, 3):
        assert got[(1, L)] == ref(cents, L)
