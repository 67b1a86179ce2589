"""Round-12 operator contracts: fixed-point HITS, cumulative reach,
referential integrity, trigram stupid backoff, sentence stats, URL
canonicalization, and the decoded block-mean thumbnail — each
validated against a plain-Python model or a planted-edge-case
fixture."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators import multimodal as mm
from mapreduce_chisquare_spark.operators.curation import (
    canonicalize_url,
    dedup_url_groups,
)
from mapreduce_chisquare_spark.operators.graph import (
    HITS_ITERATIONS,
    HITS_SCALE,
    hits,
)
from mapreduce_chisquare_spark.operators.textstats import (
    lm_stupid_backoff_score,
    sentence_stats,
)
from mapreduce_chisquare_spark.operators.warehouse import (
    cumulative_reach,
    referential_integrity,
)


# ---------------------------------------------------------------------
# hits
# ---------------------------------------------------------------------

def _hits_model(edges, iterations=HITS_ITERATIONS, scale=HITS_SCALE):
    """Literal replay of the documented integer contract."""
    es = sorted(set(edges))
    nodes = sorted({u for u, _ in es} | {v for _, v in es})
    n = len(nodes)
    h = {v: scale // n for v in nodes}
    a = {v: 0 for v in nodes}

    def half(mass, out_idx):
        raw = {v: 0 for v in nodes}
        for u, v in es:
            src, dst = (u, v) if out_idx == 0 else (v, u)
            raw[dst] += mass[src]
        total = sum(raw.values())
        d = max(total // scale, 1)
        return {v: raw[v] // d for v in nodes}

    for _ in range(iterations):
        a = half(h, 0)
        h = half(a, 1)
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_matches_integer_model(spark):
    edges = [(1, 3), (2, 3), (3, 4), (1, 4), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: (r.hub_fp, r.auth_fp) for r in hits(df).collect()
    }
    assert got == _hits_model(edges)


def test_hits_pure_hub_and_pure_authority(spark):
    # star: 1..3 -> 9; sources have auth 0, the sink has hub 0
    edges = [(1, 9), (2, 9), (3, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.hub_fp, r.auth_fp) for r in hits(df).collect()}
    assert got[9][0] == 0 and got[9][1] > 0
    for s in (1, 2, 3):
        assert got[s][1] == 0 and got[s][0] > 0
    assert got[1] == got[2] == got[3]  # symmetric sources tie exactly


# ---------------------------------------------------------------------
# cumulative_reach
# ---------------------------------------------------------------------

def _ts(day, sec=0):
    return datetime.datetime(2024, 1, day, 0, 0, sec)


def test_cumulative_reach_first_touch_decomposition(spark):
    rows = [
        # user 10: first on day 1, returns day 2 (no new reach)
        (1, _ts(1), 10, "click", 0.0),
        (2, _ts(2), 10, "click", 0.0),
        # user 11 first on day 2; user 12 first on day 2 (two events)
        (3, _ts(2), 11, "click", 0.0),
        (4, _ts(2, 5), 12, "click", 0.0),
        (5, _ts(2, 6), 12, "click", 0.0),
        # other type: independent reach
        (6, _ts(1), 10, "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    got = {
        (r.event_type, r.day_us): (r.n_events, r.new_users, r.cum_users)
        for r in cumulative_reach(ev).collect()
    }
    d1 = int(_ts(1).timestamp() * 1_000_000) // 86_400_000_000
    d2 = int(_ts(2).timestamp() * 1_000_000) // 86_400_000_000
    assert got[("click", d1)] == (1, 1, 1)
    assert got[("click", d2)] == (4, 2, 3)  # 10 returns, 11+12 new
    assert got[("view", d1)] == (1, 1, 1)


def test_cumulative_reach_same_ts_tie_is_deterministic(spark):
    # two first-touches at the identical timestamp: event_id breaks
    # the tie, and either way the DAY attribution is stable
    rows = [
        (2, _ts(1), 7, "click", 0.0),
        (1, _ts(1), 7, "click", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    out = cumulative_reach(ev).collect()
    assert len(out) == 1
    assert (out[0].n_events, out[0].new_users) == (2, 1)


# ---------------------------------------------------------------------
# referential_integrity
# ---------------------------------------------------------------------

def test_referential_integrity_counts_orphans_and_null_fks(spark):
    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    out = referential_integrity(
        [("c->p", child, "fk", parent, "pk")]
    ).collect()
    assert len(out) == 1
    r = out[0]
    # 99 is an orphan; the NULL FK is a dangling reference too
    assert (r.relationship, r.n_child, r.n_orphans) == ("c->p", 5, 2)
    assert r.orphan_rate == 2 / 5


# ---------------------------------------------------------------------
# lm_stupid_backoff_score
# ---------------------------------------------------------------------

def test_stupid_backoff_levels_and_scores(spark):
    import math

    # train doc 0: "a b c a b d"; scored doc 1 exercises all levels:
    #   "a b c" seen trigram        -> level 0: c123/c12
    #   "b c x" unseen tri, "c x" unseen bigram with seen w3? no:
    #   pick explicit cases below
    docs = [
        (0, "a b c a b d"),
        (1, "a b c"),      # seen trigram
        (11, "z b c"),     # unseen tri (z,b,c); bigram (b,c) seen
        (21, "z z d"),     # unseen tri+bigram; d seen as w3
        (31, "z z q"),     # q never seen anywhere -> add-one floor
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in lm_stupid_backoff_score(df).collect()
    }
    # train trigrams: (a,b,c), (b,c,a), (c,a,b), (a,b,d)
    # c123(a,b,c)=1, c12(a,b)=2 -> S = 1/2
    assert got[1].n_trigrams == 1 and got[1].n_bo1 == 0
    assert abs(got[1].avg_logprob - math.log(0.5)) < 1e-12
    # c23(b,c)=1, c2(b)=2 -> S = 0.4 * 1/2
    assert got[11].n_bo1 == 1 and got[11].n_bo2 == 0
    assert abs(got[11].avg_logprob - math.log(0.4 * 0.5)) < 1e-12
    # T=4 trigram tokens, V=|{c,a,b,d}|=4; c3(d)=1
    assert got[21].n_bo2 == 1
    assert abs(
        got[21].avg_logprob - math.log(0.16 * (1 + 1) / (4 + 4 + 1))
    ) < 1e-12
    # OOV floor: c3(q)=0
    assert abs(
        got[31].avg_logprob - math.log(0.16 * 1 / (4 + 4 + 1))
    ) < 1e-12
    # a 2-token doc yields no row
    short = spark.createDataFrame(
        [(0, "a b c"), (5, "x y")], "doc_id long, text string"
    )
    assert 5 not in {
        r.doc_id for r in lm_stupid_backoff_score(short).collect()
    }


# ---------------------------------------------------------------------
# sentence_stats
# ---------------------------------------------------------------------

def test_sentence_stats_terminator_runs_and_trim(spark):
    docs = [
        (1, "One two. Three!!  Four five six?"),
        (2, "no terminator at all"),
        (3, "...!!!"),  # only terminators -> zero sentences, no row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in sentence_stats(df).collect()}
    # "One two" (7), "Three" (5), "Four five six" (13)
    assert got[1].n_sentences == 3
    assert got[1].total_chars == 25
    assert got[1].max_sentence_chars == 13
    assert got[1].avg_sentence_chars == 25 / 3
    assert got[2].n_sentences == 1
    assert 3 not in got


# ---------------------------------------------------------------------
# canonicalize_url / dedup_url_groups
# ---------------------------------------------------------------------

def test_canonicalize_url_rules(spark):
    cases = [
        ("https://example.com/a", "https://example.com/a"),
        ("HTTPS://WWW.EXAMPLE.COM/a/", "https://example.com/a"),
        ("https://example.com:443/a#frag", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        # NON-default port is a different authority - preserved
        ("http://example.com:443/a", "http://example.com:443/a"),
        ("https://example.com/a?utm_source=x", "https://example.com/a"),
        (
            "https://example.com/a?b=2&a=1&gclid=z",
            "https://example.com/a?a=1&b=2",
        ),
        ("https://example.com", "https://example.com/"),
        # path case is preserved; host case is not
        ("https://EXAMPLE.com/CaseSensitive", "https://example.com/CaseSensitive"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)],
        "doc_id long, url string",
    )
    got = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", canonicalize_url("url").alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_dedup_url_groups_survivor_rule(spark):
    rows = [
        (5, "https://example.com/x"),
        (3, "HTTPS://WWW.EXAMPLE.COM/x/"),
        (9, "https://other.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = dedup_url_groups(df).collect()
    assert len(out) == 1
    assert (out[0].canon_url, out[0].n_dups, out[0].keep_id) == (
        "https://example.com/x",
        2,
        3,
    )


# ---------------------------------------------------------------------
# image_thumbnail_decoded
# ---------------------------------------------------------------------

def _thumb_model(doc_id, t=mm.THUMB_T):
    w, h, ctype, rows = mm.synth_png_pixels(doc_id)
    if ctype == 0:
        gray = rows
    else:
        gray = [
            [(299 * p[0] + 587 * p[1] + 114 * p[2]) // 1000 for p in row]
            for row in rows
        ]
    sums = {}
    for r in range(h):
        for c in range(w):
            k = ((r * t) // h, (c * t) // w)
            s, n = sums.get(k, (0, 0))
            sums[k] = (s + gray[r][c], n + 1)
    return (
        w,
        h,
        ",".join(
            str(sums[(i, j)][0] // sums[(i, j)][1])
            for i in range(t)
            for j in range(t)
        ),
    )


def test_image_thumbnail_decoded_matches_ground_truth(spark):
    ids = [0, 1, 2, 7, 12]  # all color types, several dims/filters
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = mm.synth_media(docs, mm.synth_png)
    got = {
        r.doc_id: (r.w, r.h, r.thumb)
        for r in mm.image_thumbnail_decoded(media).collect()
    }
    for i in ids:
        assert got[i] == _thumb_model(i), i


# ---------------------------------------------------------------------
# HLL distinct sketch
# ---------------------------------------------------------------------

def _hll_model(keys):
    import hashlib

    from mapreduce_chisquare_spark.operators.sketches import (
        HLL_M,
        HLL_W_BITS,
    )

    regs = [0] * HLL_M
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        idx, w = h >> HLL_W_BITS, h % (1 << HLL_W_BITS)
        rho = (
            HLL_W_BITS + 1 if w == 0 else HLL_W_BITS - w.bit_length() + 1
        )
        regs[idx] = max(regs[idx], rho)
    return regs


def test_hll_registers_match_md5_model(spark):
    from mapreduce_chisquare_spark.operators.sketches import (
        hll_registers,
    )

    keys = list(range(1, 300))
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r.idx: r.m_j for r in hll_registers(df, "k").collect()
    }
    want = _hll_model(keys)
    assert [got[i] for i in range(len(want))] == want


def test_hll_linear_counting_small_range(spark):
    import math

    from mapreduce_chisquare_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame([(k,) for k in range(5)], "k long")
    r = hll_estimate(hll_registers(df, "k")).collect()[0]
    v = r.zero_registers
    assert 0 < v < HLL_M
    assert r.hll_estimate == HLL_M * math.log(HLL_M / v)
    # lc estimate of 5 distinct should be in the right ballpark
    assert 2 <= r.hll_estimate <= 10


def test_hll_merge_equals_single_pass(spark):
    from mapreduce_chisquare_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    rows = [(k, k % 7) for k in range(500)]
    df = spark.createDataFrame(rows, "k long, shard long")
    single = hll_estimate(hll_registers(df, "k")).collect()[0]
    merged = hll_estimate(
        hll_merge(hll_registers(df, "k", shard_col="shard"))
    ).collect()[0]
    assert single == merged


# ---------------------------------------------------------------------
# audio_downsample
# ---------------------------------------------------------------------

def test_audio_downsample_matches_sample_model(spark):
    k = mm.AUDIO_DS_FACTOR
    ids = [0, 3, 4]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        (r.doc_id, r.out_idx): r.v
        for r in mm.audio_downsample(docs).collect()
    }
    for i in ids:
        s = mm.synth_wav_samples(i)
        for j in range(len(s) // k):
            tot = sum(s[j * k : (j + 1) * k])
            want = int(tot / k) if tot >= 0 else -((-tot) // k)
            assert got[(i, j)] == want, (i, j)
    assert len(got) == sum(len(mm.synth_wav_samples(i)) // k for i in ids)


# ---------------------------------------------------------------------
# ts_lead_lag
# ---------------------------------------------------------------------

def test_ts_lead_lag_detects_planted_shift(spark):
    # b's daily counts = a's shifted one day later -> best_lag = +1,
    # corr exactly 1.0 over the overlapping support
    rows = []
    eid = 0
    pattern = [1, 5, 2, 7, 3, 6, 4]
    for d, c in enumerate(pattern):
        for _ in range(c):
            eid += 1
            rows.append((eid, _ts(d + 1), 1, "a", 0.0))
        for _ in range(c):
            eid += 1
            rows.append((eid, _ts(d + 2), 1, "b", 0.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_lead_lag,
    )

    out = {
        (r.type_a, r.type_b): (r.best_lag, r.corr)
        for r in ts_lead_lag(ev).collect()
    }
    lag, corr = out[("a", "b")]
    assert lag == 1
    assert abs(corr - 1.0) < 1e-12


# ---------------------------------------------------------------------
# quantile_bucketize
# ---------------------------------------------------------------------

def test_quantile_bucketize_exact_and_tie_stable(spark):
    from mapreduce_chisquare_spark.operators.warehouse import (
        quantile_bucketize,
    )

    # 16 rows, heavy tie on value 5 (6 copies) — all ties share one
    # bucket; bucket of v = least(b-1, below*b div n)
    vals = [1, 1, 2, 3, 5, 5, 5, 5, 5, 5, 8, 9, 10, 11, 12, 13]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = {r.bucket: (r.n_rows, r.lo, r.hi)
           for r in quantile_bucketize(df, "v", b=4).collect()}
    n = len(vals)
    import collections

    model = collections.defaultdict(lambda: [0, None, None])
    below = {}
    for v in sorted(set(vals)):
        below[v] = sum(1 for x in vals if x < v)
    for v in vals:
        bkt = min(3, below[v] * 4 // n)
        m = model[bkt]
        m[0] += 1
        m[1] = v if m[1] is None else min(m[1], v)
        m[2] = v if m[2] is None else max(m[2], v)
    assert out == {k: tuple(v) for k, v in model.items()}
    assert sum(r[0] for r in out.values()) == n


# ---------------------------------------------------------------------
# dq_freshness
# ---------------------------------------------------------------------

def test_dq_freshness_staleness_is_data_derived(spark):
    from mapreduce_chisquare_spark.operators.warehouse import (
        dq_freshness,
    )

    rows = [
        (1, _ts(1), 1, "a", 0.0),
        (2, _ts(5), 1, "a", 0.0),   # a last seen day 5
        (3, _ts(3), 1, "b", 0.0),   # b last seen day 3 -> 2 stale
        (4, _ts(5), 1, "c", 0.0),   # c fresh
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    got = {
        r.event_type: (r.n_events, r.staleness_days)
        for r in dq_freshness(ev).collect()
    }
    assert got == {"a": (2, 0), "b": (1, 2), "c": (1, 0)}


# ---------------------------------------------------------------------
# stream_url_screen
# ---------------------------------------------------------------------

@pytest.mark.slow  # ~2.5 min of streaming trigger wall-clock
def test_stream_url_screen_classifies_against_static_index(
    spark, sf_dir
):
    """The streaming screen must equal its row-local batch twin: a
    page is known iff an even-doc page canonicalizes to the same
    URL. Page groups are 3 consecutive ids, so every group holds at
    least one even id and ODD pages sharing the group canon are
    known — spot-check the first two groups."""
    from mapreduce_chisquare_spark.streaming.urls import (
        url_screen_stream,
    )

    out = {
        r.doc_id: (r.canon_url, r.is_known)
        for r in url_screen_stream(spark, sf_dir).collect()
    }
    # group 0 (ids 0,1,2; m = 0,1,2): all canonicalize to p0 base;
    # id 0 is even -> every member known
    assert out[1][0] == "https://example.com/docs/p0"
    assert out[1][1] and out[2][1]
    # group 1 (ids 3,4,5): id 3 -> base canon; no EVEN doc maps to
    # base-p1 (4 is the only even member and it carries the query) —
    # so 3 is unknown while 5 (query canon, shared with even 4) is
    assert out[3] == ("https://example.com/docs/p1", False)
    assert out[5] == ("https://example.com/docs/p1?a=1&b=2", True)


# ---------------------------------------------------------------------
# blocking_pairs_lsh
# ---------------------------------------------------------------------

def test_er_lsh_blocking_recovers_clone_without_equality_key(spark):
    """A dirty clone (one char dropped) must be recovered through
    MinHash band buckets alone — no equality blocking key exists —
    while unrelated high-entropy names produce no candidate pair."""
    import hashlib

    from mapreduce_chisquare_spark.operators.linkage import (
        blocking_pairs_lsh,
    )

    names = {
        i: hashlib.md5(str(i).encode()).hexdigest()[:12]
        for i in range(1, 30)
    }
    rows = [(i, nm) for i, nm in names.items()]
    rows.append((1001, names[7][:11]))   # clone of 7, distance 1
    df = spark.createDataFrame(rows, "rid long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in blocking_pairs_lsh(df, "rid", "name").collect()
    }
    assert got == {(7, 1001): 1}


def test_hll_intersection_inclusion_exclusion(spark):
    """Overlap estimate must be exactly |A| + |B| - |A ∪ B| of the
    three HLL estimates, and roughly track the true overlap."""
    from mapreduce_chisquare_spark.operators.sketches import (
        hll_intersection,
    )

    a = spark.range(0, 2000).select(F.col("id").alias("k"))
    b = spark.range(1000, 3000).select(F.col("id").alias("k"))
    r = hll_intersection(a, b, "k").collect()[0]
    assert abs(
        r.est_intersection - max(0.0, r.est_a + r.est_b - r.est_union)
    ) < 1e-9
    # true overlap 1000; HLL m=64 union error compounds — wide band
    assert 200 <= r.est_intersection <= 2500


def test_lm_jm_interpolation_arms(spark):
    import math

    from mapreduce_chisquare_spark.operators.textstats import (
        JM_LAMBDA,
        lm_jm_bigram_score,
    )

    # train doc 0: "a b a c"; bigrams (a,b),(b,a),(a,c)
    # c12: each 1; c1: a=2, b=1; c2: b=1, a=1, c=1; T=3, V=3
    docs = [(0, "a b a c"), (1, "a b"), (11, "z z")]
    got = {
        r.doc_id: r
        for r in lm_jm_bigram_score(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    lam, om = JM_LAMBDA, 1.0 - JM_LAMBDA
    # seen bigram (a,b): 0.7*(1/2) + 0.3*((1+1)/(3+3+1))
    want1 = math.log(lam * (1 / 2) + om * ((1 + 1) / 7))
    assert got[1].n_unseen == 0
    assert abs(got[1].avg_logprob - want1) < 1e-12
    # unseen bigram (z,z): ML arm 0, unigram arm floor (c2(z)=0)
    want11 = math.log(om * (0 + 1) / 7)
    assert got[11].n_unseen == 1
    assert abs(got[11].avg_logprob - want11) < 1e-12


def test_er_clusters_lsh_total_map_and_canonical_ids(spark):
    """Clusters over the LSH match graph: every input id gets a row
    (total map), clone pairs share the base id as canonical, and
    unmatched records are their own singletons."""
    import hashlib

    from mapreduce_chisquare_spark.operators.linkage import (
        blocking_pairs_lsh,
        match_clusters,
    )

    names = {
        i: hashlib.md5(str(i).encode()).hexdigest()[:12]
        for i in range(1, 20)
    }
    rows = [(i, nm) for i, nm in names.items()]
    rows.append((1001, names[7][:11]))
    df = spark.createDataFrame(rows, "rid long, name string")
    pairs = blocking_pairs_lsh(df, "rid", "name")
    got = {
        r.entity_id: r.cluster_id
        for r in match_clusters(pairs, records=df, id_col="rid").collect()
    }
    assert len(got) == 20            # total over all input ids
    assert got[7] == 7 and got[1001] == 7
    assert all(got[i] == i for i in names if i != 7)
