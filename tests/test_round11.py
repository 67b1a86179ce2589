"""Round-11 fourth-batch operator contracts: CDC merge apply,
last-touch attribution, bounded inverted index, audio energy
segmentation, and video shot-boundary detection — each validated
against a plain-Python model or a planted-edge-case fixture."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators import imagehash as ih
from mapreduce_chisquare_spark.operators import multimodal as mm
from mapreduce_chisquare_spark.operators.textstats import inverted_index
from mapreduce_chisquare_spark.operators.warehouse import (
    cdc_apply,
    events_attribution,
)


# ---------------------------------------------------------------------
# cdc_apply
# ---------------------------------------------------------------------

def test_cdc_apply_latest_change_wins(spark):
    """A superseded change must never apply: key 1 gets U(seq1) then
    D(seq2) then U(seq3) — only the last U survives; key 2's D
    removes it; key 3 is untouched; key 4 is a pure insert."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    changes = spark.createDataFrame(
        [
            (1, 11, "U", 1),
            (1, None, "D", 2),
            (1, 13, "U", 3),
            (2, None, "D", 1),
            (4, 44, "I", 1),
        ],
        "k long, v long, op string, seq long",
    )
    got = {r.k: r.v for r in cdc_apply(base, changes).collect()}
    assert got == {1: 13, 3: 30, 4: 44}


def test_cdc_apply_delete_of_missing_key_is_noop(spark):
    base = spark.createDataFrame([(1, 10)], "k long, v long")
    changes = spark.createDataFrame(
        [(9, None, "D", 1)], "k long, v long, op string, seq long"
    )
    got = {r.k: r.v for r in cdc_apply(base, changes).collect()}
    assert got == {1: 10}


# ---------------------------------------------------------------------
# events_attribution
# ---------------------------------------------------------------------

def _ts(s: int):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def test_events_attribution_edge_cases(spark):
    """Last preceding touch wins; a purchase never credits another
    purchase; a touch older than the lookback yields NULL; a
    same-timestamp touch counts only when its event_id precedes."""
    day = 86400
    rows = [
        # user 1: click → view → purchase: credits the view (latest)
        (101, 1, "click", 0.0, _ts(0)),
        (102, 1, "view", 0.0, _ts(10)),
        (103, 1, "purchase", 9.0, _ts(20)),
        # ...and a second purchase right after: credits the view too
        # (the first purchase is skipped — conversions aren't touches)
        (104, 1, "purchase", 7.0, _ts(30)),
        # user 2: touch 8 days before purchase → out of lookback
        (201, 2, "click", 0.0, _ts(0)),
        (202, 2, "purchase", 5.0, _ts(8 * day)),
        # user 3: same-timestamp tie — touch id 301 < conv id 302
        # counts; touch id 304 > conv id 303 does not
        (301, 3, "view", 0.0, _ts(100)),
        (302, 3, "purchase", 1.0, _ts(100)),
        (303, 3, "purchase", 2.0, _ts(200)),
        (304, 3, "click", 0.0, _ts(200)),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, "
        "value double, ts timestamp",
    )
    got = {
        r.conv_id: (r.touch_id, r.touch_type)
        for r in events_attribution(ev).collect()
    }
    assert got == {
        103: (102, "view"),
        104: (102, "view"),
        202: (None, None),
        302: (301, "view"),
        303: (301, "view"),
    }


# ---------------------------------------------------------------------
# inverted_index
# ---------------------------------------------------------------------

def test_inverted_index_counts_and_bounded_postings(spark):
    docs = spark.createDataFrame(
        [(2, "apple banana apple"), (10, "apple cherry"), (1, "apple")],
        "doc_id long, text string",
    )
    got = {
        r.term: (r.df, r.cf, r.postings)
        for r in inverted_index(docs, max_postings=2).collect()
    }
    # postings sort NUMERICALLY (1,2,10 — not "1","10","2") and cap
    # at max_postings while df/cf still count everything
    assert got["apple"] == (3, 4, "1,2")
    assert got["banana"] == (1, 1, "2")
    assert got["cherry"] == (1, 1, "10")


def test_inverted_index_topk_orders_by_df_then_term(spark):
    docs = spark.createDataFrame(
        [(1, "b a"), (2, "b a"), (3, "b z")], "doc_id long, text string"
    )
    rows = inverted_index(docs, k=2).collect()
    assert [r.term for r in rows] == ["b", "a"]


# ---------------------------------------------------------------------
# audio_energy_segments vs plain-Python model
# ---------------------------------------------------------------------

def _py_segments(doc_id: int):
    samples = mm.synth_wav_samples(doc_id)
    energies = [
        sum(
            abs(s)
            for s in samples[f * mm.AUDIO_FRAME : (f + 1) * mm.AUDIO_FRAME]
        )
        for f in range(len(samples) // mm.AUDIO_FRAME)
    ]
    segs, start = [], None
    for f, e in enumerate(energies + [0]):  # sentinel closes last run
        active = e >= mm.AUDIO_ACTIVE_ENERGY
        if active and start is None:
            start = f
        elif not active and start is not None:
            span = energies[start:f]
            segs.append((start, f - 1, len(span), sum(span)))
            start = None
    return segs


def test_audio_energy_segments_match_python_model(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    got = {}
    for r in mm.audio_energy_segments(docs).collect():
        got.setdefault(r.doc_id, []).append(
            (r.seg_start, r.seg_end, r.n_frames, r.total_energy)
        )
    for d in range(12):
        assert sorted(got.get(d, [])) == sorted(_py_segments(d)), d


# ---------------------------------------------------------------------
# video_shot_boundaries vs plain-Python model
# ---------------------------------------------------------------------

def _py_frame_bits(doc_id: int, f: int):
    w, h, frames = mm.synth_avi_frames_pixels(doc_id)
    bits = []
    for rr in range(ih.GRID_R):
        pr = rr * (h - 1) // (ih.GRID_R - 1)
        for cc in range(ih.GRID_C):
            a = frames[f][pr][cc * (w - 1) // ih.GRID_C]
            b = frames[f][pr][(cc + 1) * (w - 1) // ih.GRID_C]
            bits.append(1 if a > b else 0)
    return bits


def test_video_shot_boundaries_match_python_model(spark):
    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    media = mm.synth_media(docs, mm.synth_avi_frames)
    got = {
        (r.doc_id, r.frame_idx): (r.dist, r.is_boundary)
        for r in ih.video_shot_boundaries(media).collect()
    }
    want = {}
    for d in range(9):
        nf = 2 + d % 3
        for f in range(1, nf):
            a, b = _py_frame_bits(d, f - 1), _py_frame_bits(d, f)
            dist = sum(x != y for x, y in zip(a, b))
            want[(d, f)] = (dist, dist >= ih.SHOT_THRESHOLD)
    assert got == want


# ---------------------------------------------------------------------
# label_propagation vs plain-Python model
# ---------------------------------------------------------------------

def _py_lpa(edge_list, iterations=3):
    sym = set()
    for lo, hi in edge_list:
        if lo != hi:
            sym.add((lo, hi))
            sym.add((hi, lo))
    nodes = sorted({a for a, _ in sym})
    lbl = {n: n for n in nodes}
    for _ in range(iterations):
        new = {}
        for n in nodes:
            freq = {}
            for a, b in sym:
                if a == n:
                    freq[lbl[b]] = freq.get(lbl[b], 0) + 1
            new[n] = min(
                freq, key=lambda v: (-freq[v], v)
            )
        lbl = new
    return lbl


def test_label_propagation_matches_python_model(spark):
    """Two 4-cliques joined by one bridge edge: LPA must keep the
    cliques in distinct communities and agree with the synchronous
    plain-Python model node for node."""
    from mapreduce_chisquare_spark.operators.graph import (
        label_propagation,
    )

    clique1 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    clique2 = [(11, 12), (11, 13), (11, 14), (12, 13), (12, 14),
               (13, 14)]
    bridge = [(4, 11)]
    edges = clique1 + clique2 + bridge
    df = spark.createDataFrame(edges, "lo long, hi long")
    got = {
        r.node: r.community for r in label_propagation(df).collect()
    }
    assert got == _py_lpa(edges)
    # the clique interiors never cross the bridge
    assert len({got[n] for n in (1, 2, 3)}) == 1
    assert len({got[n] for n in (12, 13, 14)}) == 1
    assert got[1] != got[12]


# ---------------------------------------------------------------------
# events_markov_transitions
# ---------------------------------------------------------------------

def test_events_markov_transitions_counts_and_probs(spark):
    rows = [
        # user 1: view -> click -> view   (ties broken by event_id)
        (1, 1, "view", 0.0, _ts(0)),
        (2, 1, "click", 0.0, _ts(10)),
        (3, 1, "view", 0.0, _ts(20)),
        # user 2: view -> purchase; purchase is user 2's last event
        (4, 2, "view", 0.0, _ts(0)),
        (5, 2, "purchase", 1.0, _ts(10)),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, "
        "value double, ts timestamp",
    )
    from mapreduce_chisquare_spark.operators.warehouse import (
        events_markov_transitions,
    )

    got = {
        (r.from_type, r.to_type): (r.n, r.prob)
        for r in events_markov_transitions(ev).collect()
    }
    assert got == {
        ("view", "click"): (1, 0.5),
        ("view", "purchase"): (1, 0.5),
        ("click", "view"): (1, 1.0),
    }


# ---------------------------------------------------------------------
# compaction_plan
# ---------------------------------------------------------------------

def test_compaction_plan_bins_and_oversize_file(spark):
    """Files fill a bin until the running total crosses the target; a
    file bigger than the target still lands in exactly one bin."""
    from mapreduce_chisquare_spark.operators.layout import (
        compaction_plan,
    )

    files = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 12), ("d", 1)],
        "path string, size long",
    )
    got = {
        r.bin: (r.n_files, r.total_size, r.first_id, r.last_id)
        for r in compaction_plan(files, 10).collect()
    }
    assert got == {
        0: (2, 10, "a", "b"),
        1: (1, 12, "c", "c"),
        2: (1, 1, "d", "d"),
    }


# ---------------------------------------------------------------------
# lm_heldout_score
# ---------------------------------------------------------------------

def test_lm_heldout_score_oov_and_train_split(spark):
    """Model fits ONLY on the train split (doc_id % 10 == 0); unseen
    tokens take the add-one floor mass. Hand-computed expectations:
    train = doc 0 ('a a b') → c(a)=2, c(b)=1, T=3, V=2, T+V+1=6."""
    import math

    from mapreduce_chisquare_spark.operators.textstats import (
        lm_heldout_score,
    )

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a z"), (21, "z z")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.avg_logprob)
        for r in lm_heldout_score(docs).collect()
    }
    ln6 = math.log(6.0)
    # doc 0: tokens a,a,b → (2*ln3 + ln2)/3 - ln6 ; 0 OOV
    exp0 = (2 * math.log(3.0) + math.log(2.0)) / 3 - ln6
    # doc 1: a (seen, ln3), z (OOV, ln1=0) → ln3/2 - ln6 ; 1 OOV
    exp1 = math.log(3.0) / 2 - ln6
    # doc 21: all OOV → -ln6 ; 2 OOV
    assert got[0][0:2] == (3, 0) and abs(got[0][2] - exp0) < 1e-12
    assert got[1][0:2] == (2, 1) and abs(got[1][2] - exp1) < 1e-12
    assert got[21][0:2] == (2, 2) and abs(got[21][2] + ln6) < 1e-12


# ---------------------------------------------------------------------
# dq_checks
# ---------------------------------------------------------------------

def test_dq_checks_rules_and_counts(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, -1), (2, None), (4, 7)], "k long, v long"
    )
    dim = spark.createDataFrame([(1,), (2,)], "pk long")
    from mapreduce_chisquare_spark.operators.warehouse import dq_checks

    got = {
        r.rule: (r.n_checked, r.n_failed, r.passed)
        for r in dq_checks(
            df,
            not_null=["v"],
            unique=["k"],
            non_negative=["v"],
            ref=("k", dim, "pk"),
        ).collect()
    }
    assert got["not_null:v"] == (4, 1, False)
    assert got["unique:k"] == (4, 1, False)  # k=2 twice
    # null v is neither < 0 nor counted as failed
    assert got["non_negative:v"] == (4, 1, False)
    assert got["ref:k"] == (4, 1, False)  # k=4 not in dim


def test_dq_checks_no_rules_raises(spark):
    import pytest as _pytest

    from mapreduce_chisquare_spark.operators.warehouse import dq_checks

    df = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError):
        dq_checks(df)


# ---------------------------------------------------------------------
# html_strip
# ---------------------------------------------------------------------

def test_html_strip_tags_entities_script_payload(spark):
    from mapreduce_chisquare_spark.operators.textstats import html_strip

    pages = spark.createDataFrame(
        [
            (
                1,
                '<html><head><style a="b">h1 {x}</style></head><body>'
                "<h1>Title</h1><p>one  <b>two</b></p>"
                "<script>var secret = 'LEAK';</script>"
                "<p>AT&amp;T &lt;raw&gt; &amp;lt;</p></body></html>",
            ),
            (2, "no markup at all"),
        ],
        "doc_id long, html string",
    )
    got = {r.doc_id: r.text for r in html_strip(pages).collect()}
    assert got[1] == 'Title one two AT&T <raw> &lt;'
    assert "LEAK" not in got[1] and "{x}" not in got[1]
    assert got[2] == "no markup at all"


# ---------------------------------------------------------------------
# ts_forecast_holt_winters vs plain-Python model
# ---------------------------------------------------------------------

def _py_holt_winters(vals, a=0.3, b=0.2, g=0.3, m=4):
    l, tr, s = vals[0], 0.0, [0.0] * m
    for p in range(2, len(vals) + 1):
        x = vals[p - 1]
        j = (p - 2 + 1) % m  # 0-based slot of position p (i = p-1)
        lp = (x - s[j]) * a + (l + tr) * (1 - a)
        tr = (lp - l) * b + tr * (1 - b)
        s[j] = (x - lp) * g + s[j] * (1 - g)
        l = lp
    jn = len(vals) % m
    return l, tr, s[jn], l + tr + s[jn]


def test_holt_winters_matches_python_model(spark):
    """Seasonal series with trend: the fold must reproduce the
    textbook recurrence exactly (same seed, same update order)."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_forecast_holt_winters,
    )

    series = {
        1: [10.0, 14.0, 8.0, 12.0, 11.0, 15.0, 9.0, 13.0, 12.0],
        2: [5.0],          # single point: seed state, zero season
        3: [3.0, 3.0, 3.0, 3.0, 3.0],
    }
    rows = []
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((uid * 1000 + i, uid, "m", v, _ts(i * 60)))
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, "
        "value double, ts timestamp",
    )
    got = {
        r.user_id: (r.n_points, r.level, r.trend, r.season_next,
                    r.forecast_1)
        for r in ts_forecast_holt_winters(ev).collect()
    }
    for uid, vals in series.items():
        l, tr, sn, f1 = _py_holt_winters(vals)
        n, gl, gt, gs, gf = got[uid]
        assert n == len(vals)
        for a, b2 in ((gl, l), (gt, tr), (gs, sn), (gf, f1)):
            assert abs(a - b2) < 1e-12, (uid, a, b2)


# ---------------------------------------------------------------------
# embed_power_iteration
# ---------------------------------------------------------------------

def test_power_iteration_finds_planted_direction(spark):
    """Vectors drawn along a planted dominant axis (plus small
    deterministic off-axis noise): the integer iterate must align
    with numpy's top eigenvector of the same quantized data."""
    import numpy as np

    from mapreduce_chisquare_spark.operators.simsearch import (
        PI_QSCALE,
        embed_power_iteration,
    )

    rng = [(i * 37 % 97) / 97.0 - 0.5 for i in range(64)]
    axis = [1.0 if d < 8 else 0.05 for d in range(64)]
    rows = []
    for i in range(200):
        scale = (i % 19 - 9) / 9.0 or 0.3
        vec = [
            scale * axis[d] + 0.01 * rng[(i + d) % 64]
            for d in range(64)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = {
        r.dim: r.v_fp for r in embed_power_iteration(emb).collect()
    }
    v = np.array([got[d] for d in range(64)], dtype=float)
    q = np.array(
        [
            [round(float(np.float32(x)) * PI_QSCALE) for x in vec]
            for _, vec in rows
        ]
    )
    w, vecs = np.linalg.eigh(q.T @ q)
    top = vecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos


# ---------------------------------------------------------------------
# bootstrap_ci
# ---------------------------------------------------------------------

def test_bootstrap_ci_brackets_true_mean_and_is_deterministic(spark):
    """On a tight synthetic distribution the CI must bracket the true
    mean, order lo <= median <= hi, and repeat bit-identically."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        bootstrap_ci,
    )

    docs = spark.createDataFrame(
        [(i, 100 + (i % 11)) for i in range(400)],
        "doc_id long, n_chars long",
    )
    r1 = bootstrap_ci(docs).collect()[0]
    r2 = bootstrap_ci(docs).collect()[0]
    assert r1 == r2
    true_mean = sum(100 + (i % 11) for i in range(400)) / 400
    assert r1.n_replicas == 50
    assert r1.ci_lo <= r1.ci_median <= r1.ci_hi
    assert r1.ci_lo <= true_mean <= r1.ci_hi
    # Poisson(1) noise on 400 docs: interval should be tight (±10%)
    assert abs(r1.ci_median - true_mean) / true_mean < 0.1


# ---------------------------------------------------------------------
# lm_kn_bigram_score vs plain-Python model
# ---------------------------------------------------------------------

def test_kn_bigram_matches_python_model(spark):
    import math
    from collections import Counter

    from mapreduce_chisquare_spark.operators.textstats import (
        KN_DISCOUNT,
        lm_kn_bigram_score,
    )

    corpus = {
        1: "a b a b a c",
        2: "b a b c",
        3: "c c a b",
        4: "solo",  # single token: no bigrams, no output row
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    # python model
    big = Counter()
    per_doc = {}
    for did, t in corpus.items():
        ws = t.split()
        bgs = list(zip(ws, ws[1:]))
        per_doc[did] = Counter(bgs)
        big.update(bgs)
    c1 = Counter()
    fwd = Counter()
    bwd = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        fwd[w1] += 1
        bwd[w2] += 1
    types = len(big)
    want = {}
    for did, bgs in per_doc.items():
        if not bgs:
            continue
        n = sum(bgs.values())
        s = 0.0
        for (w1, w2), tf in bgs.items():
            p = max(big[(w1, w2)] - KN_DISCOUNT, 0.0) / c1[w1] + (
                KN_DISCOUNT * fwd[w1] / c1[w1] * (bwd[w2] / types)
            )
            s += tf * math.log(p)
        want[did] = (n, s / n)
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logprob)
        for r in lm_kn_bigram_score(docs).collect()
    }
    assert set(got) == set(want)  # doc 4 absent
    for did in want:
        assert got[did][0] == want[did][0]
        assert abs(got[did][1] - want[did][1]) < 1e-12


# ---------------------------------------------------------------------
# kcore_peel
# ---------------------------------------------------------------------

def test_kcore_peels_hairs_keeps_clique(spark):
    """A 4-clique with pendant chains: 3-core peeling must remove
    every chain node (including ones whose degree only drops below 3
    AFTER their neighbor peels — the cascading case) and keep exactly
    the clique at degree 3."""
    from mapreduce_chisquare_spark.operators.graph import kcore_peel

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # chain 4-10-11-12 cascades away; star on 20 (deg 3 but its
    # neighbors are deg-1) also peels over two rounds
    hairs = [(4, 10), (10, 11), (11, 12),
             (20, 21), (20, 22), (20, 23)]
    df = spark.createDataFrame(clique + hairs, "lo long, hi long")
    got = {r.node: r.deg for r in kcore_peel(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


# ---------------------------------------------------------------------
# ts_decompose_classical
# ---------------------------------------------------------------------

def test_decompose_recovers_planted_trend_and_season(spark):
    """Linear trend + pure period-4 seasonal: the 2x4 MA recovers the
    trend exactly on interior points (the centered MA of a linear
    function is itself, and a full-cycle seasonal sums to zero), so
    seasonal means equal the planted pattern and residuals vanish."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_decompose_classical,
    )

    season = [3.0, -1.0, -4.0, 2.0]
    rows = []
    for i in range(16):
        v = 10.0 + 2.0 * i + season[i % 4]
        rows.append((i, 1, "m", v, _ts(i * 60)))
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, "
        "value double, ts timestamp",
    )
    got = {r.idx: r for r in ts_decompose_classical(ev).collect()}
    assert set(got) == set(range(3, 15))  # interior: 2 < idx <= 14
    for idx, r in got.items():
        i = idx - 1
        assert abs(r.trend - (10.0 + 2.0 * i)) < 1e-9, idx
        assert abs(r.seasonal - season[i % 4]) < 1e-9, idx
        assert abs(r.resid) < 1e-9, idx


# ---------------------------------------------------------------------
# jaccard_link_prediction
# ---------------------------------------------------------------------

def test_linkpred_scores_and_hub_guard(spark):
    from mapreduce_chisquare_spark.operators.graph import (
        jaccard_link_prediction,
    )

    # path 1-2-3 plus both attached to 4: candidates (1,3) share
    # {2, 4}; deg(1)=deg(3)=2 → jaccard = 2/(2+2-2) = 1.0
    edges = [(1, 2), (2, 3), (1, 4), (3, 4)]
    df = spark.createDataFrame(edges, "lo long, hi long")
    got = {
        (r.a, r.b): (r.common, r.jaccard)
        for r in jaccard_link_prediction(df).collect()
    }
    assert got[(1, 3)] == (2, 1.0)
    assert got[(2, 4)] == (2, 1.0)
    assert len(got) == 2  # adjacent pairs excluded
    # hub guard: with max_deg=1 every center is excised → no pairs
    assert (
        jaccard_link_prediction(df, max_deg=1).count() == 0
    )


def test_linkpred_hub_excision_consistent_degrees(spark):
    """When a pair shares BOTH a hub and a non-hub neighbor, the
    score is the exact Jaccard over the hub-EXCISED neighbor sets:
    numerator (non-hub wedges) and denominator (non-hub degrees)
    must agree. Here 1 and 2 share {3, hub 4}; with the hub excised
    N'(1) = N'(2) = {3}, so jaccard = 1/(1+1-1) = 1.0 — NOT the
    inconsistent 1/(2+2-1) = 1/3 a full-degree denominator gives."""
    from mapreduce_chisquare_spark.operators.graph import (
        jaccard_link_prediction,
    )

    edges = [(1, 3), (2, 3), (1, 4), (2, 4), (4, 5), (4, 6), (4, 7)]
    df = spark.createDataFrame(edges, "lo long, hi long")
    got = {
        (r.a, r.b): (r.common, r.jaccard)
        for r in jaccard_link_prediction(df, max_deg=3).collect()
    }
    assert got[(1, 2)] == (1, 1.0)
