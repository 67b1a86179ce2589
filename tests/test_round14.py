"""Round-14 regression tests: the four round-13 ADVICE fixes —
canonicalize_url authority boundary at first-of-'/'-or-'?',
chunk_documents_overlap stride guard, quality_perplexity_buckets
order-independent integer scoring, bench rerun still-slow flag."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators.curation import canonicalize_url
from mapreduce_chisquare_spark.operators.packing import (
    chunk_documents_overlap,
)
from mapreduce_chisquare_spark.operators.textstats import (
    quality_perplexity_buckets,
)


# ---------------------------------------------------------------------
# canonicalize_url: the authority ends at the FIRST of '/' or '?' — a
# query with no path must not be absorbed into the host, and a '/'
# inside a query value is not a path boundary
# ---------------------------------------------------------------------

def test_canonicalize_url_query_without_path(spark):
    cases = [
        # query, no path: '?a=1' must not join the host
        ("https://example.com?a=1", "https://example.com/?a=1"),
        # ... and must canonicalize EQUAL to the '/?a=1' spelling
        ("https://example.com/?a=1", "https://example.com/?a=1"),
        # '/' inside a query value is not the path boundary
        (
            "https://example.com?u=http://x.com/p",
            "https://example.com/?u=http://x.com/p",
        ),
        # host-normalization rules still fire on the '?'-bounded host
        ("HTTPS://WWW.EXAMPLE.COM:443?b=2&a=1", "https://example.com/?a=1&b=2"),
        # tracking-only query, no path -> bare root
        ("https://example.com?utm_source=f", "https://example.com/"),
        # plain '/'-bounded URLs unaffected
        ("https://example.com/p?a=1", "https://example.com/p?a=1"),
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
    for i, (src, want) in enumerate(cases):
        assert got[i] == want, (src, got[i], want)


# ---------------------------------------------------------------------
# chunk_documents_overlap: stride > chunk_tokens would leave token
# gaps no chunk covers — the coverage guarantee demands a loud error
# ---------------------------------------------------------------------

def test_chunk_overlap_rejects_gapping_stride(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="stride"):
        chunk_documents_overlap(docs, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents_overlap(docs, chunk_tokens=4, stride=0)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents_overlap(docs, chunk_tokens=0)
    # stride == chunk_tokens is the disjoint edge and stays legal:
    # every token still lands in exactly one chunk
    rows = chunk_documents_overlap(
        docs, chunk_tokens=4, stride=4
    ).collect()
    assert sorted(r.n_tokens for r in rows) == [4, 4]


# ---------------------------------------------------------------------
# quality_perplexity_buckets: score_fp must equal the plain-Python
# integer model exactly — per-term BIGINT contributions make the sum
# order-independent, so no partition order can move it
# ---------------------------------------------------------------------

def test_perplexity_buckets_integer_score_matches_model(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the the the the", "en"),
        (3, "zephyr quixotic jumbles", "en"),
        (4, "cat mat cat mat cat", "en"),
        (5, "on on the sat", "en"),
        (6, "der hund der hund", "de"),
        (7, "der die das", "de"),
        (8, "die das die", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # plain-Python model of the integer score
    from collections import Counter

    tf: dict[tuple[int, str], int] = Counter()
    for doc_id, text, _ in rows:
        for w in text.lower().split():
            tf[(doc_id, w)] += 1
    c = Counter()
    for (_, w), n in tf.items():
        c[w] += n
    t_total = sum(c.values())
    lt = math.floor(math.log(t_total) * 1e6)
    want = {}
    for doc_id, _, _ in rows:
        items = [(w, n) for (d, w), n in tf.items() if d == doc_id]
        n_tokens = sum(n for _, n in items)
        s_fp = sum(n * math.floor(math.log(c[w]) * 1e6) for w, n in items)
        want[doc_id] = s_fp // n_tokens - lt

    got = {
        r.doc_id: r.score_fp
        for r in quality_perplexity_buckets(docs, k=8).collect()
    }
    assert got == want

    # repartitioning the input must not move any score by even one
    # micro-nat — the order-independence property the fix exists for
    got2 = {
        r.doc_id: r.score_fp
        for r in quality_perplexity_buckets(
            docs.repartition(7), k=8
        ).collect()
    }
    assert got2 == got


# ---------------------------------------------------------------------
# bench rerun policy: a rerun that stays over its trigger must be
# flagged, and sub-0.5s baselines use the tighter trigger
# ---------------------------------------------------------------------

def test_bench_rerun_trigger_tiers():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    # noise-floor baseline: fires at 1.3x, not 2x
    assert bench._rerun_trigger(0.28) == pytest.approx(0.28 * 1.3)
    # normal baseline: classic 2x
    assert bench._rerun_trigger(2.0) == pytest.approx(4.0)


# =====================================================================
# Round-14 operator batch
# =====================================================================

def test_oph_candidate_pairs_finds_planted_dups(spark):
    """A doc and its lightly-perturbed copy share most shingles and
    must collide in >= 1 OPH band; unrelated docs must not."""
    import hashlib

    def words(seed, n=60):
        return " ".join(
            hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:6]
            for i in range(n)
        )

    base = words("a")
    near = base.replace(base.split()[5], "zzz")  # 1-of-60 token edit
    rows = [
        (1, base),
        (2, near),
        (3, words("b")),
        (4, words("c")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from mapreduce_chisquare_spark.operators.dedup import (
        oph_candidate_pairs,
    )

    pairs = {
        (r.doc_a, r.doc_b) for r in oph_candidate_pairs(df).collect()
    }
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs), pairs


def test_connected_components_star_chain_rounds(spark):
    """On diameter-49 chains the star alternation must converge in
    far fewer rounds than min-label propagation's ~49 — the
    algorithm's reason to exist."""
    from mapreduce_chisquare_spark.operators.graph import (
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(99) if (i + 1) % 50 != 0]
    e = spark.createDataFrame(edges, "src long, dst long")
    stats = {}
    got = {
        r.node: r.component_id
        for r in connected_components_star(e, stats=stats).collect()
    }
    assert stats["rounds"] <= 8, stats  # diameter 49; log-ish rounds
    assert got == {i: 50 * (i // 50) for i in range(100)}


def test_connected_components_star_nonconvergence_raises(spark):
    """Partially-contracted component ids are WRONG ids; exhausting
    max_iter without a fixed point must raise."""
    import pytest

    from mapreduce_chisquare_spark.operators.graph import (
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(49)]  # diameter-49 chain
    e = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components_star(e, max_iter=1)


def test_connected_components_star_two_node_and_selfloop(spark):
    from mapreduce_chisquare_spark.operators.graph import (
        connected_components_star,
    )

    e = spark.createDataFrame(
        [(7, 3), (5, 5)], "src long, dst long"
    )
    got = {
        r.node: r.component_id
        for r in connected_components_star(e).collect()
    }
    # the self-loop node is dropped with its only (degenerate) edge
    assert got == {3: 3, 7: 3}


def test_blocklist_screen_threshold_is_strict(spark):
    from mapreduce_chisquare_spark.operators.curation import (
        blocklist_screen,
    )

    rows = [
        (1, "slow a b c d e f g h i"),  # 1/10 == threshold: NOT flagged
        (2, "slow a b c d e f g h"),  # 1/9 > 1/10: flagged
        (3, "a b"),  # no hits
        (4, ""),  # zero tokens: excluded
        (5, "slow slow slow"),  # repetition counts (multiset)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_blocked, r.flagged)
        for r in blocklist_screen(df).collect()
    }
    assert got == {
        1: (10, 1, False),
        2: (9, 1, True),
        3: (2, 0, False),
        5: (3, 3, True),
    }


def test_zonemap_prune_decisions(spark):
    from mapreduce_chisquare_spark.operators.layout import (
        zonemap_prune,
        zonemap_stats,
    )

    rows = [
        (0, 5), (0, 9),     # file 0: [5,9]  < lo -> skip
        (1, 10), (1, 15),   # file 1: [10,15] overlaps -> keep
        (2, 25), (2, 30),   # file 2: [25,30] min >= hi -> skip
        (3, 19), (3, 20),   # file 3: [19,20] straddles hi -> keep
        (4, None),          # file 4: all NULL -> skip
    ]
    df = spark.createDataFrame(rows, "fid long, v long")
    stats = zonemap_stats(df, "fid", ["v"])
    got = {
        r.file_id: r.can_skip
        for r in zonemap_prune(stats, "v", 10, 20).collect()
    }
    assert got == {0: True, 1: False, 2: True, 3: False, 4: True}


def test_tfidf_topk_total_order_tiebreak(spark):
    """Terms with identical (tf, df) tie on tfidf exactly; the term
    tie-break must settle rank deterministically."""
    from pyspark.sql import functions as F
    from mapreduce_chisquare_spark.operators.textstats import (
        tfidf_topk_terms,
    )

    toks = spark.createDataFrame(
        [(1, "zeta"), (1, "alpha"), (1, "mid"), (1, "mid"), (2, "mid")],
        "doc_id long, term string",
    )
    n = spark.createDataFrame([(2,)], "n_docs long")
    got = [
        (r.term, r.trank)
        for r in tfidf_topk_terms(toks, n, k=2)
        .filter("doc_id = 1")
        .orderBy("trank")
        .collect()
    ]
    # mid: tf=2 but df=2 -> tfidf 0; alpha/zeta tf=1 df=1 -> ln(2);
    # alpha beats zeta on the term tie-break
    assert got == [("alpha", 1), ("zeta", 2)]


def test_ks_two_sample_matches_python_model(spark):
    import hashlib

    rows = []
    for i in range(400):
        u = int(hashlib.md5(f"v{i}".encode()).hexdigest()[:6], 16)
        side = i % 2
        # shift the odd side so the drift is real
        v = (u % 1000) / 10.0 + (7.5 if side else 0.0)
        rows.append((float(v), side))
    df = spark.createDataFrame(rows, "value double, side int")

    ref = sorted(v for v, s in rows if s == 0)
    cur = sorted(v for v, s in rows if s == 1)
    pts = sorted({v for v, _ in rows})
    import bisect

    want = max(
        abs(
            bisect.bisect_right(ref, p) * len(cur)
            - bisect.bisect_right(cur, p) * len(ref)
        )
        for p in pts
    )
    from mapreduce_chisquare_spark.operators.warehouse import ks_two_sample

    r = ks_two_sample(df, "value", "side").collect()[0]
    assert (r.n_ref, r.n_cur) == (len(ref), len(cur))
    assert r.ks_num == want
    assert r.ks_stat == want / (len(ref) * len(cur))


def test_ks_two_sample_identical_distributions_zero(spark):
    rows = [(float(v), s) for v in range(50) for s in (0, 1)]
    df = spark.createDataFrame(rows, "value double, side int")
    from mapreduce_chisquare_spark.operators.warehouse import ks_two_sample

    r = ks_two_sample(df, "value", "side").collect()[0]
    assert r.ks_num == 0 and r.ks_stat == 0.0


# =====================================================================
# Round-14 second batch
# =====================================================================

def test_g2_matches_python_model(spark):
    import math

    toks = spark.createDataFrame(
        [(1, "t1", "a"), (2, "t1", "a"), (3, "t1", "b"),
         (4, "t2", "a"), (5, "t2", "b"), (6, "t2", "b")],
        "doc_id long, term string, category string",
    )
    docs = spark.createDataFrame(
        [(i, "a" if i <= 3 else "b") for i in range(1, 7)],
        "doc_id long, category string",
    )
    from mapreduce_chisquare_spark.operators.contingency import g2_relation

    got = {
        (r.category, r.term): r.g2 for r in g2_relation(toks, docs).collect()
    }

    def g2(a, b, c, d):
        n = a + b + c + d
        t = 0.0
        for o, row, col in [
            (a, a + b, a + c), (b, a + b, b + d),
            (c, c + d, a + c), (d, c + d, b + d),
        ]:
            if o > 0:
                t += o * math.log((o * float(n)) / (row * float(col)))
        return 2.0 * t

    # ("a","t1"): a=2 docs in cat a with t1, term total 3, cat a 3, n 6
    assert got[("a", "t1")] == pytest.approx(g2(2, 1, 1, 2), abs=1e-12)
    assert got[("b", "t2")] == pytest.approx(g2(2, 1, 1, 2), abs=1e-12)
    # independence: term present in every doc of both cats -> G2 = 0
    assert len(got) == 4


def test_mips_ranks_by_norm_not_cosine(spark):
    """A colinear-but-longer vector must beat a unit vector under
    MIPS even though cosine ties them."""
    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [0.9, 0.0], 0),   # short, colinear
        (2, [5.0, 0.0], 0),   # long, colinear -> MIPS winner
        (3, [0.0, 1.0], 0),   # orthogonal
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from mapreduce_chisquare_spark.operators.simsearch import mips_topk

    got = [
        (r.vec_id, r.rank)
        for r in mips_topk(df, n_queries=1, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(2, 1), (1, 2), (3, 3)]


def test_jl_project_matches_python_model(spark):
    import math

    from mapreduce_chisquare_spark.operators.simsearch import (
        JL_PLANES,
        JL_SCALE,
        jl_project,
    )

    vecs = [
        (7, [0.25 * ((i % 5) - 2) for i in range(64)], 0),
        (8, [math.sin(i) / 3 for i in range(64)], 1),
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    import struct

    def f32(x):  # model the float32 storage the engine reads
        return struct.unpack("f", struct.pack("f", x))[0]

    want = {}
    for vid, emb, _ in vecs:
        q = [
            int(math.floor(f32(x) * JL_SCALE + 0.5))
            if f32(x) >= 0
            else -int(math.floor(-f32(x) * JL_SCALE + 0.5))
            for x in emb
        ]
        for j in range(len(JL_PLANES)):
            want[(vid, j)] = sum(
                s * v for s, v in zip(JL_PLANES[j], q)
            )
    got = {
        (r.vec_id, r.out_dim): r.comp_fp for r in jl_project(df).collect()
    }
    assert got == want


def test_dim_variance_exact_and_ranked(spark):
    rows = [
        (1, [1.0, 0.5, 0.0], 0),
        (2, [1.0, -0.5, 0.0], 0),
        (3, [1.0, 0.25, 0.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from mapreduce_chisquare_spark.operators.simsearch import (
        VAR_SCALE,
        dim_variance,
    )

    got = {r.dim: r for r in dim_variance(df).collect()}
    # constant dims have exactly zero variance numerator
    assert got[0].var_num == 0 and got[2].var_num == 0
    q = [round(x * VAR_SCALE) for x in (0.5, -0.5, 0.25)]
    want = 3 * sum(v * v for v in q) - sum(q) ** 2
    assert got[1].var_num == want
    assert got[1].vrank == 1  # highest variance
    # zero-variance tie broken by dim index
    assert (got[0].vrank, got[2].vrank) == (2, 3)


# =====================================================================
# WARC source executed stress: a multi-hundred-MB archive must split
# into multiple input partitions (the "splittable by construction"
# claim of sources/readers.py, converted to a measured assertion)
# =====================================================================

def test_scan_warc_large_archive_splits(spark, tmp_path_factory):
    import os

    from mapreduce_chisquare_spark.sources.readers import scan_warc_path

    d = tmp_path_factory.mktemp("warc_stress")
    path = str(d / "big.warc")
    body_words = ("alpha beta gamma delta epsilon zeta " * 120).strip()
    n_records = 40_000  # ~4.4 KB/record -> ~180 MB total
    with open(path, "wb") as f:
        for i in range(n_records):
            body = f"doc {i} {body_words}"
            rec = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: https://ex.com/p{i}\r\n"
                "WARC-Lang: en\r\n"
                f"Content-Length: {len(body.encode())}\r\n"
                "\r\n" + body + "\r\n\r\n"
            )
            f.write(rec.encode())
    size_mb = os.path.getsize(path) / 1e6
    assert size_mb > 150, size_mb  # > spark.sql.files.maxPartitionBytes

    df = scan_warc_path(spark, path)
    # the text read must plan MULTIPLE input partitions — a
    # non-splittable reader would funnel the archive to one task
    nparts = df.rdd.getNumPartitions()
    assert nparts >= 2, (nparts, size_mb)
    rows = df.count()
    assert rows == n_records
    got = df.filter("doc_id = 39999").collect()
    assert len(got) == 1 and got[0].text.startswith("doc 39999 alpha")


# =====================================================================
# Round-14 third batch
# =====================================================================

def test_simhash_pairs_pigeonhole(spark):
    from mapreduce_chisquare_spark.operators.dedup import simhash_pairs

    # identical term sets -> hamming 0; one-term difference -> small
    t = []
    words = [f"w{i}" for i in range(40)]
    for d, terms in [
        (1, words), (2, words), (3, words[:-1] + ["zzz"]),
        (4, [f"q{i}" for i in range(40)]),
    ]:
        t += [(d, w) for w in terms]
    toks = spark.createDataFrame(t, "doc_id long, term string")
    got = {
        (r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(toks).collect()
    }
    assert got[(1, 2)] == 0
    assert (1, 4) not in got and (2, 4) not in got
    if (1, 3) in got:  # captured only while within the radius
        assert 0 < got[(1, 3)] <= 3

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(toks, max_dist=4, bands=4)


def test_sorted_neighborhood_positions_match_global_order(spark):
    """The two-level (coarse offset + in-bucket rank) position must
    reproduce the single global sort exactly: every adjacent pair in
    the true order appears with gap 1."""
    from mapreduce_chisquare_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"customer#{i:09d}") for i in range(1, 61)]
    df = spark.createDataFrame(rows, "rid long, name string")
    got = sorted_neighborhood_pairs(
        df, "rid", "name", coarse_start=10, coarse_len=5, window=3
    ).collect()
    pairs = {(r.id_a, r.id_b): r.gap for r in got}
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    for i in range(len(order) - 1):
        assert pairs[(order[i][0], order[i + 1][0])] == 1
        if i < len(order) - 2:
            assert pairs[(order[i][0], order[i + 2][0])] == 2
    assert len(got) == (59 + 58)

    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(
            df, "rid", "name", coarse_start=10, coarse_len=5, window=1
        )


def test_sorted_neighborhood_finds_cross_block_clone(spark):
    """A clone whose BLOCK KEY is typo'd (equality blocking misses it)
    still pairs with its source through the sorted order."""
    from mapreduce_chisquare_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"customer#{i:09d}") for i in range(1, 21)]
    rows.append((999, "customer#00000001"))  # 17-char clone of id 10's prefix class
    df = spark.createDataFrame(rows, "rid long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in sorted_neighborhood_pairs(
            df, "rid", "name", coarse_start=10, coarse_len=5, window=12
        ).collect()
    }
    # the clone sorts immediately before ids 10..19 ("customer#00000001x");
    # window 12 must pair it with every one of them; dist 1 to each
    for sid in range(10, 20):
        assert got[(999, sid)] == 1


def test_vocab_zipf_fit_matches_python_model(spark):
    import math

    from mapreduce_chisquare_spark.operators.textstats import (
        ZIPF_SCALE,
        vocab_zipf_fit,
    )

    # planted Zipf-ish corpus: term ti appears ~100//(i+1) times
    words = []
    for i in range(20):
        words += [f"t{i:02d}"] * (100 // (i + 1))
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    r = vocab_zipf_fit(docs, vocab_size=20).collect()[0]
    freqs = sorted(
        ((100 // (i + 1), f"t{i:02d}") for i in range(20)),
        key=lambda t: (-t[0], t[1]),
    )
    xs = [math.floor(math.log(i + 1) * ZIPF_SCALE) for i in range(20)]
    ys = [math.floor(math.log(f) * ZIPF_SCALE) for f, _ in freqs]
    n = 20
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r.n_terms == 20
    assert r.slope == slope
    assert -1.3 < r.slope < -0.7  # Zipf-shaped


# =====================================================================
# Round-14 fourth batch
# =====================================================================

def test_collocations_g2_ranks_planted_collocation(spark):
    """A bigram that always co-occurs must out-rank independent
    pairs under G2."""
    from mapreduce_chisquare_spark.operators.textstats import (
        collocations_g2,
    )

    # filler words rotate per doc so no filler bigram repeats enough
    # to look like a collocation; "new york" always co-occurs
    filler = ["fa", "fb", "fc", "fd", "fe", "ff", "fg"]
    docs = spark.createDataFrame(
        [
            (
                i,
                "new york "
                + " ".join(filler[(i + j) % 7] for j in range(0, 21, i % 5 + 1)),
            )
            for i in range(10)
        ],
        "doc_id long, text string",
    )
    rows = collocations_g2(docs, min_count=5, k=5).collect()
    assert (rows[0].w1, rows[0].w2) == ("new", "york")
    assert rows[0].g2 > 0


def test_dq_benford_exact_counts_and_expected(spark):
    import math

    from mapreduce_chisquare_spark.operators.warehouse import dq_benford

    # values whose cents integers start with known digits
    vals = [1.23, 1.99, 2.50, 9.01, 0.95, 0.0, None, -5.0]
    df = spark.createDataFrame(
        [(float(v),) if v is not None else (None,) for v in vals],
        "value double",
    )
    got = {r.digit: r for r in dq_benford(df).collect()}
    # cents: 123, 199, 250, 901, 95, 0 (dropped), None (dropped),
    # -500 (dropped: cents > 0 guard)
    assert {d: got[d].n for d in got} == {1: 2, 2: 1, 9: 2}
    assert got[1].observed_p == 2 / 5
    assert got[9].expected_p == math.log(1 + 1 / 9) / math.log(10)


# =====================================================================
# Round-14 fifth batch
# =====================================================================

def test_feature_store_pit_no_future_leakage(spark):
    """An event must never see an order dated after it — the PIT
    contract feature stores exist for."""
    import datetime

    from mapreduce_chisquare_spark.operators.asof import asof_join

    ev = spark.createDataFrame(
        [
            (1, 7, datetime.datetime(2024, 1, 10)),
            (2, 7, datetime.datetime(2024, 1, 20)),
            (3, 8, datetime.datetime(2024, 1, 5)),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    f = spark.createDataFrame(
        [
            (7, datetime.datetime(2024, 1, 8), 100.0),
            (7, datetime.datetime(2024, 1, 15), 200.0),  # future for e1
            (8, datetime.datetime(2024, 1, 9), 300.0),   # future for e3
        ],
        "user_id long, ts timestamp, last_total double",
    )
    got = {
        r.event_id: r.asof_last_total
        for r in asof_join(ev, f, "user_id", "ts", ["last_total"]).collect()
    }
    assert got == {1: 100.0, 2: 200.0, 3: None}


def test_window_cume_dist_total_order(spark):
    rows = [
        (1, 1, "A", "F", 5.0),
        (2, 1, "A", "F", 10.0),
        (3, 1, "A", "F", 15.0),
        (4, 1, "R", "F", 7.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_linestatus string, l_quantity double",
    )
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F2

    w = W.partitionBy("l_returnflag", "l_linestatus").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    got = {
        r.l_orderkey: (r.prank, r.cdist)
        for r in df.select(
            "l_orderkey",
            F2.percent_rank().over(w).alias("prank"),
            F2.cume_dist().over(w).alias("cdist"),
        ).collect()
    }
    assert got[1] == (0.0, 1 / 3)
    assert got[2] == (0.5, 2 / 3)
    assert got[3] == (1.0, 1.0)
    assert got[4] == (0.0, 1.0)  # singleton group


def test_ks_two_sample_shift_invariant_across_buckets(spark):
    """KS is invariant under any common monotone shift; a fractional
    shift MOVES every floor(value) coarse-bucket boundary, so equality
    here pins the two-level cumsum against the bucketing itself."""
    import hashlib

    rows = []
    for i in range(300):
        u = int(hashlib.md5(f"k{i}".encode()).hexdigest()[:6], 16)
        rows.append(((u % 977) / 7.0 + (3.0 if i % 2 else 0.0), i % 2))
    df = spark.createDataFrame(rows, "value double, side int")
    from pyspark.sql import functions as F2

    from mapreduce_chisquare_spark.operators.warehouse import ks_two_sample

    base = ks_two_sample(df, "value", "side").collect()[0]
    shifted = ks_two_sample(
        df.withColumn("value", F2.col("value") + F2.lit(7.37)),
        "value",
        "side",
    ).collect()[0]
    assert (base.ks_num, base.n_ref, base.n_cur) == (
        shifted.ks_num,
        shifted.n_ref,
        shifted.n_cur,
    )
