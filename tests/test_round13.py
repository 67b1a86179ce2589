"""Round-13 regression tests: the round-12 ADVICE findings, each
reproduced as a planted edge case — malformed-URL NULL collapse in
dedup_url_groups, literal second '?' in canonicalize_url, hits()
iterations guard, _messy_url column-name threading, and the
small-image placeholder contract of image_thumbnail_decoded."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators import multimodal as mm
from mapreduce_chisquare_spark.operators.curation import (
    canonicalize_url,
    dedup_url_groups,
)
from mapreduce_chisquare_spark.operators.graph import hits
from mapreduce_chisquare_spark.streaming.urls import _messy_url


# ---------------------------------------------------------------------
# dedup_url_groups: malformed URLs must not collapse into one group
# ---------------------------------------------------------------------

def test_dedup_url_groups_excludes_malformed(spark):
    rows = [
        (1, "not a url"),           # no '://' -> canonicalizes to NULL
        (2, "also-bad"),            # no '://' -> NULL
        (3, None),                  # NULL in -> NULL out
        (4, "https://example.com/x"),
        (5, "HTTPS://WWW.EXAMPLE.COM/x/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = dedup_url_groups(df).collect()
    # exactly the one real duplicate pair; NO NULL-keyed group of
    # the three unrelated malformed rows
    assert len(out) == 1
    assert (out[0].canon_url, out[0].n_dups, out[0].keep_id) == (
        "https://example.com/x",
        2,
        4,
    )


# ---------------------------------------------------------------------
# canonicalize_url: a literal second '?' is part of the query
# ---------------------------------------------------------------------

def test_canonicalize_url_second_question_mark_survives(spark):
    cases = [
        # literal '?' inside a param value (legal per RFC 3986)
        (
            "https://example.com/a?q=what?&b=1",
            "https://example.com/a?b=1&q=what?",
        ),
        # '?' inside the value of the only param
        (
            "https://example.com/a?redirect=/p?x=1",
            "https://example.com/a?redirect=/p?x=1",
        ),
        # tracking param still dropped even with '?' in another value
        (
            "https://example.com/a?utm_source=x&k=v?w",
            "https://example.com/a?k=v?w",
        ),
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
# hits: iterations must be >= 1
# ---------------------------------------------------------------------

def test_hits_rejects_zero_iterations(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


# ---------------------------------------------------------------------
# _messy_url: both branches derive from the SAME named column
# ---------------------------------------------------------------------

def test_messy_url_uses_named_column(spark):
    ids = list(range(12))
    base = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    renamed = spark.createDataFrame([(i,) for i in ids], "other long")
    want = {
        r.doc_id: r.u
        for r in base.select(
            "doc_id", _messy_url("doc_id").alias("u")
        ).collect()
    }
    got = {
        r.other: r.u
        for r in renamed.select(
            "other", _messy_url("other").alias("u")
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------
# image_thumbnail_decoded: small images keep t*t field positions
# ---------------------------------------------------------------------

def _small_thumb_model(gray, t=mm.THUMB_T):
    """Placeholder-contract model: empty cells emit ''. Mirrors the
    documented mapping pixel (r, c) -> cell (r*t div h, c*t div w)."""
    h, w = len(gray), len(gray[0])
    sums = {}
    for r in range(h):
        for c in range(w):
            k = ((r * t) // h, (c * t) // w)
            s, n = sums.get(k, (0, 0))
            sums[k] = (s + gray[r][c], n + 1)
    return ",".join(
        str(sums[(i, j)][0] // sums[(i, j)][1]) if (i, j) in sums else ""
        for i in range(t)
        for j in range(t)
    )


def test_image_thumbnail_small_image_placeholder_positions(spark):
    t = mm.THUMB_T
    gray = [[10, 20], [30, 40], [50, 60]]  # 2 x 3 < t x t
    png = mm.encode_png(gray, color_type=0)
    media = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    )
    row = mm.image_thumbnail_decoded(media).collect()[0]
    assert (row.w, row.h) == (2, 3)
    fields = row.thumb.split(",")
    assert len(fields) == t * t  # positions fixed, nothing dropped
    assert row.thumb == _small_thumb_model(gray)
    # columns 1 and 3 receive no pixels at w=2 -> '' placeholders
    for i in range(t):
        assert fields[i * t + 1] == "" and fields[i * t + 3] == ""


def test_image_thumbnail_full_size_unchanged(spark):
    # fixture-sized images (w,h >= t) must be byte-identical to the
    # pre-placeholder behavior: no '' fields anywhere
    docs = spark.createDataFrame([(0,), (7,)], "doc_id long")
    media = mm.synth_media(docs, mm.synth_png)
    for r in mm.image_thumbnail_decoded(media).collect():
        fields = r.thumb.split(",")
        assert len(fields) == mm.THUMB_T * mm.THUMB_T
        assert all(f != "" for f in fields)


# ---------------------------------------------------------------------
# bloom_screen: decision vector matches the md5 bit model exactly
# ---------------------------------------------------------------------

def _bloom_model(corpus_keys, query_keys, k, m):
    import hashlib

    def bits(s):
        return {
            int(
                hashlib.md5(f"{s}:{j}".encode()).hexdigest()[:8], 16
            ) % m
            for j in range(k)
        }

    filt = set()
    for s in corpus_keys:
        filt |= bits(s)
    return {i: bits(s) <= filt for i, s in query_keys}


def test_bloom_screen_matches_hash_model(spark):
    from mapreduce_chisquare_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_M,
        bloom_screen,
    )

    corpus_keys = [f"stored document {i}" for i in range(200)]
    query_keys = [(i, f"stored document {i}") for i in range(0, 50)] + [
        (1000 + i, f"novel probe {i}") for i in range(50)
    ]
    c = spark.createDataFrame([(s,) for s in corpus_keys], "key string")
    q = spark.createDataFrame(query_keys, "doc_id long, key string")
    got = {
        r.doc_id: r.maybe_dup
        for r in bloom_screen(c, q).collect()
    }
    want = _bloom_model(corpus_keys, query_keys, BLOOM_K, BLOOM_M)
    assert got == want
    # no false negatives ever: every true member flagged
    assert all(got[i] for i in range(0, 50))


def test_bloom_screen_tiny_filter_false_positives_deterministic(spark):
    """At m = 64 the filter saturates and false positives are
    guaranteed — the engine must reproduce the model's exact
    decisions, false positives included."""
    from mapreduce_chisquare_spark.operators.sketches import bloom_screen

    corpus_keys = [f"k{i}" for i in range(60)]
    query_keys = [(i, f"q{i}") for i in range(40)]
    c = spark.createDataFrame([(s,) for s in corpus_keys], "key string")
    q = spark.createDataFrame(query_keys, "doc_id long, key string")
    got = {
        r.doc_id: r.maybe_dup
        for r in bloom_screen(c, q, k=3, m=64).collect()
    }
    want = _bloom_model(corpus_keys, query_keys, 3, 64)
    assert got == want
    assert any(want.values())  # the stress is real: FPs occurred


# ---------------------------------------------------------------------
# quantile_bucketize_scalable == quantile_bucketize at any coarse width
# ---------------------------------------------------------------------

def test_bucketize_scalable_equals_single_level(spark):
    from mapreduce_chisquare_spark.operators.warehouse import (
        quantile_bucketize,
        quantile_bucketize_scalable,
    )

    df = spark.range(10_000).select(
        ((F.col("id") * 7919) % 1000 + (F.col("id") % 13) * 100).alias(
            "v"
        )
    )
    want = {
        r.bucket: (r.n_rows, r.lo, r.hi)
        for r in quantile_bucketize(df, "v").collect()
    }
    for cw in (1, 7, 64, 1 << 16):
        got = {
            r.bucket: (r.n_rows, r.lo, r.hi)
            for r in quantile_bucketize_scalable(
                df, "v", coarse_width=cw
            ).collect()
        }
        assert got == want, cw


# ---------------------------------------------------------------------
# robots_screen decision table
# ---------------------------------------------------------------------

def test_robots_screen_longest_match_and_ties(spark):
    from mapreduce_chisquare_spark.operators.curation import robots_screen

    rules = spark.createDataFrame(
        [
            ("h", "/private", False),
            ("h", "/private/pub", True),
            ("h", "/t", False),
            ("h", "/t", True),          # tie: allow wins
            ("g", "/", False),          # disallow-all host
        ],
        "host string, rule_path string, allow boolean",
    )
    pages = spark.createDataFrame(
        [
            (1, "h", "/private/x"),        # disallow
            (2, "h", "/private/pub/y"),    # longer allow overrides
            (3, "h", "/t/z"),              # exact-length tie -> allow
            (4, "h", "/elsewhere"),        # no rule -> default allow
            (5, "g", "/anything"),         # '/' disallow matches all
            (6, "q", "/no/rules/host"),    # unknown host -> allow
        ],
        "doc_id long, host string, path string",
    )
    got = {
        r.doc_id: r.allowed for r in robots_screen(pages, rules).collect()
    }
    assert got == {1: False, 2: True, 3: True, 4: True, 5: False, 6: True}


# ---------------------------------------------------------------------
# palette PNG decode: round-trip + fail-loud
# ---------------------------------------------------------------------

def test_palette_png_roundtrip_exact(spark):
    for d in [0, 1, 2, 7, 12, 255]:
        w, h, pal, rows = mm.synth_png_palette_pixels(d)
        dw, dh, gray = mm.decode_png_pixels(mm.synth_png_palette(d))
        assert (dw, dh) == (w, h)
        want = [bytes(mm._luma(*pal[i]) for i in r) for r in rows]
        assert [bytes(g) for g in gray] == want, d


def test_palette_png_fails_loud():
    import struct

    blob = mm.synth_png_palette(1)
    # strip the PLTE chunk -> must raise, never fabricate pixels
    pos, out = 8, bytearray(blob[:8])
    while pos + 12 <= len(blob):
        (ln,) = struct.unpack(">I", blob[pos : pos + 4])
        if blob[pos + 4 : pos + 8] != b"PLTE":
            out += blob[pos : pos + 12 + ln]
        pos += 12 + ln
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_png_pixels(bytes(out))
    # index beyond a short palette -> loud
    short = mm.encode_png(
        [[0, 5], [1, 0]], 3, palette=[(0, 0, 0), (9, 9, 9)]
    )
    with pytest.raises(ValueError, match="palette index"):
        mm.decode_png_pixels(short)


# ---------------------------------------------------------------------
# bloom merge: per-shard sketches OR-merge to the one-shot filter
# ---------------------------------------------------------------------

def test_bloom_merged_equals_one_shot(spark):
    from mapreduce_chisquare_spark.operators.sketches import (
        bloom_screen,
        bloom_screen_merged,
    )

    rows = [(i, i % 5, f"doc text {i % 70}") for i in range(300)]
    corpus = spark.createDataFrame(
        rows, "rid long, shard long, key string"
    )
    queries = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(120)],
        "doc_id long, key string",
    )
    one = {
        r.doc_id: r.maybe_dup
        for r in bloom_screen(corpus, queries, k=3, m=256).collect()
    }
    merged = {
        r.doc_id: r.maybe_dup
        for r in bloom_screen_merged(
            corpus, queries, "shard", k=3, m=256
        ).collect()
    }
    assert merged == one
    # true members (key space 0..69 stored) all flagged
    assert all(one[i] for i in range(70))


# ---------------------------------------------------------------------
# streaming bloom screen == batch decisions
# ---------------------------------------------------------------------

def test_stream_bloom_screen_matches_batch(spark):
    from mapreduce_chisquare_spark.operators.sketches import bloom_screen
    from mapreduce_chisquare_spark.streaming.bloom import (
        bloom_screen_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("text").alias("key"))
        .filter(F.col("key").isNotNull())
    )
    queries = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.col("text").alias("key")
    )
    want = {
        r.doc_id: r.maybe_dup
        for r in bloom_screen(corpus, queries).collect()
    }
    got = {
        r.doc_id: r.maybe_dup
        for r in bloom_screen_stream(spark, sf_dir).collect()
    }
    assert got == want
    # every stored (even) doc is a member — no false negatives
    assert all(v for i, v in got.items() if i % 2 == 0)


# ---------------------------------------------------------------------
# hard-negative mining: label filter + exact ranking
# ---------------------------------------------------------------------

def test_mine_hard_negatives_model(spark):
    import math

    from mapreduce_chisquare_spark.operators.simsearch import (
        mine_hard_negatives,
    )

    dim = 64
    vecs = {}
    for i in range(30):
        vecs[i] = [
            float(((i * 31 + d * 17) % 19) - 9) for d in range(dim)
        ]
    rows = [
        (i, [float(x) for x in v], i % 3) for i, v in vecs.items()
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    def cos(a, b):
        # replicate the float32 storage: round-trip through fp32
        import struct

        a = [struct.unpack("f", struct.pack("f", x))[0] for x in a]
        b = [struct.unpack("f", struct.pack("f", x))[0] for x in b]
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    got = {}
    for r in mine_hard_negatives(emb, n_queries=4, k=3).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    for qid in range(4):
        scored = sorted(
            (
                (-cos(vecs[qid], vecs[i]), i)
                for i in vecs
                if i != qid and i % 3 != qid % 3
            ),
        )[:3]
        want = [(rk + 1, i) for rk, (_s, i) in enumerate(scored)]
        assert sorted(got[qid]) == want, qid


# ---------------------------------------------------------------------
# CCNet-style perplexity tiers: ordering + coverage invariants
# ---------------------------------------------------------------------

def test_perplexity_buckets_tier_ordering(spark):
    from mapreduce_chisquare_spark.operators.textstats import (
        quality_perplexity_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = quality_perplexity_buckets(docs).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(
            r.score_fp
        )
    for lang, tiers in by_lang.items():
        if len(tiers) < 3:
            continue  # tiny language: a tier may be empty
        # strict tier ordering: every tail < every middle <= threshold
        # < every head (thresholds are exclusive upper bounds)
        assert max(tiers["tail"]) <= min(tiers["middle"]), lang
        assert max(tiers["middle"]) <= min(tiers["head"]), lang
        # head is the minority-to-third share, never the whole language
        n = sum(len(v) for v in tiers.values())
        assert 0 < len(tiers["head"]) <= n // 2, lang


# ---------------------------------------------------------------------
# overlapping chunker: coverage + shared-context contract
# ---------------------------------------------------------------------

def test_chunk_overlap_covers_and_overlaps(spark):
    from mapreduce_chisquare_spark.operators.packing import (
        chunk_documents_overlap,
    )

    words = [f"w{i}" for i in range(103)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "solo"), (3, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        (
            (r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text)
            for r in chunk_documents_overlap(
                docs, chunk_tokens=50, stride=25
            ).collect()
        )
    )
    d1 = [r for r in rows if r[0] == 1]
    # ceil(103/25) = 5 windows at starts 0,25,50,75,100
    assert [r[1] for r in d1] == [0, 1, 2, 3, 4]
    assert [r[2] for r in d1] == [50, 50, 50, 28, 3]  # short tail
    # window i starts at 25*i — every token covered, halves shared
    for i, (_d, _c, _n, txt) in enumerate(d1):
        toks = txt.split()
        assert toks == words[25 * i : 25 * i + 50], i
    # single-token doc -> one 1-token chunk; null doc -> nothing
    assert [r for r in rows if r[0] == 2] == [(2, 0, 1, "solo")]
    assert not [r for r in rows if r[0] == 3]


# ---------------------------------------------------------------------
# exact_duplicates: NULL texts must not collapse into one group
# ---------------------------------------------------------------------

def test_exact_duplicates_excludes_null_text(spark):
    from mapreduce_chisquare_spark.operators.dedup import (
        exact_duplicates,
    )

    rows = [
        (1, None),
        (2, None),
        (3, None),       # three unrelated NULL docs: no group
        (4, "same body"),
        (5, "same body"),
        (6, ""),
        (7, ""),         # two EMPTY docs genuinely are duplicates
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.text_hash: (r.n_dupes, r.keep_doc_id)
        for r in exact_duplicates(df).collect()
    }
    assert len(got) == 2
    assert (2, 4) in got.values() and (2, 6) in got.values()


def test_canonicalize_url_second_scheme_separator_survives(spark):
    """A '://' inside a query value (redirect/callback params) must
    not truncate the canonical form."""
    cases = [
        (
            "https://example.com/r?u=http://x.com/p",
            "https://example.com/r?u=http://x.com/p",
        ),
        (
            "HTTPS://WWW.EXAMPLE.COM/r?b=1&u=http://x.com/",
            "https://example.com/r?b=1&u=http://x.com/",
        ),
        ("no scheme at all", None),  # malformed stays NULL
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


def test_bucketize_scalable_handles_negative_values(spark):
    """The coarse key is floor division, so negative values keep a
    monotone pk and the two-level cumsum equals the single-level
    form on a signed domain too."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        quantile_bucketize,
        quantile_bucketize_scalable,
    )

    df = spark.range(5_000).select(
        (((F.col("id") * 7919) % 2001) - 1000).alias("v")  # -1000..1000
    )
    want = {
        r.bucket: (r.n_rows, r.lo, r.hi)
        for r in quantile_bucketize(df, "v").collect()
    }
    for cw in (7, 64, 1 << 16):
        got = {
            r.bucket: (r.n_rows, r.lo, r.hi)
            for r in quantile_bucketize_scalable(
                df, "v", coarse_width=cw
            ).collect()
        }
        assert got == want, cw
    assert min(lo for _n, lo, _h in want.values()) < 0  # stress real


# ---------------------------------------------------------------------
# WARC scan: tolerant drops + exact round-trip
# ---------------------------------------------------------------------

def test_scan_warc_roundtrip_and_drops(spark):
    from mapreduce_chisquare_spark.sources.fixtures import warc_documents
    from mapreduce_chisquare_spark.sources.readers import (
        scan_warc_documents,
    )

    sf = "/root/testdata/sf0.001"
    path = warc_documents(sf)
    n_records = (
        spark.read.option("lineSep", "WARC/1.0\r\n")
        .text(path)
        .filter(F.length("value") > 0)
        .count()
    )
    parsed = scan_warc_documents(spark, sf)
    want = {
        r.doc_id: (r.text, r.lang)
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    got = {r.doc_id: (r.text, r.lang) for r in parsed.collect()}
    assert got == want                    # byte-exact round trip
    assert n_records == len(want) + 5     # 5 pathologies present...
    assert parsed.count() == len(want)    # ...and all dropped


def test_robots_screen_drops_ill_formed_rules(spark):
    """A rule with NULL rule_path or NULL allow is unparseable and
    must be ignored — it may neither crash the max-struct nor
    silently decide a page's admission."""
    from mapreduce_chisquare_spark.operators.curation import robots_screen

    rules = spark.createDataFrame(
        [
            ("h", None, False),      # unparseable: no path
            ("h", "/x", None),       # unparseable: no verdict
            ("h", "/x/y", False),    # the one real rule
        ],
        "host string, rule_path string, allow boolean",
    )
    pages = spark.createDataFrame(
        [(1, "h", "/x/y/z"), (2, "h", "/x/other")],
        "doc_id long, host string, path string",
    )
    got = {
        r.doc_id: r.allowed for r in robots_screen(pages, rules).collect()
    }
    # page 1 hits the real disallow; page 2 matches only dropped
    # rules -> default allow
    assert got == {1: False, 2: True}
