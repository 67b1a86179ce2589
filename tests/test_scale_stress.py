"""Empirical scale/skew stress for the dedup and ANN ladders.

The correctness suite runs at sf0.001-0.01 (500 docs) and bench at
sf0.1 (5k docs); every 100 TB claim above that was design-argued only.
This module executes the claims at 100k docs/vectors (20-50x the
largest test parquet). The dedup half plants a mega-cluster — one
boilerplate paragraph shared by 5% of the corpus, the "same footer on
every page" skew that breaks naive LSH — and asserts the three
load-bearing behaviors:

  (a) the LSH bucket-size guard caps pairwise work: raw band buckets
      blow past MAX_BUCKET (the stress is real) but no document's
      candidate-partner count exceeds the guard's bands*(MAX_BUCKET-1)
      contract, so no task can go quadratic;
  (b) span surgery (repeated_spans -> cut_spans) wall-clock scales
      ~linearly from 10k to 100k docs;
  (c) connected-components label propagation converges in a bounded
      handful of rounds despite the mega-cluster, never crawling to
      the max_iter cap.

The ANN half plants each base vector's clones as its ground-truth
neighbours and asserts IVF candidate generation is sublinear (~N/C),
brute-force top-k is linear, and IVF recall on the planted truth
holds at nprobe=1.

Measured numbers live in SCALE.md ("Executed stress" section).
"""

from __future__ import annotations

import hashlib
import time

import pytest
from pyspark.sql import functions as F

# the whole module is multi-minute scale/stress sweeps — full tier only
pytestmark = pytest.mark.slow

from mapreduce_chisquare_spark.operators.dedup import (
    MAX_BUCKET,
    NUM_BANDS,
    NUM_HASHES,
    cut_spans,
    lsh_band_keys,
    minhash_candidate_pairs,
    neardup_components,
    repeated_spans,
    shingles,
)

SF_DIR = "/root/testdata/sf0.1"
BOILERPLATE = (
    "subscribe to our newsletter for updates terms of service apply "
    "all rights reserved contact support for help unsubscribe at any "
    "time privacy policy cookie settings do not sell my information "
    "copyright notice trademarks belong to their respective owners "
    "follow us on social media share this page with your friends "
    "sign in to your account to continue reading the full article"
)


def _stress_corpus(spark, tmpdir, copies: int):
    """copies x sf0.1 documents with disjoint doc_id ranges; every
    20th base doc (5%) gets the shared boilerplate paragraph appended.
    Written to parquet and re-read so downstream scans exercise the
    real source path (pushdown, row groups), not an in-memory plan."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmpdir / f"docs_{copies}x.parquet")
    parts = []
    for i in range(copies):
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.when(
                    F.col("doc_id") % 20 == 0,
                    F.concat_ws(" ", F.col("text"), F.lit(BOILERPLATE)),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@pytest.fixture(scope="module")
def big(spark, tmp_path_factory):
    return _stress_corpus(
        spark, tmp_path_factory.mktemp("stress"), copies=20
    )


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    return _stress_corpus(
        spark, tmp_path_factory.mktemp("stress_small"), copies=2
    )


@pytest.mark.slow
def test_lsh_bucket_guard_caps_pairwise_work(spark, big):
    """Raw mega-cluster buckets exceed MAX_BUCKET by an order of
    magnitude; the guard must still bound every document's candidate
    partners by bands*(MAX_BUCKET-1) — the per-task quadratic cap."""
    bands_df = lsh_band_keys(shingles(big), NUM_HASHES, NUM_BANDS)
    raw_max = (
        bands_df.groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert raw_max > MAX_BUCKET, (
        f"stress too weak: largest raw bucket {raw_max} <= {MAX_BUCKET}"
    )

    pairs = minhash_candidate_pairs(big)
    sym = pairs.select(F.col("doc_a").alias("d")).unionAll(
        pairs.select(F.col("doc_b").alias("d"))
    )
    max_partners = (
        sym.groupBy("d").count().agg(F.max("count")).collect()[0][0]
    )
    cap = NUM_BANDS * (MAX_BUCKET - 1)
    assert 0 < max_partners <= cap, (max_partners, cap, raw_max)


@pytest.mark.slow
def test_span_surgery_scales_linearly(spark, small, big):
    """10x the documents (10k -> 100k, identical distribution) must
    cost ~10x wall-clock, not quadratic blow-up: the gram aggregate,
    the mark join, and the islands merge are all linear shapes. The
    3x slack absorbs this box's documented run-to-run noise; a
    quadratic pipeline would land at ~100x and fail regardless."""

    def run(docs):
        out = cut_spans(docs, repeated_spans(docs))
        t0 = time.perf_counter()
        out.agg(
            F.sum("n_tokens_cut").alias("cut"),
            F.sum(F.length("clean_text")).alias("kept_chars"),
        ).collect()
        return time.perf_counter() - t0

    run(small)  # warm-up: class loading, codegen, parquet footers
    t_small = run(small)
    t_big = run(big)
    ratio = t_big / t_small
    assert ratio < 30.0, (
        f"span surgery super-linear: 10x docs took {ratio:.1f}x "
        f"({t_small:.2f}s -> {t_big:.2f}s)"
    )


@pytest.mark.slow
def test_components_converge_in_bounded_rounds(spark, big):
    """Min-label propagation over the candidate graph — mega-cluster
    included — must converge well inside the max_iter cap (components
    are clique-ish, diameter stays small even at 100k docs)."""
    stats: dict = {}
    comp = neardup_components(big, max_iter=20, stats=stats)
    n_rows = comp.count()  # returning at all means a fixed point
    # measured 10 rounds on this fixture (deterministic); 12 leaves
    # margin for constant tweaks while staying far from the cap
    assert stats["rounds"] <= 12, stats
    # the planted 20-copy groups guarantee components of size >= 20
    biggest = (
        comp.groupBy("component_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert n_rows > 0 and biggest >= 20, (n_rows, biggest)


# ---------------------------------------------------------------------------
# Similarity-search ladder at 100k vectors (round 6): the ANN scale
# claims executed, mirroring the dedup stress above.
# ---------------------------------------------------------------------------

EMB_DIR = "/root/testdata/sf0.1"


def _stress_embeddings(spark, tmpdir, copies: int):
    """copies x the sf0.1 embeddings with disjoint vec_id ranges; each
    copy perturbs dimension 0 by copy*1e-3, so a base vector's clones
    are its true nearest neighbours (planted ground truth) while
    distinct bases stay far apart."""
    base = spark.read.parquet(f"{EMB_DIR}/embeddings.parquet")
    out = str(tmpdir / f"emb_{copies}x.parquet")
    parts = []
    for c in range(copies):
        bumped = F.concat(
            F.array(
                (F.element_at(F.col("embedding"), 1) + F.lit(c * 1e-3))
                .cast("float")
            ),
            F.slice(F.col("embedding"), 2, 63),
        )
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(c * 1_000_000)).alias("vec_id"),
                bumped.alias("embedding"),
                "label",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@pytest.fixture(scope="module")
def emb_big(spark, tmp_path_factory):
    return _stress_embeddings(
        spark, tmp_path_factory.mktemp("emb_stress"), copies=50
    )


@pytest.fixture(scope="module")
def emb_small(spark, tmp_path_factory):
    return _stress_embeddings(
        spark, tmp_path_factory.mktemp("emb_stress_small"), copies=2
    )


@pytest.mark.slow
def test_ivf_candidates_sublinear_and_fit_bounded(spark, emb_big):
    """The IVF probe must touch ~N/C candidates per query, not N —
    the sublinearity that makes ANN an ANN — and the k-means fit's
    driver state stays k x dim floats however big the corpus."""
    from mapreduce_chisquare_spark.operators.simsearch import (
        DIM,
        N_CENTROIDS,
        kmeans_centroids,
        with_centroid_assignment,
    )

    n = emb_big.count()
    cents = kmeans_centroids(emb_big)
    assert len(cents) == N_CENTROIDS
    assert all(len(c) == DIM for c in cents)

    asg = with_centroid_assignment(emb_big, cents)
    n_queries = 8
    q = asg.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    candidates = asg.join(F.broadcast(q), "centroid_id").count()
    brute = n_queries * n
    assert candidates < 0.5 * brute, (candidates, brute)


@pytest.mark.slow
def test_brute_force_topk_scales_linearly(spark, emb_small, emb_big):
    """Exact cosine top-k is a broadcast-join scan: 25x the vectors
    (4k -> 100k) must cost ~25x, bounded at 75x for noise — a
    quadratic shape would land at ~625x."""
    from mapreduce_chisquare_spark.operators.simsearch import cosine_topk

    def run(emb):
        t0 = time.perf_counter()
        cosine_topk(emb, n_queries=8, k=5).collect()
        return time.perf_counter() - t0

    run(emb_small)  # warm-up
    t_small = run(emb_small)
    t_big = run(emb_big)
    assert t_big / t_small < 75.0, (t_small, t_big)


@pytest.mark.slow
def test_ivf_recall_on_planted_clones(spark, emb_big):
    """Each query's 49 planted clones are its true nearest
    neighbours; IVF at nprobe=1 must put mostly clones in its top-5
    (clones share a cell by construction — they differ by 1e-3 in one
    of 64 dimensions)."""
    from mapreduce_chisquare_spark.operators.simsearch import ivf_topk

    n_queries = 8
    rows = ivf_topk(emb_big, n_queries=n_queries, k=5).collect()
    assert rows, "ivf returned nothing"
    clone_hits = sum(
        1 for r in rows if r.vec_id % 1_000_000 == r.query_id
    )
    assert clone_hits / len(rows) >= 0.8, (clone_hits, len(rows))


# ---------------------------------------------------------------------------
# Winnowing at 100k docs (round 7): the fingerprint family was the one
# executed-scale gap flagged by the r6 verdict. The 20-copy corpus
# plants the boilerplate paragraph on 5% of docs (5,000 pages sharing
# a long verbatim suffix), so its winnowing fingerprints form raw fp
# buckets far past MAX_BUCKET — exactly the shared-footer skew that
# turns an unguarded fingerprint self-join quadratic.


@pytest.mark.slow
def test_winnowing_fingerprint_scales_linearly(spark, small, big):
    """10x the documents (10k -> 100k, identical distribution) must
    cost ~10x wall-clock: the fingerprint is map-side array math in
    one projection (zero shuffles), so anything super-linear means a
    per-doc cost that grew with corpus size. Same 3x slack as the
    span test for this box's run-to-run noise."""
    from mapreduce_chisquare_spark.operators.textstats import (
        winnowing_fingerprint,
    )

    def run(docs):
        t0 = time.perf_counter()
        winnowing_fingerprint(docs).agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("fp").alias("d"),
        ).collect()
        return time.perf_counter() - t0

    run(small)  # warm-up: codegen, parquet footers
    t_small = run(small)
    t_big = run(big)
    ratio = t_big / t_small
    assert ratio < 30.0, (
        f"winnowing super-linear: 10x docs took {ratio:.1f}x "
        f"({t_small:.2f}s -> {t_big:.2f}s)"
    )


def _unique_paragraph(k: int, words: int = 60) -> str:
    """Deterministic gibberish paragraph unique to pair k: hex words
    so its 8-char grams collide with neither English-ish base text
    nor other pairs' paragraphs."""
    return " ".join(
        hashlib.md5(f"pair{k}word{j}".encode()).hexdigest()[:8]
        for j in range(words)
    )


@pytest.mark.slow
def test_winnowing_pairs_guard_caps_boilerplate_buckets(spark, big):
    """The fp-bucket guard must hold under planted mega-bucket skew
    WITHOUT killing true local-overlap pairs: (a) the stress is real
    — raw fp buckets reach the ~5,000-doc boilerplate cluster, far
    past MAX_BUCKET; (b) 50 planted pairs sharing a unique paragraph
    each (fp buckets of size 2, untouched by the guard) are ALL
    recovered — the guard drops stop-gram buckets, not signal; (c) no
    document's candidate-partner count approaches the cluster size
    (an unguarded join would give every boilerplate page ~5,000
    partners and the task would go quadratic). Note the 20x-clone
    corpus alone yields ZERO surviving pairs: every base gram appears
    in >= 20x its base-corpus document frequency, so on this ~30-word
    vocabulary nearly all buckets exceed MAX_BUCKET — the planted
    unique-paragraph pairs are what proves recall through the guard."""
    from mapreduce_chisquare_spark.operators.dedup import (
        winnowing_pairs,
    )
    from mapreduce_chisquare_spark.operators.textstats import (
        winnowing_fingerprint,
    )

    planted = spark.createDataFrame(
        [
            (80_000_000 + 2 * k + s, _unique_paragraph(k))
            for k in range(50)
            for s in (0, 1)
        ],
        "doc_id long, text string",
    )
    corpus = big.unionByName(planted)

    fp = winnowing_fingerprint(corpus)
    raw_max = (
        fp.groupBy("fp").count().agg(F.max("count")).collect()[0][0]
    )
    assert raw_max > MAX_BUCKET, f"stress not real: max bucket {raw_max}"

    t0 = time.perf_counter()
    pairs = winnowing_pairs(corpus, min_shared=3).cache()
    try:
        got = {
            (r.doc_a, r.doc_b)
            for r in pairs.filter(
                F.col("doc_a") >= 80_000_000
            ).collect()
        }
        want = {
            (80_000_000 + 2 * k, 80_000_000 + 2 * k + 1)
            for k in range(50)
        }
        assert want <= got, f"planted pairs lost: {sorted(want - got)[:5]}"
        partner_max = (
            pairs.select(F.col("doc_a").alias("d"))
            .unionAll(pairs.select(F.col("doc_b").alias("d")))
            .groupBy("d")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
    finally:
        pairs.unpersist()
    elapsed = time.perf_counter() - t0
    # every boilerplate page would have ~4,999 partners unguarded;
    # the guard drops mega-buckets so partners stay 1-2 orders below
    assert partner_max is not None and partner_max < 1000, partner_max
    assert elapsed < 300, f"pair generation took {elapsed:.0f}s"


# ---------------------------------------------------------------------------
# Data-series family at 100k entities (round 7): ts_paa/ts_sax are one
# user-keyed exchange + same-key aggregates, so 10x the entities must
# cost ~10x; the PAA lower bound must surface planted clone series as
# the exact top-k at scale, refined tier included.


def _series_corpus(spark, tmpdir, users: int):
    """`users` synthetic series x 32 points: hash-derived pseudo-random
    values in [0, 100); every 10,000th user (and user 0) carries a
    planted RAMP shape (value = 3*pos + user/1e6) instead — user 0's
    true nearest series, in user order, for similarity recall checks.
    Written to parquet so scans exercise the real source path."""
    df = (
        spark.range(users)
        .select(
            F.col("id").alias("user_id"),
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("pos"),
        )
        .select(
            "user_id",
            (F.col("user_id") * 32 + F.col("pos")).alias("event_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("pos") * 3600
            ).alias("ts"),
            F.when(
                F.col("user_id") % 10_000 == 0,
                F.col("pos") * 3.0
                + F.col("user_id").cast("double") / 1e6,
            )
            .otherwise(
                (
                    (
                        F.col("user_id") * 2654435761
                        + F.col("pos") * 40503
                    )
                    % 10000
                ).cast("double")
                / 100.0
            )
            .alias("value"),
        )
    )
    out = str(tmpdir / f"series_{users}.parquet")
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@pytest.mark.slow
def test_series_sketch_family_scales_linearly(spark, tmp_path_factory):
    """ts_paa + ts_sax at 10k vs 100k users: both are one user-keyed
    exchange + same-key aggregates, so 10x entities must stay well
    under the 30x noise bound; the word relation is exactly one row
    per user."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_paa,
        ts_sax,
    )

    tmp = tmp_path_factory.mktemp("series_stress")
    small = _series_corpus(spark, tmp, 10_000)
    big = _series_corpus(spark, tmp, 100_000)

    def run(docs):
        t0 = time.perf_counter()
        n_paa = ts_paa(docs).count()
        n_sax = ts_sax(docs).count()
        return time.perf_counter() - t0, n_paa, n_sax

    run(small)  # warm-up
    t_small, _, sax_small = run(small)
    t_big, paa_big, sax_big = run(big)
    assert sax_small == 10_000 and sax_big == 100_000
    assert paa_big == 100_000 * 8
    ratio = t_big / t_small
    assert ratio < 30.0, (
        f"series sketches super-linear: {ratio:.1f}x "
        f"({t_small:.2f}s -> {t_big:.2f}s)"
    )


@pytest.mark.slow
def test_series_similarity_recalls_planted_clones_at_scale(
    spark, tmp_path_factory
):
    """At 100k series the PAA shortlist must surface user 0's 9
    planted ramp clones as the exact top-9 in user order (their
    pairwise distances are the user/1e6 offsets — far below any
    random series' distance), and the refined tier must preserve
    that ranking while staying bounded: its per-run cost is the two
    sketch relations plus a <= 40-row driver collect."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_refined,
        ts_similarity_topk,
    )

    tmp = tmp_path_factory.mktemp("series_sim")
    big = _series_corpus(spark, tmp, 100_000)
    planted = [u for u in range(10_000, 100_000, 10_000)]

    t0 = time.perf_counter()
    coarse = ts_similarity_topk(big, query_user=0, k=9).collect()
    t_coarse = time.perf_counter() - t0
    assert [r.user_id for r in coarse] == planted

    t0 = time.perf_counter()
    refined = ts_similarity_refined(big, query_user=0, k=9).collect()
    t_refined = time.perf_counter() - t0
    assert [r.user_id for r in refined] == planted
    assert all(r.dist2 >= 0 for r in refined)
    assert t_coarse < 120 and t_refined < 240, (t_coarse, t_refined)


# ---------------------------------------------------------------------------
# SemDeDup at 80k vectors (round 7): the pairwise stage must pay
# SUM(cluster size^2), not N^2 — C=64 bounds clusters near ~1,250 —
# and the keep-rule must drop every planted clone toward its base
# while keeping every base.


@pytest.mark.slow
def test_semantic_dedup_drops_planted_clones_at_scale(
    spark, tmp_path_factory
):
    """40x-cloned corpus (80k vectors: each of the 2,000 bases gets
    39 clones perturbing dim 0 by <= 0.039 -> cosine to base ~0.999,
    while distinct bases sit below ~0.52): with a 64-centroid fit,
    every copy-0 base must be kept (it has the smallest id of its
    family, and nothing else reaches the threshold), >= 95% of clones
    must be dropped (a clone survives only if a knife-edge assignment
    splits its family across clusters), and every drop must blame a
    family member."""
    from mapreduce_chisquare_spark.operators.simsearch import (
        kmeans_centroids,
        semantic_dedup,
    )

    emb = _stress_embeddings(
        spark, tmp_path_factory.mktemp("semdedup"), copies=40
    )
    n_base = emb.filter(F.col("vec_id") < 1_000_000).count()
    t0 = time.perf_counter()
    cents = kmeans_centroids(emb, k=64)
    out = semantic_dedup(emb, threshold=0.9, cents=cents).cache()
    try:
        base_dropped = out.filter(
            (F.col("vec_id") < 1_000_000) & ~F.col("is_kept")
        ).count()
        clones = out.filter(F.col("vec_id") >= 1_000_000)
        n_clones = clones.count()
        n_dropped = clones.filter(~F.col("is_kept")).count()
        wrong_blame = clones.filter(
            ~F.col("is_kept")
            & (
                F.col("dup_of") % 1_000_000
                != F.col("vec_id") % 1_000_000
            )
        ).count()
    finally:
        out.unpersist()
    elapsed = time.perf_counter() - t0
    assert base_dropped == 0
    assert n_clones == 39 * n_base
    assert n_dropped >= 0.95 * n_clones, (n_dropped, n_clones)
    assert wrong_blame == 0
    assert elapsed < 300, f"semantic dedup took {elapsed:.0f}s"


@pytest.mark.slow
def test_semantic_dedup_auto_c_keeps_clusters_bounded_as_corpus_doubles(
    spark, tmp_path_factory
):
    """The SemDeDup paper's C ∝ N/target rule is now semantic_dedup's
    DEFAULT (auto_n_centroids): doubling the corpus 80k -> 160k
    doubles the derived C exactly, the LARGEST cluster stays bounded
    by a small multiple of TARGET_CLUSTER_SIZE at BOTH scales
    (measured: max 320 = a handful of clone families at either
    scale), and the pairwise stage's Σ(cluster²)/N² fraction FALLS
    as the corpus grows (measured 0.0015 -> 0.0007; a lagging C
    would hold it flat and drift the stage toward N²). The fraction
    bound is scale-aware: Σs² <= max_s * N, so frac <= (bound * N)/N²
    = bound/N with bound = 4x target."""
    from mapreduce_chisquare_spark.operators.simsearch import (
        TARGET_CLUSTER_SIZE,
        auto_n_centroids,
        kmeans_centroids,
        with_centroid_assignment,
    )

    bound = 4 * TARGET_CLUSTER_SIZE
    stats = {}
    for copies in (40, 80):
        emb = _stress_embeddings(
            spark, tmp_path_factory.mktemp(f"autoc{copies}"), copies
        )
        n = emb.count()
        c = auto_n_centroids(n)
        cents = kmeans_centroids(emb, k=c)
        sizes = [
            r["count"]
            for r in with_centroid_assignment(emb, cents)
            .groupBy("centroid_id")
            .count()
            .collect()
        ]
        stats[copies] = (n, c, max(sizes), sum(s * s for s in sizes) / (n * n))
    (n1, c1, max1, frac1) = stats[40]
    (n2, c2, max2, frac2) = stats[80]
    assert (n1, n2) == (80_000, 160_000)
    assert c2 == 2 * c1 == 1_600  # C doubled with the corpus
    assert max1 <= bound and max2 <= bound, (max1, max2)
    assert frac2 < frac1, (frac1, frac2)  # pairwise share FALLS with N
    assert frac1 <= bound / n1 and frac2 <= bound / n2, (frac1, frac2)


@pytest.mark.slow
def test_dtw_tier_recalls_planted_clones_at_scale(spark, tmp_path_factory):
    """At 100k series the elastic tier must behave like the rest of
    the ladder: user 0's 9 planted ramp clones (constant offsets
    user/1e6 — a warp path can only add cost for a ramp, so banded
    DTW ranks them by offset) come back as the exact top-9 in user
    order, LB_Keogh never exceeds the banded DTW it bounds, and the
    whole search stays inside the bounded-refine budget: LB is one
    fold over the 100k x 16 sketch relation, the DTW DP touches only
    the <= 40-candidate shortlist."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_dtw_topk,
    )

    big = _series_corpus(
        spark, tmp_path_factory.mktemp("series_dtw"), 100_000
    )
    planted = [u for u in range(10_000, 100_000, 10_000)]
    t0 = time.perf_counter()
    out = ts_similarity_dtw_topk(big, query_user=0, k=9).collect()
    elapsed = time.perf_counter() - t0
    assert [r.user_id for r in out] == planted
    for r in out:
        assert r.lb2 <= r.dtw2 + 1e-9, r
    assert elapsed < 240, f"dtw tier took {elapsed:.0f}s"


# ---------------------------------------------------------------------------
# Matrix-profile pair (round 8): motif and discord shard perfectly by
# series — 10x the entities must scale ~linearly, the output is exactly
# one row per qualifying series, and the planted ramp series' exact
# motif/discord arithmetic survives at 100k scale.


@pytest.mark.slow
def test_motif_discord_scale_linearly_with_exact_planted_arithmetic(
    spark, tmp_path_factory
):
    """ts_motif / ts_discord at 10k vs 100k series: per-series work is
    a constant ((G-m+1)^2 * m flops), so 10x entities stays well under
    the 30x noise bound and both return exactly one row per series.
    User 0's planted ramp (value = 3*pos) makes every window pair's
    distance m*(3*(b-a))^2 exactly: the motif is the minimal legal
    separation (0, 5) at 8*15^2 = 1800.0 and the discord's
    nearest-neighbor distance is the same 1800.0 at start 0 — exact
    doubles, asserting the whole fold ladder end-to-end at scale."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_discord,
        ts_motif,
    )

    tmp = tmp_path_factory.mktemp("mp_stress")
    small = _series_corpus(spark, tmp, 10_000)
    big = _series_corpus(spark, tmp, 100_000)

    def run(ev, users):
        t0 = time.perf_counter()
        n_mo = ts_motif(ev).count()
        n_di = ts_discord(ev).count()
        assert n_mo == users and n_di == users
        return time.perf_counter() - t0

    run(small, 10_000)  # warm-up
    t_small = run(small, 10_000)
    t_big = run(big, 100_000)
    ratio = t_big / t_small
    assert ratio < 30.0, (
        f"matrix profile super-linear: {ratio:.1f}x "
        f"({t_small:.2f}s -> {t_big:.2f}s)"
    )

    mo0 = ts_motif(big).filter(F.col("user_id") == 0).collect()[0]
    assert (mo0.start_a, mo0.start_b, mo0.dist2) == (0, 5, 1800.0)
    di0 = ts_discord(big).filter(F.col("user_id") == 0).collect()[0]
    assert (di0.start, di0.nn_dist2) == (0, 1800.0)


# ---------------------------------------------------------------------------
# BPE merge learning (round 8): all rounds run on the VOCABULARY
# relation — 10x the corpus with an identical word distribution leaves
# the per-round work unchanged, merges are deterministic, and chosen
# pair counts never increase with rank (existing pair counts only
# shrink under a merge; new pairs are capped by the merged count).


@pytest.mark.slow
def test_bpe_merges_vocab_bound_and_deterministic_at_scale(
    spark, small, big
):
    from mapreduce_chisquare_spark.operators.textstats import bpe_merges

    t0 = time.perf_counter()
    m_small = [tuple(r) for r in bpe_merges(small).collect()]
    t_small = time.perf_counter() - t0
    t0 = time.perf_counter()
    m_big = [tuple(r) for r in bpe_merges(big).collect()]
    t_big = time.perf_counter() - t0

    assert len(m_big) == 6
    counts = [c for (_, _, _, c) in m_big]
    assert counts == sorted(counts, reverse=True), counts
    pairs = [(l, r) for (_, l, r, _) in m_big]
    assert len(set(pairs)) == 6, pairs
    # identical word distribution at 10x volume: the SAME merges win
    # (counts scale with the corpus, the argmax sequence does not)
    assert [(l, r) for (_, l, r, _) in m_small] == pairs, (
        m_small,
        m_big,
    )
    # deterministic: a second run reproduces the table exactly
    assert [tuple(r) for r in bpe_merges(big).collect()] == m_big
    # vocab-bound: 10x the corpus may cost the extra corpus scan but
    # not 10x the merge loop
    assert t_big / t_small < 8.0, (t_small, t_big)


# =========================================================================
# Graph tier: orientation skew guard + fixed-point PageRank at scale
# =========================================================================

@pytest.mark.slow
def test_triangle_orientation_neutralizes_planted_hub(spark):
    """A 2,000-spoke hub is the wedge bomb: unoriented it alone costs
    C(2000,2) ~ 2M wedges. Degree orientation points every spoke edge
    AT the hub (spokes have the lower degree), so the hub's
    out-degree — and its wedge contribution — is ZERO, and the 60
    planted triangles are still counted exactly."""
    from mapreduce_chisquare_spark.operators.graph import triangle_counts

    rows = []
    okey = 0
    # hub 0 <-> spokes 1..2000, each edge in 2 distinct orders
    for s in range(1, 2001):
        for _ in range(2):
            rows += [(okey, 0), (okey, s)]
            okey += 1
    # 60 disjoint planted triangles on nodes >= 10000
    for t in range(60):
        a = 10000 + 3 * t
        for _ in range(2):
            rows += [(okey, a), (okey, a + 1), (okey, a + 2)]
            okey += 1
    df = spark.createDataFrame(rows, "o_key long, p_key long")

    # python mirror of the edge/degree/orientation contract
    from collections import defaultdict
    deg = defaultdict(int)
    edges = {(0, s) for s in range(1, 2001)} | {
        (a, b)
        for t in range(60)
        for a, b in [
            (10000 + 3 * t, 10001 + 3 * t),
            (10000 + 3 * t, 10002 + 3 * t),
            (10001 + 3 * t, 10002 + 3 * t),
        ]
    }
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    outdeg = defaultdict(int)
    for u, v in edges:
        src = u if (deg[u], u) < (deg[v], v) else v
        outdeg[src] += 1
    wedges_raw = sum(d * (d - 1) // 2 for d in deg.values())
    wedges_oriented = sum(d * (d - 1) // 2 for d in outdeg.values())
    assert wedges_raw > 1_900_000
    assert wedges_oriented < 100  # the guard: hub contributes zero
    assert outdeg[0] == 0

    t0 = time.perf_counter()
    out = {r.p_key: r.tri_cnt for r in triangle_counts(df, top=200).collect()}
    wall = time.perf_counter() - t0
    # exact: every planted node participates in exactly 1 triangle,
    # the hub in none; top=200 returns all 180 planted nodes
    assert out == {10000 + i: 1 for i in range(180)}
    assert wall < 60.0, wall


@pytest.mark.slow
def test_pagerank_bit_identical_to_python_at_120k_edges(spark):
    """120k-edge synthetic web (20k nodes, a 7-step ring plus every
    5th node citing hub 0, plus 2k pure sinks reached from the ring):
    the Spark ranks must equal a plain-Python evaluation of the
    fixed-point contract BIT FOR BIT at this scale — the property
    float PageRank cannot offer — and the hub must win."""
    from mapreduce_chisquare_spark.operators.graph import (
        PR_SCALE,
        pagerank,
    )

    edges = set()
    n_ring = 20000
    for i in range(n_ring):
        edges.add((f"n{i}", f"n{(i * 7 + 1) % n_ring}"))
        edges.add((f"n{i}", f"n{(i + 1) % n_ring}"))
        edges.add((f"n{i}", f"n{(i * 13 + 5) % n_ring}"))
        if i % 5 == 0:
            edges.add((f"n{i}", "n0"))
        if i % 10 == 0:
            edges.add((f"n{i}", f"sink{i // 10}"))  # 2k dangling sinks
    edges = sorted(edges)
    assert len(edges) > 60000
    df = spark.createDataFrame(edges, "src string, dst string")

    t0 = time.perf_counter()
    got = {r.node: r.rank_fp for r in pagerank(df).collect()}
    wall = time.perf_counter() - t0

    # python reference of the same integer contract
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (PR_SCALE * 15) // (100 * n)
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(10):
        inc = dict.fromkeys(nodes, 0)
        for u, v in edges:
            inc[v] += r[u] // outdeg[u]
        dang = sum(r[v] for v in nodes if v not in outdeg) // n
        r = {v: base + (85 * (inc[v] + dang)) // 100 for v in nodes}
    assert got == r
    assert max(got, key=got.get) == "n0"
    # total-mass conservation within cumulative floor losses
    assert abs(sum(got.values()) - PR_SCALE) < 100 * n
    assert wall < 120.0, wall


# =========================================================================
# C4 line dedup and KMV at scale
# =========================================================================

@pytest.mark.slow
def test_c4_line_dedup_scales_linearly_and_cuts_boilerplate(
    spark, small, big
):
    """The corpus-global line shuffle at 100k docs: the 20x corpus
    (whose docs repeat the 10k corpus's texts verbatim under new ids)
    must dedup every repeated line down to ONE owner — kept-line
    volume and surviving-doc count stay exactly at the 2x corpus's
    level because every later copy loses all its lines and drops out
    under min_doc_lines (the C4 semantics) — and wall-clock stays
    ~linear in the input, because the plan is two exchanges
    regardless of duplication structure."""
    from pyspark.sql import functions as F

    from mapreduce_chisquare_spark.operators.curation import c4_line_dedup

    def relined(docs):
        return docs.select(
            "doc_id",
            F.filter(F.split("text", " "), lambda w: w != "").alias("__ws"),
        ).select(
            "doc_id",
            F.when(
                F.size("__ws") > 0,
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.expr("(size(__ws) + 9) div 10 - 1")),
                        lambda i: F.array_join(F.slice("__ws", i * 10 + 1, 10), " "),
                    ),
                    "\n",
                ),
            ).alias("text"),
        ).filter(F.col("text").isNotNull())

    def run(docs):
        t0 = time.perf_counter()
        out = (
            c4_line_dedup(relined(docs))
            .agg(
                F.sum("n_lines_kept").alias("k"),
                F.sum("n_lines_dropped").alias("d"),
                F.count("*").alias("docs"),
            )
            .collect()[0]
        )
        return out, time.perf_counter() - t0

    run(small)  # warm-up
    s_out, t_small = run(small)
    b_out, t_big = run(big)
    # every distinct line has exactly ONE owner: the 20x corpus keeps
    # the SAME distinct-line set and the SAME survivor set as the 2x
    # corpus (identical texts; all-duplicate later copies die under
    # min_doc_lines, dropping their counters with them)
    assert (b_out.k, b_out.d, b_out.docs) == (s_out.k, s_out.d, s_out.docs)
    # the survivors are a fraction of the 100k inputs: dedup did work
    n_in = big.count()
    assert n_in >= 100_000 and b_out.docs < n_in // 10
    # linear-ish: 10x the input must not cost more than ~10x the time
    assert t_big / t_small < 10.0, (t_small, t_big)


@pytest.mark.slow
def test_kmv_accuracy_and_merge_law_at_200k_distinct(spark):
    """KMV at real cardinality: 600k rows / 200k distinct keys across
    3 skewed groups — per-group estimates land inside 4 standard
    errors (deterministic hash: this is a fixed fact, not a flaky
    bound), and the merge of the 3 sketch states equals the direct
    sketch of the union bit-for-bit."""
    from pyspark.sql import functions as F

    from mapreduce_chisquare_spark.operators.sketches import (
        kmv_distinct,
        kmv_kept,
        kmv_merge,
    )

    df = (
        spark.range(0, 600_000, 1, 32)
        .select(
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias(
                "grp"
            ),
            # group g0 sees keys 0..199999, g1 0..99999, g2 0..39999
            F.when(F.col("id") % 3 == 0, F.col("id") % 200_000)
            .when(F.col("id") % 3 == 1, F.col("id") % 100_000)
            .otherwise(F.col("id") % 40_000)
            .alias("key"),
        )
    )
    out = {
        r.grp: r.kmv_distinct
        for r in kmv_distinct(df, "key", "grp", k=256).collect()
    }
    truth = {"g0": 200_000, "g1": 100_000, "g2": 40_000}
    for g, t in truth.items():
        se = t / (254 ** 0.5)
        assert abs(out[g] - t) < 4 * se, (g, out[g], t)
    merged = kmv_merge(kmv_kept(df, "key", "grp", k=256), k=256).collect()[0]
    direct = kmv_distinct(
        df.selectExpr("'all' AS g", "key"), "key", "g", k=256
    ).collect()[0]
    assert merged.kmv_distinct == direct.kmv_distinct
    assert abs(merged.kmv_distinct - 200_000) < 4 * (200_000 / 254 ** 0.5)


# ---------------------------------------------------------------------------
# Round 9: perceptual image near-dup at 100k, cluster-bucketed
# similarity JOIN cell cost, rank-sketch merge law + error at scale.


@pytest.mark.slow
def test_image_neardup_guard_and_recall_at_100k(spark, tmp_path_factory):
    """105k payloads structured as 5,000 near-dup FAMILIES (each base
    doc appears 20x with a distinct numeric id prefix — one digit
    apart, the mirrored-corpus shape) + 5,000 planted one-pixel-
    perturbed clones + a 2,000-strong solid-color bomb (every bomb
    payload hashes to the same bands — the boilerplate-image skew).
    Asserts (a) planted recall is 100% (the d<=3 pigeonhole contract
    holds at scale), (b) the bomb contributes ZERO pairs because its
    band buckets blow past MAX_BUCKET and are dropped — without the
    guard it alone would emit C(2000,2) ≈ 2.0M pairs, (c) found
    pairs are overwhelmingly intra-family (measured cross-family
    collisions ~0.3% — the 64-bit dHash precision trade a downstream
    verify stage absorbs), (d) the total stays bounded by the family
    structure (max 5,000 x C(20,2) + planted ≈ 0.95M; measured
    ~0.48M), (e) wall time stays in linear-scan territory."""
    from mapreduce_chisquare_spark.operators.imagehash import (
        N_PIX,
        image_neardup_pairs,
        image_phash,
        pixel_pos,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path_factory.mktemp("img100k") / "docs.parquet")
    parts = []
    for i in range(20):
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                # id prefix: copies of one base doc differ in a digit
                # or two -> a 20-member near-dup family per base doc
                F.concat_ws(
                    " ",
                    (F.col("doc_id") + F.lit(i * 1_000_000)).cast(
                        "string"
                    ),
                    F.col("text"),
                ).alias("text"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # planted clones: every 20th doc, one sampled pixel replaced
    ppos = pixel_pos(20).format(t="text")
    pert = (
        f"concat(substring(text, 1, ({ppos}) - 1), "
        f"CASE WHEN ascii(substring(text, {ppos}, 1)) > 60 "
        "THEN char(1) ELSE char(120) END, "
        f"substring(text, ({ppos}) + 1))"
    )
    clones = u.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
        F.expr(pert).alias("text"),
    )
    bomb = spark.range(2_000).select(
        (F.col("id") + F.lit(90_000_000)).alias("doc_id"),
        F.lit("x" * 100).alias("text"),
    )
    corpus = u.unionByName(clones).unionByName(bomb)
    corpus.write.mode("overwrite").parquet(out)
    corpus = spark.read.parquet(out)
    n = corpus.count()
    assert n == 107_000
    t0 = time.perf_counter()
    pairs = image_neardup_pairs(image_phash(corpus))
    agg = pairs.agg(
        F.count("*").alias("total"),
        F.sum(
            (
                (F.col("a_id") % 1_000_000)
                != (F.col("b_id") % 1_000_000)
            ).cast("long")
        ).alias("cross_family"),
        F.sum(
            (
                (F.col("a_id") >= 90_000_000)
                & (F.col("b_id") >= 90_000_000)
            ).cast("long")
        ).alias("bomb_pairs"),
    ).collect()[0]
    elapsed = time.perf_counter() - t0
    # recall: every planted (base, base+50M) pair survives
    planted_pairs = (
        pairs.filter(
            (F.col("b_id") >= 50_000_000) & (F.col("b_id") < 90_000_000)
        )
        .filter(F.col("a_id") == F.col("b_id") - 50_000_000)
        .count()
    )
    assert planted_pairs == 5_000, planted_pairs
    assert agg["bomb_pairs"] == 0, agg
    # bounded by the family structure, nowhere near a guard-less
    # bomb's +2.0M; and precision: cross-family collisions <1%
    assert agg["total"] < 1_000_000, agg
    assert agg["cross_family"] < agg["total"] // 100, agg
    assert elapsed < 300, f"image neardup took {elapsed:.0f}s"
    print(
        f"[stress] image_neardup 107k: total={agg['total']} "
        f"cross_family={agg['cross_family']} planted=5000/5000 "
        f"bomb_pairs=0 wall={elapsed:.1f}s"
    )


@pytest.mark.slow
def test_similarity_join_cell_cost_bounded_as_corpus_doubles(
    spark, tmp_path_factory
):
    """similarity_join's Σ(cell_A x cell_B) deal under the auto-C
    rule, beside SemDeDup's Σ(cluster²) row: doubling both corpora
    (A = 40k->80k, B = A/10 clones) with C = auto_n_centroids(|A|)
    keeps the candidate-pair fraction FALLING and planted recall at
    100% at both scales."""
    from mapreduce_chisquare_spark.operators.simsearch import (
        auto_n_centroids,
        kmeans_centroids,
        similarity_join,
        with_centroid_assignment,
    )

    stats = {}
    for copies in (20, 40):
        emb = _stress_embeddings(
            spark, tmp_path_factory.mktemp(f"sj{copies}"), copies
        )
        left = emb.select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double")
            ).alias("embedding"),
        )
        n = left.count()
        right = left.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + F.lit(500_000_000)).alias("vec_id"),
            F.concat(
                F.array(
                    F.element_at(F.col("embedding"), 1) + F.lit(1e-4)
                ),
                F.slice(F.col("embedding"), 2, 63),
            ).alias("embedding"),
        )
        m = right.count()
        cents = kmeans_centroids(left, k=auto_n_centroids(n))
        ca = (
            with_centroid_assignment(left, cents)
            .groupBy("centroid_id")
            .count()
            .withColumnRenamed("count", "na")
        )
        cb = (
            with_centroid_assignment(right, cents)
            .groupBy("centroid_id")
            .count()
            .withColumnRenamed("count", "nb")
        )
        cand = (
            ca.join(cb, "centroid_id")
            .agg(F.sum(F.col("na") * F.col("nb")))
            .collect()[0][0]
        )
        hits = similarity_join(left, right, cents).filter(
            F.col("a_id") == F.col("b_id") - 500_000_000
        )
        stats[copies] = (n, m, cand / (n * m), hits.count())
    (n1, m1, f1, r1) = stats[20]
    (n2, m2, f2, r2) = stats[40]
    assert (n1, n2) == (40_000, 80_000)
    assert r1 == m1 and r2 == m2  # planted recall 100% at both scales
    assert f2 < f1, (f1, f2)  # candidate fraction falls as N doubles
    print(
        f"[stress] similarity_join cells: 40k frac={f1:.6f} "
        f"80k frac={f2:.6f} recall={r1}/{m1},{r2}/{m2}"
    )


@pytest.mark.slow
def test_rank_sketch_merge_law_and_error_at_sf01(spark):
    """At the full sf0.1 event log: (a) the sharded-then-merged
    sketch equals the direct sketch BIT-FOR-BIT (the 1000-executor
    safety property), (b) each per-type p50/p95/p99 estimate lands
    within 10 rank-percent of the exact quantile (k=256 ->
    sigma ~ 3.1%; the deterministic md5 sample is one fixed draw)."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        dq_quantiles,
        dq_quantiles_sketch,
        dq_quantiles_sketch_merge,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n = ev.count()
    direct = {
        r.event_type: r for r in dq_quantiles_sketch(ev).collect()
    }
    merged = {
        r.event_type: r
        for r in dq_quantiles_sketch_merge(ev, shards=8).collect()
    }
    assert set(direct) == set(merged)
    for et in direct:
        assert tuple(direct[et]) == tuple(merged[et]), et
    for et, row in direct.items():
        sub = ev.filter(F.col("event_type") == et)
        tot = sub.count()
        for p in (50, 95, 99):
            est = row[f"p{p}"]
            below = sub.filter(F.col("value") <= est).count()
            assert abs(below / tot - p / 100) <= 0.10, (
                et,
                p,
                est,
                below / tot,
            )
    print(f"[stress] rank sketch at sf0.1: n={n}, merge law exact")


# ---------------------------------------------------------------------------
# Flagship χ² hot-key skew stress (round 11, round-10 verdict #4)
# ---------------------------------------------------------------------------

def _skewed_reviews(spark, n: int = 100_000):
    """100k docs with BOTH skew axes planted: 90% of docs in one
    category ('hotcat'), and one term ('hotterm') in 80% of ALL docs —
    the raw (term, category) stream carries 70k rows on a single key
    (~23% of the whole stream). Vocabulary words are 4-letter alpha
    tokens (digits are delimiters) spread over ~17.6k values."""

    def word(prefix: str, e: str) -> str:
        a = f"char(97 + ({e}) % 26)"
        b = f"char(97 + (({e}) div 26) % 26)"
        c = f"char(97 + (({e}) div 676) % 26)"
        return f"concat('{prefix}', {a}, {b}, {c})"

    return spark.range(n).selectExpr(
        "id AS doc_id",
        f"concat({word('w', 'id')}, ' ', {word('v', 'id * 7 + 3')}, "
        "CASE WHEN id % 5 != 0 THEN ' hotterm' ELSE '' END) "
        "AS reviewText",
        "CASE WHEN id % 10 <= 8 THEN 'hotcat' ELSE 'coldcat' END "
        "AS category",
    )


def test_flagship_chi2_hot_key_collapses_before_exchange(spark):
    """The flagship's answer to key skew is STRUCTURAL — partial
    (map-side) aggregation collapses a hot (term, category) key to
    one partial row per input partition before anything shuffles, so
    no reducer-side partition inherits the key's raw frequency. This
    test executes that claim at 100k docs and measures it:

      (a) the stress is real: hash-distributing the RAW token stream
          by (term, category) — what a combiner-less engine does —
          produces a partition carrying >= 5x the mean (the hot key's
          ~70k rows land on one reducer);
      (b) the flagship's post-aggregate relation, hash-partitioned on
          the same key (AQE coalescing off so the 32-way layout is
          observable), stays balanced: max partition <= 2x mean;
      (c) under BOTH planted skews the planted key's chi2 equals the
          closed-form Python computation bit-for-bit, and the
          pipeline's top-k completes.
    Measured numbers recorded in SCALE.md ("Executed stress")."""
    import statistics as stats

    from mapreduce_chisquare_spark.functions.text import tokens_relation
    from mapreduce_chisquare_spark.operators.contingency import (
        chi_square_relation,
        term_cat_counts,
    )
    from mapreduce_chisquare_spark.plans.chisquare import (
        chi_square_top_terms,
    )

    n = 100_000
    reviews = _skewed_reviews(spark, n)
    docs = reviews.selectExpr("doc_id", "reviewText AS text", "category")
    tokens = tokens_relation(docs, stopwords=[])

    def pid_counts(df):
        rows = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return [r["count"] for r in rows]

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # (a) raw stream by key: the hot key funnels one partition
        raw = pid_counts(tokens.repartition(32, "term", "category"))
        raw_ratio = max(raw) / stats.mean(raw)
        assert raw_ratio >= 5.0, raw
        # (b) post partial-agg: the same key layout is balanced
        agg = term_cat_counts(tokens)
        post = pid_counts(agg)
        post_ratio = max(post) / stats.mean(post)
        assert post_ratio <= 2.0, post
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    print(
        f"SCALE-STRESS flagship skew: raw max/mean {raw_ratio:.1f}x "
        f"(n={sum(raw)} rows), post-agg max/mean {post_ratio:.2f}x "
        f"(n={sum(post)} keys)"
    )

    # (c) exact result under skew: closed-form for (hotterm, hotcat)
    a, df_t, df_c = 70_000, 80_000, 90_000
    b, c = df_t - a, df_c - a
    d = n - a - b - c
    ad_bc = float(a) * float(d) - float(b) * float(c)
    num = float(n) * ad_bc * ad_bc
    denom = float(a + b) * float(a + c) * float(b + d) * float(c + d)
    expected = num / denom
    got = (
        chi_square_relation(tokens, docs)
        .filter((F.col("term") == "hotterm") & (F.col("category") == "hotcat"))
        .collect()
    )
    assert len(got) == 1 and got[0]["chi2"] == expected
    topk = chi_square_top_terms(reviews, stopwords=[], k=5).collect()
    cats = {r["category"] for r in topk}
    assert cats == {"hotcat", "coldcat"}


# ---------------------------------------------------------------------------
# Round-11 media-decode ladder stress: decode throughput is linear,
# and the video pair stage survives a slate-frame bomb
# ---------------------------------------------------------------------------

def _id_df(spark, n):
    return spark.range(0, n).withColumnRenamed("id", "doc_id")


def test_decoded_phash_scales_linearly(spark):
    """Real-PNG decode + dHash is partition-parallel Python with zero
    exchanges: 10x the images must cost far less than 10x wall-clock
    (fixed overhead dominates at these sizes; a super-linear decode
    would blow the 30x bound the other linear stress rows use)."""
    import time

    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    def run(n):
        media = _id_df(spark, n).mapInPandas(
            mm.synth_png_batch, mm.PNG_MEDIA_SCHEMA
        )
        t0 = time.perf_counter()
        cnt = ih.image_phash_decoded(media).count()
        return cnt, time.perf_counter() - t0

    run(10_000)  # warm-up: codegen, Arrow init
    c1, t1 = run(10_000)
    c2, t2 = run(100_000)
    assert (c1, c2) == (10_000, 100_000)
    assert t2 <= 30 * t1, (t1, t2)
    print(
        f"SCALE-STRESS decoded phash: 10k={t1:.2f}s 100k={t2:.2f}s "
        f"({t2 / t1:.1f}x wall for 10x images)"
    )


def _stress_video_frames(d: int):
    """Hash-pixel 3-frame clip per doc id: every pixel is an
    avalanche-mixed hash of (doc, frame, row, col), so 50k videos
    occupy the 64-bit dHash space sparsely — unlike the registered
    fixture's affine formula, whose gradient patterns repeat mod 256
    and saturate at this scale (measured: corpus-wide buckets over
    MAX_BUCKET excised the planted pairs), and unlike a plain LCG,
    whose LOW-bit stream depends only on seed mod 256 (also
    measured: the whole corpus collapsed onto <= 256 distinct pixel
    streams). Both are the guard trade working as documented — but
    the wrong fixture for a recall assertion."""
    w, h = 12, 8
    frames = []
    for f in range(3):
        rows = []
        for r in range(h):
            row = []
            for c in range(w):
                v = (
                    d * 2654435761
                    + f * 40503
                    + r * 2246822519
                    + c * 3266489917
                ) & 0xFFFFFFFF
                v = ((v ^ (v >> 15)) * 2246822519) & 0xFFFFFFFF
                row.append((v >> 13) % 256)
            rows.append(row)
        frames.append(rows)
    return w, h, frames


def test_video_neardup_survives_slate_frame_bomb(spark):
    """Adversarial video dedup at 50k videos + a 3,000-video bomb of
    IDENTICAL all-black clips (every frame hashes equal — the 'slate
    frames' degenerate case). The MAX_BUCKET guard must excise the
    bomb's hash buckets BEFORE the self-join (an unguarded join would
    pay ~3000^2 * frames pairs), every planted one-perturbed-pixel
    clone must be recalled, and no bomb video may appear in any
    pair."""
    import time

    import pandas as pd

    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    n, n_bomb = 50_000, 3_000
    bomb_base = 10_000_000

    def media_batch(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d >= bomb_base:  # identical all-black 3-frame clip
                    payloads.append(
                        mm.encode_avi_frames(
                            12, 8, [[[0] * 12 for _ in range(8)]] * 3
                        )
                    )
                elif d >= mm.PHASH_CLONE_OFFSET:
                    w, h, frames = _stress_video_frames(
                        d - mm.PHASH_CLONE_OFFSET
                    )
                    frames[0][3][4] = (frames[0][3][4] + 128) % 256
                    payloads.append(mm.encode_avi_frames(w, h, frames))
                else:
                    payloads.append(
                        mm.encode_avi_frames(*_stress_video_frames(d))
                    )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    base = _id_df(spark, n)
    clones = base.filter("doc_id % 1000 = 0").selectExpr(
        f"doc_id + {mm.PHASH_CLONE_OFFSET} AS doc_id"
    )
    bombs = spark.range(bomb_base, bomb_base + n_bomb).withColumnRenamed(
        "id", "doc_id"
    )
    media = (
        base.unionByName(clones)
        .unionByName(bombs)
        .mapInPandas(media_batch, mm.PNG_MEDIA_SCHEMA)
    )
    t0 = time.perf_counter()
    got = {
        (r.a_id, r.b_id): r.n_shared
        for r in ih.video_neardup_pairs(
            ih.video_frame_phash(media)
        ).collect()
    }
    wall = time.perf_counter() - t0
    # every planted clone recalled: frames 1 and 2 are bit-identical
    recalled = 0
    for b in range(0, n, 1000):
        key = (b, b + mm.PHASH_CLONE_OFFSET)
        assert key in got and got[key] >= 2, (key, got.get(key))
        recalled += 1
    # the bomb contributes ZERO pairs (guard excised its buckets)
    bomb_pairs = [
        k for k in got if k[0] >= bomb_base or k[1] >= bomb_base
    ]
    assert bomb_pairs == [], bomb_pairs[:5]
    print(
        f"SCALE-STRESS video bomb: {n} videos + {n_bomb} identical "
        f"slates -> {len(got)} pairs, {recalled}/50 clones recalled, "
        f"0 bomb pairs, {wall:.1f}s end-to-end"
    )


# ---------------------------------------------------------------------------
# Inverted-index hot-term stress (round 11 fourth batch)
# ---------------------------------------------------------------------------

def test_inverted_index_hot_term_state_stays_bounded(spark):
    """A stopword-grade term appearing in EVERY document is the
    inverted index's skew axis: a naive collect_list(doc_id) buffers
    the whole corpus under one key. This executes the bounded-collect
    claim at 100k docs — the hot term's df/cf still count everything,
    but its materialized posting list carries exactly max_postings
    ids (the row_number pre-cut), and wall-clock stays in the same
    regime as the uniform-vocabulary case."""
    from mapreduce_chisquare_spark.operators.textstats import (
        inverted_index,
    )

    n = 100_000
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        # 'the' in every doc (plus twice in every 3rd), spread
        # vocabulary elsewhere: ~26k distinct cold terms
        "concat('the ', CASE WHEN id % 3 = 0 THEN 'the ' ELSE '' END,"
        " 'w', CAST(id % 26000 AS STRING)) AS text",
    )
    t0 = time.time()
    rows = {r.term: r for r in inverted_index(docs, k=5).collect()}
    wall = time.time() - t0
    hot = rows["the"]
    assert hot.df == n
    assert hot.cf == n + n // 3 + (1 if n % 3 else 0)
    postings = hot.postings.split(",")
    assert postings == [str(i) for i in range(20)]  # bounded + sorted
    # cold terms: df == docs per vocab slot, postings all present
    cold = rows["w0"]
    assert cold.df == (n + 25999) // 26000
    assert wall < 120, f"inverted index at 100k docs took {wall:.0f}s"


# ---------------------------------------------------------------------
# Round-12 stress: bucketize ties, HLL register bound, reach mega-user
# ---------------------------------------------------------------------

def test_quantile_bucketize_hot_value_and_window_bound(spark):
    """The distinct-value window is the quantile_bucketize scale
    hinge: 1M rows with only THREE distinct values (a brutally hot
    value domain — 90% one value) must (a) run the window over 3
    rows, not 1M, (b) keep every tied row in ONE bucket, and (c)
    partition the row count exactly."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        quantile_bucketize,
    )

    n = 1_000_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("v")
    )
    t0 = time.time()
    out = {
        r.bucket: (r.n_rows, r.lo, r.hi)
        for r in quantile_bucketize(df, "v", b=4).collect()
    }
    wall = time.time() - t0
    # value 3: below = 0 -> bucket 0; value 7: below = 100k ->
    # 100k*4 div 1M = 0 -> bucket 0 too: every tied row lands in ONE
    # bucket (ntile would have split the 900k-row tie across 4)
    assert out == {0: (n, 3, 7)}
    assert wall < 60, wall


def test_hll_state_stays_64_rows_at_1m_keys(spark):
    """1M distinct keys: the register relation is still exactly
    HLL_M rows (map-side max combine — the sketch never carries the
    key space), and the estimate lands inside the published
    1.04/sqrt(m) relative-error envelope (3 sigma)."""
    from mapreduce_chisquare_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    n = 1_000_000
    df = spark.range(n).select(F.col("id").alias("k"))
    regs = hll_registers(df, "k")
    assert regs.count() == HLL_M
    est = hll_estimate(regs).collect()[0].hll_estimate
    rel = abs(est - n) / n
    assert rel < 3 * 1.04 / (HLL_M ** 0.5), (est, rel)


def test_cumulative_reach_mega_user_bounded(spark):
    """A single user producing 500k same-type events in one day (the
    bot/load-test skew axis): the first-touch window partitions by
    (type, user), so the hot key is one partition of 500k rows —
    sorted once, never exploded — and the result attributes exactly
    ONE new user."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        cumulative_reach,
    )

    n = 500_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id")
        ).alias("ts"),
        F.lit(42).cast("long").alias("user_id"),
        F.lit("bot").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    t0 = time.time()
    rows = cumulative_reach(ev).collect()
    wall = time.time() - t0
    assert len(rows) == 1
    assert (rows[0].n_events, rows[0].new_users, rows[0].cum_users) == (
        n, 1, 1,
    )
    assert wall < 60, wall


def test_hits_mega_hub_mass_conserved_and_bounded(spark):
    """A 50k-leaf star (one mega-authority): HITS half-step totals
    must stay inside the stated overflow budget (post-renorm mass ≈
    scale; the raw totals here are ~scale · 1 since every edge
    funnels into one node), the hub mass must split EXACTLY evenly
    over the symmetric leaves, and the full 8-iteration run stays
    wall-bounded."""
    from mapreduce_chisquare_spark.operators.graph import (
        HITS_SCALE,
        hits,
    )

    n = 50_000
    edges = spark.range(1, n + 1).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    t0 = time.time()
    rows = hits(edges).collect()
    wall = time.time() - t0
    got = {r.node: (r.hub_fp, r.auth_fp) for r in rows}
    assert len(got) == n + 1
    # the sink is the only authority, and holds ~all authority mass
    assert got[0][0] == 0 and got[0][1] >= HITS_SCALE * 9 // 10
    leaf_hubs = {got[i][0] for i in range(1, n + 1)}
    leaf_auths = {got[i][1] for i in range(1, n + 1)}
    assert leaf_auths == {0}
    assert len(leaf_hubs) == 1       # symmetric leaves tie EXACTLY
    assert leaf_hubs != {0}          # and carry real hub mass
    assert wall < 300, wall


# ---------------------------------------------------------------------------
# ER survivorship / LSH blocking at a 10k-member mega-cluster (round
# 13): executes the two scale claims of the entity-resolution tier —
# the LSH bucket guard keeps a zero-entropy mega-block from going
# quadratic, and clustering + survivorship stay state- and
# wall-bounded on a single 10k-member component.
# ---------------------------------------------------------------------------


def test_er_lsh_mega_block_excised_not_quadratic(spark):
    """10k records sharing ONE name: every MinHash band bucket is
    10k >> max_bucket, so the guard must excise the whole block
    (disclosed truncation) instead of emitting ~50M intra-block
    pairs — while normal-entropy clone pairs planted beside the
    mega-block are still recovered, and no record's candidate-partner
    count exceeds the bands*(max_bucket-1) contract."""
    import hashlib

    from mapreduce_chisquare_spark.operators.dedup import NUM_BANDS
    from mapreduce_chisquare_spark.operators.linkage import (
        ER_MAX_BLOCK,
        blocking_pairs_lsh,
    )

    mega = [(i, "acme corporation customer record") for i in range(10_000)]
    clones = []
    for g in range(40):
        nm = hashlib.md5(f"clone{g}".encode()).hexdigest()[:12]
        clones.append((100_000 + g, nm))
        clones.append((200_000 + g, nm[:11]))  # distance 1
    df = spark.createDataFrame(mega + clones, "rid long, name string")
    t0 = time.time()
    pairs = blocking_pairs_lsh(df, "rid", "name").collect()
    wall = time.time() - t0
    got = {(r.id_a, r.id_b) for r in pairs}
    # the mega-block is excised: no pair touches any of its 10k ids
    assert all(a >= 100_000 and b >= 100_000 for a, b in got), sorted(got)[:5]
    # every planted clone pair recovered through band buckets alone
    want = {(100_000 + g, 200_000 + g) for g in range(40)}
    assert want <= got, want - got
    # per-record candidate work stays inside the guard's bound
    from collections import Counter

    partners = Counter()
    for a, b in got:
        partners[a] += 1
        partners[b] += 1
    cap = NUM_BANDS * (ER_MAX_BLOCK - 1)
    assert max(partners.values()) <= cap, max(partners.values())
    assert wall < 120, wall


def test_er_survivorship_10k_member_cluster_bounded(spark):
    """One 10k-member match component (shallow hub topology — the
    clique-ish shape real blocked pairs produce) plus 500 singletons:
    min-label clustering must converge in a handful of rounds (state
    is |V| rows, never pair-quadratic), survivorship's window runs
    over the component-sized partition once, the longest-name /
    min-id tie-break picks the planted canonical record exactly, and
    the whole pass stays wall-bounded."""
    from mapreduce_chisquare_spark.operators.linkage import (
        match_clusters,
        survivorship,
    )

    n = 10_000
    long_a = "consolidated global acme holdings incorporated " + "x" * 13
    long_b = "consolidated global acme holdings incorporated " + "y" * 13
    assert len(long_a) == len(long_b) == 60

    recs = spark.range(n + 500).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") == 4_321, F.lit(long_a))
        .when(F.col("id") == 8_000, F.lit(long_b))  # same max length
        .otherwise(
            F.concat(
                F.lit("entity-"),
                F.col("id").cast("string"),
                F.lit("-"),
                F.expr("repeat('x', CAST(id % 7 AS INT))"),
            )
        )
        .alias("name"),
    )
    # shallow mega-component: leaves pair with their bucket hub,
    # hubs pair with record 0 (diameter 4); rids >= n stay singleton
    leaves = spark.range(1, n).select(
        (F.col("id") - F.col("id") % 100).alias("id_a"),
        F.col("id").alias("id_b"),
    )
    hubs = spark.range(1, 100).select(
        F.lit(0).cast("long").alias("id_a"),
        (F.col("id") * 100).alias("id_b"),
    )
    pairs = leaves.unionByName(hubs)
    stats: dict = {}
    t0 = time.time()
    clusters = match_clusters(
        pairs, max_iter=20, stats=stats, records=recs, id_col="rid"
    )
    out = {
        r.cluster_id: (r.canonical_id, r.canonical_name, r.n_members)
        for r in survivorship(recs, clusters).collect()
    }
    wall = time.time() - t0  # returning at all means a fixed point
    assert stats["rounds"] <= 6, stats  # diameter 4 + detect round
    # one mega-cluster holding all n members, canonical = longest
    # name, tie broken to the smaller id
    assert out[0] == (4_321, long_a, n)
    # the 500 non-matched records survive as their own clusters
    singles = [k for k, v in out.items() if v[2] == 1]
    assert len(singles) == 500
    assert all(out[k][0] == k for k in singles)
    assert wall < 120, wall
