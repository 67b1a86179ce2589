"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference (which has no dedup), these are the standard
LLM-corpus dedup family, each expressed as pure DataFrame ops so they
distribute: exact (hash groupBy), MinHash+LSH (shingle → k min-hashes
→ banded bucket join), SimHash (bitwise majority over term hashes),
and exact n-gram Jaccard for candidate verification.

Cross-engine determinism: all hashing is md5 (identical in Spark and
DuckDB); MinHash values are the first 8 md5 hex digits as a 32-bit
integer — numeric so Spark keeps the signature aggregate in
HashAggregate (min over strings is not a fixed-width agg buffer and
falls back to SortAggregate, adding a full sort of the shingle
relation), and reproducible in DuckDB via digit arithmetic.

Scale posture: every step is a hash aggregate or an equi-join on a
bucket key. The LSH bucket join carries a bucket-size guard
(2..MAX_BUCKET) — a mega-bucket (degenerate shingle) is a quadratic
skew bomb at 100 TB; dropping it is both the standard practice and a
documented semantic choice mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import DELIM_REGEX
from .spread import spread_for_kernel

NUM_HASHES = 16
NUM_BANDS = 8  # rows per band = NUM_HASHES // NUM_BANDS = 2
MAX_BUCKET = 100
SHINGLE_N = 3


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; one shuffle on the hash.
    Returns (text_hash, n_dupes, keep_doc_id) for groups of size >= 2
    (keep = smallest doc_id, the conventional survivor rule).

    NULL texts are EXCLUDED before the groupBy: md5(NULL) is NULL and
    groupBy treats NULLs as equal, so without the filter every
    NULL-text document corpus-wide would collapse into one false
    duplicate group (the dedup_url_groups failure class). Empty
    strings stay in — two empty documents genuinely are exact
    duplicates."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_dupes"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_dupes") >= 2)
    )


def _word_array(text: Column) -> Column:
    toks = F.split(F.lower(text), DELIM_REGEX)
    return F.filter(toks, lambda t: t != "")


def shingles(docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle): distinct n-word shingles in document order.

    The token array is materialized in its own projection first: the
    shingle transform references it O(n·k) times, and higher-order
    functions are interpreted (no codegen/CSE), so inlining the
    split+filter there re-tokenizes the document per element_at —
    measured 4x slower at sf0.1.

    The input is spread to the session's parallelism floor
    (operators/spread.py — a no-op at cluster scale) BEFORE the
    tokenize/shingle/hash projections: a small single-row-group scan
    otherwise runs the whole k-hash MinHash aggregation on one core,
    and the hash(doc_id) spread doubles as the distribution the
    downstream groupBy(doc_id) signature aggregate needs, so it
    REPLACES that exchange rather than adding one.
    """
    base = spread_for_kernel(docs.select("doc_id", F.col(text_col)), "doc_id").select(
        "doc_id", _word_array(F.col(text_col)).alias("__arr")
    )
    arr = F.col("__arr")
    sh = F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(arr, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


# Universal-hash constants: h_s(x) = (A_s * base32(x) + B_s) mod 2^31,
# derived deterministically so the oracle embeds identical literals.
# base32 < 2^32 and A_s < 2^31 keep every product < 2^63 — exact in
# 64-bit integers on BOTH engines (DuckDB raises on overflow).
_MOD = 2**31


def hash_params(k: int) -> list[tuple[int, int]]:
    """First k (A, B) pairs of the deterministic universal-hash family
    — a prefix property, so signatures for smaller k are prefixes of
    larger-k signatures and the oracle can embed identical literals
    for any operating point."""
    import hashlib

    out = []
    for s in range(k):
        ha = int(hashlib.md5(f"A:{s}".encode()).hexdigest()[:8], 16)
        hb = int(hashlib.md5(f"B:{s}".encode()).hexdigest()[:8], 16)
        out.append((ha % (_MOD - 1) + 1, hb % _MOD))
    return out


HASH_PARAMS = hash_params(NUM_HASHES)


def minhash_signatures(sh: DataFrame, k: int = NUM_HASHES) -> DataFrame:
    """One hash-agg pass: k 32-bit min-hashes per doc (columns
    h0..h{k-1}, longs — numeric keeps this in HashAggregate).

    ONE md5 per shingle; the k values come from a multiply-mod
    universal-hash family over the md5's first 8 hex digits — k× less
    hashing than seeded md5 per hash function, same LSH behaviour."""
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
        "long"
    )
    withb = sh.select("doc_id", base.alias("__b"))
    aggs = [
        F.min((F.lit(a) * F.col("__b") + F.lit(b)) % F.lit(_MOD)).alias(
            f"h{s}"
        )
        for s, (a, b) in enumerate(hash_params(k))
    ]
    return withb.groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame, bands: int = NUM_BANDS, k: int = NUM_HASHES) -> DataFrame:
    """(doc_id, band, key): concat each band's hash rows into a bucket key."""
    rows = k // bands
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"h{b * rows + r}") for r in range(rows)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.key")


def lsh_band_keys(
    sh: DataFrame, k: int = NUM_HASHES, bands: int = NUM_BANDS
) -> DataFrame:
    """(doc_id, band, key) straight from the shingle relation: the agg
    emits the `bands` concatenated band keys directly (concat_ws over
    that band's min-aggs) instead of materializing k hash columns and
    banding them in a second projection.

    Semantically identical to lsh_bands(minhash_signatures(sh, k)) —
    same mins, same BUCKETS — but the relation is `bands` columns wide
    instead of k, which matters for plan overhead at k in the hundreds:
    analysis/codegen over a 128-column signature relation costs whole
    seconds per query at k=128 (measured 3.7s -> 0.6s at sf0.01); the
    agg buffer is still k fixed-width longs, so it stays map-side
    combinable HashAggregate either way.

    The bucket key is an array<long> packing each PAIR of 31-bit
    min-hashes into one signed long (h_even * 2^31 + h_odd < 2^62 —
    exact, injective since h < _MOD = 2^31), not a string concat:
    identical bucket partitions by construction (so the DuckDB twin's
    string keys group the same docs), but the guard-window shuffle and
    the self-join hash/compare fixed-width longs instead of ~10-char-
    per-hash strings — at k=128 (8 rows/band) the key drops from ~87
    bytes to 4 longs, ~2.5x fewer shuffle bytes for the band relation.
    Local bench is NOISE-NEUTRAL on this (profiled 3.2-3.6s warm both
    ways at sf0.1 — the k-hash agg and the one bucket-key exchange
    dominate, and both are irreducible); the win is wire bytes and
    fixed-width key compares at cluster scale. A collect_list-bucket
    variant replacing window+self-join with one aggregation was also
    profiled: identical results, same 3.3s — the exchange-reusing
    window guard is not the bottleneck either."""
    rows = k // bands
    hp = hash_params(k)
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
        "long"
    )
    withb = sh.select("doc_id", base.alias("__b"))

    def _min(i: int):
        return F.min(
            (F.lit(hp[i][0]) * F.col("__b") + F.lit(hp[i][1])) % F.lit(_MOD)
        )

    def _band_key(b: int):
        packed = [
            _min(b * rows + 2 * j) * F.lit(_MOD) + _min(b * rows + 2 * j + 1)
            for j in range(rows // 2)
        ]
        if rows % 2:
            packed.append(_min(b * rows + rows - 1))
        return F.array(*packed)

    aggs = [_band_key(b).alias(f"k{b}") for b in range(bands)]
    sig = withb.groupBy("doc_id").agg(*aggs)
    entries = [
        F.struct(F.lit(b).alias("band"), F.col(f"k{b}").alias("key"))
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.key")


def with_row_local_band_keys(
    df: DataFrame,
    text_col: str = "text",
    k: int = NUM_HASHES,
    bands: int = NUM_BANDS,
    out: str = "__bands",
) -> DataFrame:
    """Append `out` = the lsh_band_keys relation as a ROW-LOCAL array:
    array<struct<band:int, key:array<long>>> computed entirely from
    one document's text — same shingles, same universal-hash mins,
    same packed-long band keys, byte-identical buckets (equality
    pinned by tests/test_extensions.py against the aggregate form,
    WITHOUT any caller-side length guard). Documents shorter than
    SHINGLE_N words get an EMPTY array — exploding it yields no rows,
    exactly like the aggregate form's absent doc (never NULL-filled
    keys that would bucket all short docs together).

    The aggregate form needs a groupBy(doc_id) over the exploded
    shingle relation; this form stays row-local, which makes it LEGAL
    IN APPEND-MODE STREAMING (stateless — no aggregation state, no
    watermark): each arriving document computes its own band keys at
    map speed and probes a static index. Cost discipline (the
    interpreted-HOF no-CSE lesson this module documents): the token
    array, the shingle-hash array, and the k mins each materialize in
    their OWN projection, and the k mins come from ONE array pass
    (aggregate + zip_with/least — k multiplies per shingle), not k
    array_min scans that would re-tokenize the document 16x. Batch
    pipelines keep the aggregate form — one explode+agg beats per-row
    array transforms when the corpus is scanned anyway."""
    rows = k // bands
    hp = hash_params(k)
    base = df.withColumn(
        "__rl_arr", _word_array(F.col(text_col))
    ).withColumn(
        "__rl_barr",
        F.when(
            F.size(F.col("__rl_arr")) >= SHINGLE_N,
            F.transform(
                F.sequence(
                    F.lit(0), F.size(F.col("__rl_arr")) - SHINGLE_N
                ),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at(
                                        F.col("__rl_arr"), i + j + 1
                                    )
                                    for j in range(SHINGLE_N)
                                ],
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    # ONE pass over the hash array: fold k running minima together
    def hash_row(b):
        return F.array(
            *[
                (F.lit(a) * b + F.lit(bb)) % F.lit(_MOD)
                for a, bb in hp
            ]
        )

    init = F.array(*[F.lit(_MOD).cast("long")] * k)  # > any hash value
    mins = F.aggregate(
        F.col("__rl_barr"),
        init,
        lambda acc, b: F.zip_with(
            acc, hash_row(b), lambda x, y: F.least(x, y)
        ),
    )
    withm = base.withColumn("__rl_mins", mins)
    m = F.col("__rl_mins")

    def _key(b: int):
        packed = [
            F.element_at(m, b * rows + 2 * j + 1) * F.lit(_MOD)
            + F.element_at(m, b * rows + 2 * j + 2)
            for j in range(rows // 2)
        ]
        if rows % 2:
            packed.append(F.element_at(m, b * rows + rows))
        return F.array(*packed)

    entries = F.when(
        F.size(F.col("__rl_barr")) > 0,
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"), _key(b).alias("key")
                )
                for b in range(bands)
            ]
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<band:int,key:array<bigint>>>"
        )
    )
    return withm.withColumn(out, entries).drop(
        "__rl_arr", "__rl_barr", "__rl_mins"
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = NUM_HASHES,
    bands: int = NUM_BANDS,
) -> DataFrame:
    """MinHash+LSH near-dup candidates: (doc_a, doc_b, n_bands) for
    pairs sharing >= 1 band bucket (bucket size guarded).

    (k, bands) set the S-curve operating point: capture probability at
    Jaccard s is 1-(1-s^r)^bands with r = k/bands, i.e. a soft
    threshold around (1/bands)^(1/r). The defaults (16, 8) are a
    high-recall screen (r=2); (128, 16) is a sharp near-dup detector
    (r=8, threshold ~0.7) — both operating points are pinned by the
    planted precision/recall test in tests/test_extensions.py.

    The size guard is a window count over (band, key), not a
    groupBy+join back: one exchange on the bucket key that the
    subsequent self-join reuses (ReuseExchange), so the expensive
    shingle->signature lineage is shuffled exactly once instead of
    recomputed per consumer.
    """
    bands_df = lsh_band_keys(shingles(docs, text_col), k, bands)
    return band_candidate_pairs(bands_df)


def band_candidate_pairs(bands_df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_bands) from any (doc_id, band, key) band
    relation — the guarded bucket self-join shared by the classic
    MinHash generator above and the OPH generator below. The size
    guard is a window count over (band, key), not a groupBy+join
    back: one exchange on the bucket key that the subsequent
    self-join reuses (ReuseExchange), so the expensive signature
    lineage is shuffled exactly once instead of recomputed per
    consumer."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "key")
    guarded = (
        bands_df.withColumn("sz", F.count("*").over(w))
        .filter((F.col("sz") >= 2) & (F.col("sz") <= MAX_BUCKET))
        .drop("sz")
    )
    a = guarded.select(
        "band", "key", F.col("doc_id").alias("doc_a")
    )
    b = guarded.select(
        "band", "key", F.col("doc_id").alias("doc_b")
    )
    # hint("merge"): the two sides are IDENTICAL plans, so the
    # sort-merge self-join reuses ONE exchange (the guard window's,
    # whose sort order it also inherits) via runtime ReusedExchange.
    # Left to the planner, the build side auto-broadcasts at small
    # sizes and the broadcast subtree RECOMPUTES the whole signature
    # lineage (round 16 §3.1 finding — a BroadcastExchange cannot
    # reuse a shuffle exchange); at data scale the broadcast is
    # ineligible anyway, so SMJ is also the 100 TB plan.
    return (
        a.join(b.hint("merge"), ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band").alias("n_bands"))
    )


# Rotation-densification constant (any fixed odd constant works; the
# value only needs to be identical in the oracle). Kept < 2^31 so
# v + t*C stays far inside int64 before the mod.
OPH_C = 1_540_483_477


def oph_band_keys(
    sh: DataFrame, k: int = NUM_HASHES, bands: int = NUM_BANDS
) -> DataFrame:
    """(doc_id, band, key) via One-Permutation Hashing: ONE universal
    hash per shingle, k bins from its residue — vs minhash_signatures'
    k universal hashes per shingle (Li, Owen & Zhang, NIPS 2012), with
    rotation densification for empty bins (Shrivastava & Li, ICML
    2014). Bin j takes min h over shingles with h % k == j; an empty
    bin borrows from the nearest non-empty bin to its cyclic right,
    offset-salted: (v[(j+t) % k] + t*C) % 2^31 for the smallest t with
    a value. Same banded-LSH downstream as the classic signature.

    Scale shape: the per-shingle map work drops from O(k) multiply-mods
    to O(1) — at 100 TB the signature aggregate IS the map-side cost
    of the dedup pass, so OPH is the cheap screen for large k. The
    bin minima come from ONE map-side-combinable (doc, bin) hash
    aggregate, and densification is ONE first(ignorenulls) window
    pass over the doc-partitioned (grid ∪ bins ∪ bins+k) relation —
    k + #non-empty-bins rows per doc, never k² work. (The first
    implementation unrolled densification into k×k row-local coalesce
    chains and paid k `when`s per SHINGLE in the aggregate; at k=128
    that measured 26x SLOWER than the classic k-hash signature —
    the round-15 SCALE.md row records the before/after.) Bins with NO
    shingle anywhere only occur for near-empty documents; a doc with
    zero shingles has no row at all (same contract as shingles())."""
    a0, b0 = hash_params(1)[0]
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
        "long"
    )
    h = (F.lit(a0) * base + F.lit(b0)) % F.lit(_MOD)
    withh = sh.select("doc_id", h.alias("__h"))
    # true O(1)-per-shingle map side: one hash, one (doc, bin) min
    binned = withh.groupBy(
        "doc_id", (F.col("__h") % F.lit(k)).cast("int").alias("__bin")
    ).agg(F.min("__h").cast("long").alias("__v"))
    # grid: one row per (doc, j); bin rows appear at pos=bin and
    # (cyclic wrap) pos=bin+k so every grid row finds its nearest
    # non-empty bin to the RIGHT within the same doc partition
    grid = (
        binned.groupBy("doc_id")
        .agg(F.lit(1).alias("__one"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__pos"),
        )
        .select(
            "doc_id",
            "__pos",
            F.lit(None).cast("long").alias("__v"),
            F.lit(1).alias("__isgrid"),
        )
    )
    bins2 = binned.select(
        "doc_id", F.col("__bin").alias("__pos"), "__v",
        F.lit(0).alias("__isgrid"),
    ).union(
        binned.select(
            "doc_id", (F.col("__bin") + F.lit(k)).alias("__pos"), "__v",
            F.lit(0).alias("__isgrid"),
        )
    )
    u = grid.union(bins2)
    # nearest non-empty bin at-or-right of j: first non-null value
    # (with its position, for the rotation offset t) over the
    # forward-looking window; grid rows sort BEFORE the bin row at
    # the same pos (isgrid DESC) so t=0 self-hits are visible
    wfwd = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("__pos").asc(), F.col("__isgrid").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hit = F.first(
        F.when(
            F.col("__v").isNotNull(),
            F.struct(F.col("__pos").alias("p"), F.col("__v").alias("v")),
        ),
        ignorenulls=True,
    ).over(wfwd)
    dens = (
        u.select("doc_id", "__pos", "__isgrid", hit.alias("__hit"))
        .filter(F.col("__isgrid") == 1)
        .select(
            "doc_id",
            F.col("__pos").alias("__j"),
            (
                (
                    F.col("__hit.v")
                    + (F.col("__hit.p") - F.col("__pos")).cast("long")
                    * F.lit(OPH_C)
                )
                % F.lit(_MOD)
            ).alias("__dv"),
        )
    )
    rows = k // bands
    # band keys: partitionBy(doc_id) above already clusters
    # (doc_id, band), so this aggregate adds no exchange
    return (
        dens.groupBy(
            "doc_id",
            (F.col("__j") / F.lit(rows)).cast("int").alias("band"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__j", "__dv"))
                    ),
                    lambda s: s["__dv"].cast("string"),
                ),
                "_",
            ).alias("key")
        )
        .select("doc_id", "band", "key")
    )


def oph_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = NUM_HASHES,
    bands: int = NUM_BANDS,
) -> DataFrame:
    """MinHash+LSH near-dup candidates from the OPH signature:
    (doc_a, doc_b, n_bands) for pairs sharing >= 1 band bucket,
    bucket-size guarded — same output contract and S-curve shape as
    minhash_candidate_pairs, ~k x less per-shingle hash work (the OPH
    estimator's variance at equal k is slightly higher; the classic
    generator remains the sharp verifier tier)."""
    return band_candidate_pairs(
        oph_band_keys(shingles(docs, text_col), k, bands)
    )


def minhash_jaccard_estimate(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    k: int = NUM_HASHES,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for candidate pairs: the share of
    the k min-hashes that agree — the standard unbiased MinHash
    estimator of Jaccard similarity. The CHEAP verification tier
    between an LSH band collision (binary, coarse) and the exact
    n-gram Jaccard (ngram_jaccard re-joins the shingle relation per
    pair): O(k) integer compares per candidate, no re-shingling.

    Scale shape: the signature relation is corpus-ROW-sized but only
    k longs wide (one map-side-combined hash agg). When the pairs come
    from the LSH generator in the same plan, the shingle lineage IS
    computed twice (the band aggregate and this signature aggregate
    emit different buffers, so their exchanges cannot reuse); a
    persisted signature/band index — the dedup_incremental shape every
    production corpus keeps anyway — removes the second pass. The
    pair joins are collision-sized: AQE broadcasts them against the
    signatures when small, sort-merges otherwise; either way nothing
    quadratic and no gram-level data moves."""
    sig = minhash_signatures(shingles(docs, text_col), k)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"__a{i}") for i in range(k)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"__b{i}") for i in range(k)],
    )
    agree = None
    for i in range(k):
        t = F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / F.lit(float(k))).alias(
                "est_jaccard"
            ),
        )
    )


def lsh_similarity_join(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    k: int = NUM_HASHES,
    bands: int = NUM_BANDS,
    broadcast_probe: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus LSH similarity join — the FUZZY decontamination /
    cross-source near-dup shape: (corpus_doc, probe_doc, n_bands) for
    cross-side pairs sharing >= 1 MinHash band bucket. Complements the
    exact n-gram-overlap screen (curation.decontaminate): paraphrased
    or lightly-edited benchmark leakage that exact 13-gram matching
    misses still collides here at the (k, bands) S-curve's Jaccard
    operating point.

    Unlike the self-join candidate generator there is no quadratic
    bucket risk to guard: per band key the work is |corpus bucket| x
    |probe bucket| — linear in the corpus for a bounded probe set
    (an eval suite is thousands of docs against billions). The probe
    band relation broadcasts by default, so the corpus pays ONLY the
    doc_id signature aggregate every LSH consumer pays — its band
    relation is never re-exchanged on (band, key) for the join, and
    the post-join aggregate shuffles collision pairs, not the corpus.
    That is the shape that makes run-per-release decontamination
    affordable at 100 TB.

    Set broadcast_probe=False when the probe side is itself
    corpus-sized (cross-SOURCE near-dup between two crawls, not a
    bounded eval suite): both band relations then meet on one
    (band, key) hash exchange each. In that regime the "no quadratic
    risk" argument above no longer holds — per band key the work is
    |corpus bucket| x |probe bucket| and a degenerate bucket on BOTH
    sides (boilerplate shingles common to both crawls) multiplies —
    so pass max_bucket to cap each side's buckets independently
    before the join (same documented recall trade as the self-join
    candidate generator's MAX_BUCKET guard; a bucket over the cap is
    a stop-shingle band, not a near-dup signal). The guard's window
    count partitions by (band, key) — the join key — so Catalyst
    reuses that exchange for the join itself: guarded shuffle join
    costs the same TWO exchanges as the unguarded one."""
    cb = lsh_band_keys(shingles(corpus, text_col), k, bands).select(
        F.col("doc_id").alias("corpus_doc"), "band", "key"
    )
    pb = lsh_band_keys(shingles(probe, text_col), k, bands).select(
        F.col("doc_id").alias("probe_doc"), "band", "key"
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "key")

        def _guard(b: DataFrame) -> DataFrame:
            return (
                b.withColumn("__sz", F.count("*").over(w))
                .filter(F.col("__sz") <= F.lit(int(max_bucket)))
                .drop("__sz")
            )

        cb, pb = _guard(cb), _guard(pb)
    if broadcast_probe:
        pb = F.broadcast(pb)
    else:
        # Pin the exchange-based strategy: without the hint Catalyst's
        # static size estimate of the probe band relation can still
        # pick a broadcast build, which is exactly the OOM this mode
        # exists to avoid when the probe is corpus-sized. Sort-merge
        # is the spill-safe strategy at that scale; AQE may still
        # upgrade to broadcast at runtime when the probe side proves
        # genuinely small — a safe, measured decision, unlike the
        # static estimate.
        pb = pb.hint("merge")
    return (
        cb.join(pb, ["band", "key"])
        .groupBy("corpus_doc", "probe_doc")
        .agg(F.countDistinct("band").alias("n_bands"))
    )


def incremental_dup_flags(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    k: int = NUM_HASHES,
    bands: int = NUM_BANDS,
) -> DataFrame:
    """Ingest-time dedup screen: flag each NEW document that shares an
    LSH band bucket with the EXISTING corpus or with an earlier new
    document. Returns (doc_id, dup_of, n_partners) for flagged new
    docs; dup_of = smallest colliding partner.

    This is the shape that makes dedup affordable on a growing corpus:
    the existing side contributes only its (persisted, in production)
    band-key index and is NEVER self-joined — each day's batch pays
    new×index probes plus a within-batch self-join, not a re-pairing
    of 100 TB. Both sides' buckets are size-capped independently (the
    index stores its bucket sizes), so a degenerate bucket on either
    side cannot explode the probe join."""
    w = Window.partitionBy("band", "key")

    def _guarded(b: DataFrame) -> DataFrame:
        return (
            b.withColumn("sz", F.count("*").over(w))
            .filter(F.col("sz") <= MAX_BUCKET)
            .drop("sz")
        )

    ob = _guarded(lsh_band_keys(shingles(old, text_col), k, bands))
    nb = _guarded(lsh_band_keys(shingles(new, text_col), k, bands))
    vs_old = nb.alias("n").join(ob.alias("o"), ["band", "key"]).select(
        F.col("n.doc_id").alias("doc_id"),
        F.col("o.doc_id").alias("partner"),
    )
    vs_new = (
        nb.alias("a")
        .join(nb.alias("b"), ["band", "key"])
        .filter(F.col("b.doc_id") < F.col("a.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("partner"),
        )
    )
    return (
        vs_old.unionByName(vs_new)
        .groupBy("doc_id")
        .agg(
            F.min("partner").alias("dup_of"),
            F.countDistinct("partner").alias("n_partners"),
        )
    )


def neardup_components(
    docs: DataFrame,
    text_col: str = "text",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over the MinHash candidate-pair graph:
    (doc_id, component_id) with component_id = min doc_id reachable.
    The survivor rule for near-dup groups (keep component_id, drop the
    rest).

    Iterative min-label propagation: each round every vertex takes the
    min of its own and its neighbours' labels; converges in graph-
    diameter rounds (near-dup components are tiny, so a handful).
    Lineage is truncated per round (localCheckpoint — a reliable
    checkpoint dir on a real cluster), the classic Spark pattern for
    iterative algorithms; the driver only sees one scalar per round.

    stats, when given, receives {"rounds": n} — the scale-stress
    suite uses it to assert the propagation stays inside
    graph-diameter rounds on planted mega-clusters instead of
    crawling to the max_iter cap. Raises RuntimeError when max_iter
    rounds pass without a fixed point (see components_over_pairs).
    """
    pairs = minhash_candidate_pairs(docs, text_col).select("doc_a", "doc_b")
    return components_over_pairs(pairs, max_iter=max_iter, stats=stats)


def components_over_pairs(
    pairs: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """The label-propagation core of neardup_components over ANY
    (doc_a, doc_b) pair relation, shared by the image near-dup tier
    and entity-resolution clusters (linkage.match_clusters).

    Non-convergence is an ERROR: a label cut off by max_iter is not
    its component's minimum, so a long-chain component would come
    back split into several wrong ids. If max_iter rounds pass and
    the last one still changed a label, RuntimeError is raised
    instead (the graph.connected_components_star policy). `stats`,
    when given, receives {"rounds": n}."""
    pairs = pairs.select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for rounds in range(1, int(max_iter) + 1):
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("min_nl"))
        )
        # Carry the convergence flag through the checkpoint so the
        # round costs ONE materializing action plus a scan of the
        # checkpointed rows — not a second old-vs-new join per round.
        stepped = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("min_nl", "label")
                ).alias("new_label"),
                (
                    F.least(F.col("label"), F.coalesce("min_nl", "label"))
                    != F.col("label")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("changed")).count()
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "components_over_pairs: labels did not reach a fixed point "
            f"within max_iter={max_iter} rounds — component ids would "
            "be partial (wrong); raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    (doc_a, doc_b, jaccard). Intersection via a doc-keyed join, union
    by inclusion-exclusion — no cross product over the corpus."""
    sh = shingles(docs, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "shingle", "shingle_b"
            ),
            ["doc_b"],
        )
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def simhash(tokens: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash over the per-doc distinct term set: (doc_id, simhash).

    Term hash = first 8 hex chars of md5 (32-bit uint). Each bit
    contributes +1/-1 per term; the doc's bit is the sign of the sum.
    One hash aggregate with `bits` sums — no UDF, fully codegen'd.
    """
    h = F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
    t = tokens.withColumn("h", h)
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = t.groupBy("doc_id").agg(*aggs)
    val = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return per_doc.select("doc_id", val.cast("long").alias("simhash"))


def dedup_corpus(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """End-to-end near-duplicate removal: MinHash/LSH candidate pairs
    → connected components → keep each component's representative (min
    doc_id) plus every unpaired document. Returns the surviving rows
    of `docs` unchanged.

    The drop list (non-representative members) is the only derived
    relation joined back — a left-anti join on doc_id that AQE plans
    as broadcast when small; the corpus itself is never reshuffled."""
    comp = neardup_components(docs, text_col)
    drop = comp.filter(F.col("doc_id") != F.col("component_id")).select(
        "doc_id"
    )
    return docs.join(drop, "doc_id", "left_anti")


def dedup_corpus_keep_best(
    docs: DataFrame, quality_col: str = "n_chars", text_col: str = "text"
) -> DataFrame:
    """dedup_corpus with a QUALITY-ranked survivor instead of min
    doc_id: within each near-duplicate component the row with the
    highest quality_col wins (ties by lowest doc_id) — the policy
    production pipelines actually want, since the arbitrary-id
    representative may be the truncated/boilerplate copy of the
    cluster. Unpaired documents survive unchanged.

    Scale shape identical to dedup_corpus: components are a
    pairs-derived relation ≪ corpus; the quality rank is a window over
    THAT relation only (one partition-local sort per component), and
    the corpus pays just the final left-anti join on the drop list
    (AQE-broadcast when small)."""
    comp = neardup_components(docs, text_col)
    ranked = comp.join(
        docs.select("doc_id", quality_col), "doc_id"
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.desc(quality_col), F.asc("doc_id")
            )
        ),
    )
    drop = ranked.filter(F.col("__rn") > 1).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Cross-document repeated n-gram spans: the substring-granularity rung
# of the dedup ladder. Document-level dedup (exact / MinHash above)
# cannot see a boilerplate paragraph duplicated across thousands of
# otherwise-distinct pages; span detection finds the exact token
# ranges whose n-grams recur across documents — the signal behind
# "deduplicating training data" substring dedup — as relational ops:
# no suffix arrays, no per-node state, shapes that scale to 100 TB.
# ---------------------------------------------------------------------------

SPAN_N = 5  # tokens per matched window


def ngram_positions(
    docs: DataFrame, text_col: str = "text", n: int = SPAN_N
) -> DataFrame:
    """(doc_id, start, end, gram): every n-token window with its
    0-based token offsets (end exclusive). Map-side: tokenize once in
    its own projection (interpreted HOFs get no CSE — the shingles
    lesson above), then one explode carrying only the three scalars.
    Input spread to the parallelism floor like shingles()."""
    base = spread_for_kernel(docs.select("doc_id", F.col(text_col)), "doc_id").select(
        "doc_id", _word_array(F.col(text_col)).alias("__arr")
    )
    arr = F.col("__arr")
    wins = F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.struct(
                i.alias("start"),
                (i + n).alias("end"),
                F.concat_ws(
                    " ", *[F.element_at(arr, i + j + 1) for j in range(n)]
                ).alias("gram"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<start:int,end:int,gram:string>>")
    )
    return base.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id", "w.start", "w.end", "w.gram"
    )


def _cross_doc_grams(grams: DataFrame) -> DataFrame:
    """Grams occurring in >= 2 DISTINCT documents, as a 1-column
    relation. min(doc_id) != max(doc_id) instead of countDistinct:
    one map-side-combinable hash aggregate, no distinct expansion —
    the shuffle carries (gram, 2 longs) partials only."""
    return (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("gram")
    )


def repeated_spans(
    docs: DataFrame, text_col: str = "text", n: int = SPAN_N
) -> DataFrame:
    """Merged token ranges covered by cross-document repeated n-grams:
    (doc_id, span_start, span_end) with end exclusive — the "cut these
    ranges" output of substring-level dedup.

    Plan (round-10 single-scan rewrite): ONE map-side window explode
    -> ONE gram exchange with the min!=max cross-doc test as a
    partition-wide window aggregate (min/max doc_id over the gram
    partition share one WindowExec pass) -> per-doc gaps-and-islands
    merge. The previous join form (hash agg on gram, join positions
    back) computed the gram lineage TWICE — two corpus scans + two
    explodes + two gram exchanges; the window form halves that
    (measured 2.27s -> 1.10s at sf0.1). At 100 TB the corpus
    scan+explode is the dominant cost, so paying one full-row gram
    exchange (~the old probe-side exchange) to delete a whole corpus
    pass is the right trade; a pathologically hot gram lands in one
    window partition exactly as it landed in one join partition
    before, and WindowExec spills it to disk rather than OOM. All
    offsets are exact ints; the DuckDB twin is the same algebra."""
    g = ngram_positions(docs, text_col, n)
    w = Window.partitionBy("gram")
    hits = (
        g.withColumn("__lo", F.min("doc_id").over(w))
        .withColumn("__hi", F.max("doc_id").over(w))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("doc_id", "start", "end")
    )
    return merge_spans(hits)


def merge_spans(hits: DataFrame) -> DataFrame:
    """Gaps-and-islands interval merge: coalesce overlapping/touching
    (doc_id, start, end) windows into (doc_id, span_start, span_end).
    Two window functions over ONE doc_id exchange of the hit relation,
    then a tiny aggregate — shared by repeated_spans and the span-
    level decontamination screen (curation.decontaminate_spans)."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = hits.withColumn(
        "__ni",
        F.when(
            F.max("end").over(w_prev).isNull()
            | (F.col("start") > F.max("end").over(w_prev)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn("__isl", F.sum("__ni").over(w_run))
    return (
        islands.groupBy("doc_id", "__isl")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def cross_doc_repetition(
    docs: DataFrame, text_col: str = "text", n: int = SPAN_N
) -> DataFrame:
    """Per-document cross-corpus repetition metric:
    (doc_id, n_grams, n_dup_grams, dup_gram_share) — the share of a
    document's n-gram windows that also occur in ANOTHER document.
    The curation-side companion of repeated_spans (filter on the
    share, cut the spans); share is NULL for docs shorter than n
    tokens in BOTH engines.

    Same gram pipeline as repeated_spans (the round-10 single-scan
    window form: gram lineage computed ONCE, the cross-doc flag is a
    min!=max window aggregate over the gram partition — measured
    1.53s -> 0.94s at sf0.1 vs the flag-join form, which built the
    repeated-gram set from a second copy of the gram lineage), then
    the totals and dup counts come from ONE doc_id aggregate
    (count + sum(flag))."""
    g = ngram_positions(docs, text_col, n)
    w = Window.partitionBy("gram")
    flagged = g.withColumn("__lo", F.min("doc_id").over(w)).withColumn(
        "__hi", F.max("doc_id").over(w)
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(
            F.when(F.col("__lo") != F.col("__hi"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_dup_grams"),
    )
    all_docs = docs.select("doc_id")
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_gram_share",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double"),
            ),
        )
    )


def cut_spans(
    docs: DataFrame, spans: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Apply a span relation (doc_id, span_start, span_end — token
    offsets, end exclusive) to the corpus: (doc_id, clean_text,
    n_tokens_kept, n_tokens_cut) with the covered tokens removed and
    the survivors rejoined with single spaces (whitespace is
    normalized — the standard trade of token-level surgery). Empty and
    span-free documents pass through with n_tokens_cut = 0.

    Shape: tokens explode with 0-based positions (matching
    ngram_positions offsets); the span test is ONE left join on doc_id
    with the range predicate inside it that MARKS covered tokens —
    spans per doc are few and (from merge_spans) DISJOINT, so no token
    row duplicates — and one doc aggregate computes totals, kept
    counts, and the rebuilt text together (collect_list skips the
    NULLed covered tokens; in-agg position sort, no window). The
    single-pass mark beats the earlier anti-join + separate totals
    branch, which re-planned the token lineage per consumer (10 corpus
    scans in the final plan vs 4 now). Spans MUST be disjoint per doc
    (merge_spans output); overlapping spans would duplicate token
    rows. With repeated_spans / decontaminate_spans as input this is
    the complete substring-dedup rewrite: detect -> merge -> cut, all
    relational."""
    toks = docs.select(
        "doc_id",
        F.posexplode(_word_array(F.col(text_col))).alias("pos", "tok"),
    )
    sp = spans.select(
        F.col("doc_id").alias("s_doc"), "span_start", "span_end"
    )
    marked = toks.join(
        sp,
        (F.col("doc_id") == F.col("s_doc"))
        & (F.col("pos") >= F.col("span_start"))
        & (F.col("pos") < F.col("span_end")),
        "left",
    )
    survivor = F.col("span_start").isNull()
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("__n_all"),
        F.sum(F.when(survivor, 1).otherwise(0))
        .cast("long")
        .alias("n_tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(survivor, F.struct("pos", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            (
                F.coalesce("__n_all", F.lit(0))
                - F.coalesce("n_tokens_kept", F.lit(0))
            ).alias("n_tokens_cut"),
        )
    )


def winnowing_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_shared: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs from WINNOWING fingerprint overlap:
    (doc_a, doc_b, n_shared) for pairs sharing >= min_shared
    fingerprints. The LOCAL-overlap complement of MinHash LSH: band
    collision needs global set similarity, while a single shared
     8-char run guarantees a shared winnowing fingerprint — so a page
    that embeds one plagiarized paragraph in otherwise-novel text
    pairs up here and scores ~0 Jaccard there.

    Same guarded self-join shape as the MinHash candidate generator:
    fingerprint buckets above MAX_BUCKET (stop-gram territory — a
    boilerplate fingerprint shared by everyone) are dropped by the
    window guard BEFORE the self-join, so no task goes quadratic;
    n_shared then thresholds the pair noise floor. The fingerprint
    relation itself is map-side (textstats.winnowing_fingerprint:
    zero shuffles), so the whole operator pays one (fp) exchange the
    guard window and self-join share (ReuseExchange)."""
    from .textstats import winnowing_fingerprint

    fp = winnowing_fingerprint(docs, text_col)
    w = Window.partitionBy("fp")
    guarded = (
        fp.withColumn("sz", F.count("*").over(w))
        .filter((F.col("sz") >= 2) & (F.col("sz") <= MAX_BUCKET))
        .drop("sz")
    )
    a = guarded.select("fp", F.col("doc_id").alias("doc_a"))
    b = guarded.select("fp", F.col("doc_id").alias("doc_b"))
    # hint("merge"): identical-plan self-join — force SMJ so the
    # guard exchange is reused instead of the build side recomputing
    # the fingerprint lineage under a broadcast (round 16 §3.1)
    return (
        a.join(b.hint("merge"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_containment(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact shingle-set CONTAINMENT for candidate pairs:
    (doc_a, doc_b, containment_a, containment_b, jaccard) with
    containment_a = |A∩B| / |A| (how much of A lives inside B) and
    symmetrically for B — the Broder resemblance/containment pair.
    Jaccard punishes length asymmetry (a paragraph fully embedded in
    a long page scores low); containment is the signal substring-
    level dedup and quote detection actually filter on, so the two
    are reported side by side off ONE intersection computation.

    Same plan as ngram_jaccard (intersection via the doc-keyed join,
    sizes joined back — no cross product); the three ratios are three
    single divisions over the same exact integers."""
    sh = shingles(docs, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "shingle", "shingle_b"
            ),
            ["doc_b"],
        )
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ni = F.col("n_inter").cast("double")
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_sh", "n_a"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "n_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (ni / F.col("n_a").cast("double")).alias("containment_a"),
            (ni / F.col("n_b").cast("double")).alias("containment_b"),
            (
                ni
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


SIMHASH_BANDS = 4  # 8-bit bands over the 32-bit hash
SIMHASH_MAX_HAMMING = 3


def simhash_pairs(
    tokens: DataFrame,
    max_dist: int = SIMHASH_MAX_HAMMING,
    bands: int = SIMHASH_BANDS,
    bits: int = 32,
) -> DataFrame:
    """Near-dup candidate pairs over the text SimHash by PIGEONHOLE
    banding (Manku/Jain/Sarma, WWW 2007 — Google's web near-dup
    detector): split the `bits`-bit hash into `bands` equal bands;
    any pair within Hamming distance bands-1 (default 3) differs in
    at most bands-1 bands, so it MUST agree exactly on >= 1 band —
    candidates are band-equality joins, never all-pairs. Exact
    bit_count verification filters the survivors. Returns
    (doc_a, doc_b, hamming), hamming <= max_dist.

    Scale shape: the simhash aggregate (one map-side hash agg), a
    bucket-size-guarded band self-join (the
    minhash band_candidate_pairs discipline — one (band, key)
    exchange shared by guard window and join), and a row-local
    xor+bit_count verify. max_dist > bands-1 raises: the pigeonhole
    guarantee would silently break."""
    if max_dist > bands - 1:
        raise ValueError(
            f"max_dist ({max_dist}) > bands-1 ({bands - 1}): pigeonhole "
            "capture is only guaranteed for distances under the band "
            "count — raise `bands` to widen the radius"
        )
    width = bits // bands
    sig = simhash(tokens, bits)
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for b in range(bands)
    ]
    rel = sig.select(
        "doc_id", "simhash", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "simhash", "e.band", "e.key")
    w = Window.partitionBy("band", "key")
    guarded = (
        rel.withColumn("sz", F.count("*").over(w))
        .filter((F.col("sz") >= 2) & (F.col("sz") <= MAX_BUCKET))
        .drop("sz")
    )
    a = guarded.select(
        "band", "key",
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("__sa"),
    )
    b = guarded.select(
        "band", "key",
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("__sb"),
    )
    # hint("merge"): identical-plan self-join — reuse the guard
    # exchange instead of recomputing the simhash aggregate under a
    # broadcast build side (round 16 §3.1)
    return (
        a.join(b.hint("merge"), ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )
