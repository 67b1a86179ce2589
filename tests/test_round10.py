"""Round-10 operator contracts: entity resolution (blocked
Levenshtein linkage + cluster canonicalization), shortlist-then-rerank
similarity join, sketch-edged PSI drift."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators.linkage import (
    blocking_pairs,
    match_clusters,
)


# ---------------------------------------------------------------------
# linkage: blocking_pairs
# ---------------------------------------------------------------------

def _mk_records(spark, rows):
    return spark.createDataFrame(
        rows, "rid long, name string, blk string"
    )


def test_blocking_pairs_finds_planted_typos(spark):
    """Typos within max_edit in the same block are found with exact
    distances; cross-block near-names and within-block far-names are
    not."""
    rows = [
        (1, "Jonathan Smith", "b1"),
        (2, "Jonathon Smith", "b1"),   # 1 edit from rid 1
        (3, "jonathan  smith", "b1"),  # trim/lower ≠: inner spaces stay
        (4, "Jonathan Smith", "b2"),   # identical name, OTHER block
        (5, "Margaret Jones", "b1"),   # far from everything
    ]
    got = {
        (r.id_a, r.id_b): r.dist
        for r in blocking_pairs(
            _mk_records(spark, rows), "rid", "name", ["blk"], max_edit=2
        ).collect()
    }
    # rid 3 normalizes to "jonathan  smith": 1 insertion from rid 1
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_blocking_pairs_empty_block_cols_raises(spark):
    with pytest.raises(ValueError):
        blocking_pairs(
            _mk_records(spark, [(1, "a", "b")]), "rid", "name", []
        )


def test_blocking_pairs_max_block_guard_and_stats(spark):
    """A degenerate block (null-heavy key collapsing many records
    into one block) is EXCLUDED from pair enumeration — the quadratic
    bomb never detonates — and the skip is disclosed via stats."""
    bomb = [(i, f"name{i:04d}", None) for i in range(200)]
    good = [
        (1001, "Alice Chen", "g"),
        (1002, "Alice Chan", "g"),
    ]
    stats: dict = {}
    out = blocking_pairs(
        _mk_records(spark, bomb + good),
        "rid",
        "name",
        ["blk"],
        max_edit=2,
        max_block=100,
        stats=stats,
    ).collect()
    assert stats["blocks_skipped"] == 1
    assert {(r.id_a, r.id_b) for r in out} == {(1001, 1002)}


def test_blocking_pairs_size1_blocks_skip_join(spark):
    """Singleton blocks produce no pairs (and are filtered before the
    self-join — plan-level: the kept relation carries the >= 2
    predicate)."""
    rows = [(i, f"n{i}", f"b{i}") for i in range(5)]
    df = blocking_pairs(
        _mk_records(spark, rows), "rid", "name", ["blk"]
    )
    assert df.count() == 0
    assert ">= 2" in df._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------------------
# linkage: match_clusters
# ---------------------------------------------------------------------

def test_match_clusters_transitivity_and_singletons(spark):
    """a~b and b~c land in ONE cluster keyed by the min id even when
    a and c never matched directly; with records supplied, unmatched
    ids appear as their own singleton clusters (total map)."""
    recs = _mk_records(
        spark,
        [
            (10, "Jon Smith", "b"),
            (11, "Jon Smyth", "b"),   # 1 edit from 10
            (12, "Jan Smyth", "b"),   # 1 edit from 11, 2 from 10
            (99, "Zelda Fitz", "b"),  # matches nothing
        ],
    )
    pairs = blocking_pairs(recs, "rid", "name", ["blk"], max_edit=1)
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got_pairs == {(10, 11), (11, 12)}  # 10-12 is 2 edits
    clusters = {
        r.entity_id: r.cluster_id
        for r in match_clusters(
            pairs, records=recs, id_col="rid"
        ).collect()
    }
    assert clusters == {10: 10, 11: 10, 12: 10, 99: 99}
    # without records: only matched ids appear
    part = match_clusters(pairs).collect()
    assert {r.entity_id for r in part} == {10, 11, 12}


def test_er_stress_planted_clusters_and_block_bomb(spark):
    """Scale-shape evidence (SCALE.md): 3,000 planted 3-member typo
    families (base, 1-edit, 2-edit variants sharing the block key)
    are ALL recovered as exactly their family cluster, while a
    1,000-record null-name-shaped block bomb (every record in one
    block key) is excised by ER_MAX_BLOCK with the skip disclosed —
    pair cost stays family-local, never corpus-quadratic."""
    n_fam = 3000
    fams = spark.range(n_fam).select(
        F.col("id").alias("f"),
        F.format_string("person%06d", F.col("id")).alias("base"),
        F.format_string("blk%06d", F.col("id")).alias("blk"),
    )
    base = fams.select(
        (F.col("f") * 10).alias("rid"), F.col("base").alias("name"), "blk"
    )
    e1 = fams.select(  # drop last char: 1 edit
        (F.col("f") * 10 + 1).alias("rid"),
        F.expr("substring(base, 1, length(base) - 1)").alias("name"),
        "blk",
    )
    e2 = fams.select(  # replace last 2 chars: <= 2 edits
        (F.col("f") * 10 + 2).alias("rid"),
        F.concat(
            F.expr("substring(base, 1, length(base) - 2)"), F.lit("xx")
        ).alias("name"),
        "blk",
    )
    bomb = spark.range(1000).select(
        (F.col("id") + 50_000_000).alias("rid"),
        F.format_string("bomb%06d", F.col("id")).alias("name"),
        F.lit("THE_SAME_BLOCK").alias("blk"),
    )
    recs = base.unionByName(e1).unionByName(e2).unionByName(bomb)
    stats: dict = {}
    pairs = blocking_pairs(
        recs, "rid", "name", ["blk"], max_edit=2, max_block=100,
        stats=stats,
    )
    assert stats["blocks_skipped"] == 1  # only the bomb block
    clusters = match_clusters(pairs).collect()
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, set()).add(r.entity_id)
    # every family is exactly {10f, 10f+1, 10f+2} keyed by 10f
    assert len(by_cluster) == n_fam
    for f in (0, 1, n_fam // 2, n_fam - 1):
        assert by_cluster[f * 10] == {f * 10, f * 10 + 1, f * 10 + 2}
    # no bomb record ever reached the pair graph
    assert all(cid < 50_000_000 for cid in by_cluster)


# ---------------------------------------------------------------------
# similarity_join_reranked
# ---------------------------------------------------------------------

def _mk_emb(spark, vecs: dict):
    return spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )


@pytest.mark.slow  # 10s+ reference/brute-force sweep; full tier
def test_reranked_scorer_parity_and_shortlist_subset(spark):
    """(a) the Arrow weighted scorer and the interpreted expression
    form produce bit-identical wcos; (b) the reranked output is a
    subset of the raw-cosine shortlist (stage 2 only reorders, never
    resurrects a non-shortlisted candidate)."""
    from mapreduce_chisquare_spark.operators import simsearch as ss

    import random

    rng = random.Random(7)
    left = {
        i: [rng.uniform(-1, 1) for _ in range(ss.DIM)] for i in range(40)
    }
    right = {100 + j: left[j * 3][:] for j in range(5)}
    for j in range(5):  # nudge so cos < 1 but clone stays closest
        right[100 + j][0] += 0.01
    cents = [left[0], left[1], left[2]]
    args = (_mk_emb(spark, left), _mk_emb(spark, right), cents)
    got_a = {
        (r.b_id, r.a_id): (r.cos, r.wcos, r.rank)
        for r in ss.similarity_join_reranked(
            *args, k=3, shortlist=8, use_arrow=True
        ).collect()
    }
    got_e = {
        (r.b_id, r.a_id): (r.cos, r.wcos, r.rank)
        for r in ss.similarity_join_reranked(
            *args, k=3, shortlist=8, use_arrow=False
        ).collect()
    }
    assert got_a == got_e  # bit-identical, not approx
    shortlist = {
        (r.b_id, r.a_id)
        for r in ss.similarity_join_topk(*args, k=8).collect()
    }
    assert set(got_a) <= shortlist
    # the planted clone's nearest left item is its own base, under
    # BOTH scorers (weighted cosine preserves near-identity)
    ranked1 = {b: a for (b, a), (_, _, rk) in got_a.items() if rk == 1}
    for j in range(5):
        assert ranked1.get(100 + j) == j * 3


def test_rerank_weights_shape():
    from mapreduce_chisquare_spark.operators import simsearch as ss

    assert len(ss.RERANK_WEIGHTS) == ss.DIM
    assert ss.RERANK_WEIGHTS[:5] == [1.0, 1.5, 2.0, 2.5, 1.0]


# ---------------------------------------------------------------------
# dq_drift_psi_sketch
# ---------------------------------------------------------------------

def _py_psi_sketch(rows, buckets=10, k=256):
    """Independent Python model: md5 bottom-k kept set over the ref
    half, ((m-1)*j) div B edges, bucket = #edges <= c, Laplace PSI."""
    us = [r[1] for r in rows]
    mid = (min(us) + max(us)) // 2
    types = sorted({r[0] for r in rows})
    out = {}
    for t in types:
        trows = [r for r in rows if r[0] == t]
        sided = [
            (round(v * 100), 0 if u < mid else 1, eid)
            for (_, u, v, eid) in trows
        ]
        ref = [
            (int(hashlib.md5(str(eid).encode()).hexdigest()[:15], 16), c)
            for (c, s, eid) in sided
            if s == 0
        ]
        if not ref:
            continue
        kept = sorted(ref)[:k]
        byv = sorted((c, h) for h, c in kept)
        m = len(byv)
        edges = [byv[((m - 1) * j) // buckets][0] for j in range(1, buckets)]
        cnt = {}
        for c, s, _ in sided:
            b = sum(1 for e in edges if c >= e)
            cnt[(s, b)] = cnt.get((s, b), 0) + 1
        n_ref = sum(v for (s, _), v in cnt.items() if s == 0)
        n_cur = sum(v for (s, _), v in cnt.items() if s == 1)
        psi = 0.0
        for i in range(buckets):
            p = (cnt.get((0, i), 0) + 1.0) / (n_ref + float(buckets))
            q = (cnt.get((1, i), 0) + 1.0) / (n_cur + float(buckets))
            psi += (p - q) * math.log(p / q)
        out[t] = (psi, n_ref, n_cur)
    return out


def _psi_events(spark, rows):
    return spark.createDataFrame(
        [
            (t, eid, v, f"1970-01-01 00:00:{u // 1000000:02d}."
             f"{u % 1000000:06d}")
            for (t, u, v, eid) in rows
        ],
        "event_type string, event_id long, value double, ts_s string",
    ).select(
        "event_type",
        "event_id",
        "value",
        F.to_timestamp("ts_s").alias("ts"),
    )


def test_dq_drift_psi_sketch_matches_python_model(spark):
    """Planted drift: type 'stable' draws the same values in both
    halves (PSI ~ 0); type 'shifted' jumps +3 in the second half
    (PSI large). The operator matches an independent Python model of
    the full kept-set/edge/bucket/fold contract."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        dq_drift_psi_sketch,
    )

    rows = []
    eid = 0
    for i in range(400):
        u = i * 100_000  # 0..40s spread
        rows.append(("stable", u, (i * 7 % 100) / 10.0, eid))
        eid += 1
        shift = 3.0 if u >= 20_000_000 else 0.0
        rows.append(("shifted", u, (i * 13 % 100) / 10.0 + shift, eid))
        eid += 1
    want = _py_psi_sketch(rows)
    got = {
        r.event_type: (r.psi, r.n_ref, r.n_cur)
        for r in dq_drift_psi_sketch(_psi_events(spark, rows)).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][1:] == want[t][1:], t
        assert got[t][0] == pytest.approx(want[t][0], rel=1e-9), t
    assert got["stable"][0] < 0.05
    assert got["shifted"][0] > 0.5


def test_dq_drift_psi_sketch_outlier_robustness(spark):
    """The equal-width variant collapses under a single reference
    outlier (every ordinary row lands in bucket 0); the sketch-edge
    variant's quantile bins keep resolving the planted drift."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        dq_drift_psi,
        dq_drift_psi_sketch,
    )

    rows = []
    for i in range(400):
        u = i * 100_000
        shift = 2.0 if u >= 20_000_000 else 0.0
        rows.append(("t", u, (i * 7 % 100) / 20.0 + shift, i))
    rows.append(("t", 50_000, 1e6, 9999))  # one absurd ref outlier
    ev = _psi_events(spark, rows)
    flat = dq_drift_psi(ev).collect()[0].psi
    sharp = dq_drift_psi_sketch(ev).collect()[0].psi
    assert sharp > 0.25  # drift still visible through quantile bins
    assert sharp > flat * 5  # equal-width got flattened by the outlier


# ---------------------------------------------------------------------
# survivorship
# ---------------------------------------------------------------------

def test_survivorship_longest_name_wins(spark):
    """Per cluster the longest name survives (ties by min id); member
    counts are exact; singleton clusters canonicalize to themselves."""
    from mapreduce_chisquare_spark.operators.linkage import survivorship

    recs = _mk_records(
        spark,
        [
            (1, "Jon Smith", "b"),
            (2, "Jonathan Smith", "b"),   # longest in cluster 1
            (3, "Jon Smyth", "b"),
            (7, "Solo Record", "x"),
        ],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)],
        "entity_id long, cluster_id long",
    )
    got = {
        r.cluster_id: (r.canonical_id, r.canonical_name, r.n_members)
        for r in survivorship(
            recs, clusters, id_col="rid", name_col="name"
        ).collect()
    }
    assert got == {
        1: (2, "Jonathan Smith", 3),
        7: (7, "Solo Record", 1),
    }


def test_survivorship_tie_breaks_by_min_id(spark):
    from mapreduce_chisquare_spark.operators.linkage import survivorship

    recs = _mk_records(
        spark, [(5, "Same Len A", "b"), (4, "Same Len B", "b")]
    )
    clusters = spark.createDataFrame(
        [(4, 4), (5, 4)], "entity_id long, cluster_id long"
    )
    row = survivorship(recs, clusters, "rid", "name").collect()[0]
    assert (row.canonical_id, row.canonical_name) == (4, "Same Len B")


# ---------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------

def test_rrf_fuse_contract(spark):
    """Items in both lists outrank single-list items at comparable
    ranks; missing-list contributions are exactly zero; ranks and
    scores match the closed form."""
    from mapreduce_chisquare_spark.operators.topk import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(11, 1), (13, 2), (10, 3)], "doc_id long, rank int"
    )
    got = {
        r.doc_id: (r.a_rank, r.b_rank, r.rrf, r.rank)
        for r in rrf_fuse(a, b, k_const=60, k=10).collect()
    }
    def s(r):
        return 1.0 / (60.0 + r)
    assert got[11] == (2, 1, s(2) + s(1), 1)   # in both: wins
    assert got[10] == (1, 3, s(1) + s(3), 2)
    assert got[13] == (None, 2, s(2), 3)       # b-only: s(2) > s(3)
    assert got[12] == (3, None, s(3), 4)       # a-only
    assert len(got) == 4


def test_rrf_fuse_k_cut(spark):
    from mapreduce_chisquare_spark.operators.topk import rrf_fuse

    a = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(i + 100, i + 1) for i in range(20)], "doc_id long, rank int"
    )
    out = rrf_fuse(a, b, k=5).collect()
    assert len(out) == 5
    assert sorted(r.rank for r in out) == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------
# streaming ER screen == batch new x static block join
# ---------------------------------------------------------------------

def test_stream_er_screen_equals_batch(spark, sf_dir):
    """The stateless stream screen's output multiset equals the batch
    new x static block join computed directly — the stream twin
    discipline (same expressions, availableNow backlog)."""
    from pyspark.sql import functions as F2

    from mapreduce_chisquare_spark.streaming.linkage import (
        er_screen_stream,
    )

    got = {
        (r.new_id, r.matched_id, r.dist)
        for r in er_screen_stream(spark, sf_dir).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    new = cust.filter(F2.col("c_custkey") % 7 == 0).select(
        (F2.col("c_custkey") + F2.lit(10_000_000)).alias("new_id"),
        F2.lower(F2.trim(F2.substring("c_name", 1, 17))).alias("nm"),
        F2.col("c_nationkey").alias("nation"),
        F2.substring("c_name", 10, 8).alias("blk"),
    )
    static = cust.select(
        F2.col("c_custkey").alias("matched_id"),
        F2.lower(F2.trim(F2.col("c_name"))).alias("m_nm"),
        F2.col("c_nationkey").alias("nation"),
        F2.substring("c_name", 10, 8).alias("blk"),
    )
    d = F2.levenshtein(F2.col("nm"), F2.col("m_nm"))
    want = {
        (r.new_id, r.matched_id, r.dist)
        for r in new.join(static, ["nation", "blk"])
        .filter(d <= 1)
        .select("new_id", "matched_id", d.cast("long").alias("dist"))
        .collect()
    }
    assert got == want
    # every arrival matches its own source record at distance 1
    srcs = {(r.new_id, r.matched_id) for r in
            [type("R", (), {"new_id": n, "matched_id": n - 10_000_000})()
             for n, m, _ in got if m == n - 10_000_000]}
    assert len(srcs) > 0


# ---------------------------------------------------------------------
# sq_topk (scalar-quantized search)
# ---------------------------------------------------------------------

def test_sq_topk_finds_planted_neighbors(spark):
    """Planted near-identical vectors survive the int8 shortlist and
    win the exact re-rank; the int8 dot Arrow and expression paths
    agree exactly (integer arithmetic)."""
    from mapreduce_chisquare_spark.operators import simsearch as ss

    import random

    rng = random.Random(11)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(ss.DIM)]
        for i in range(2, 60)
    }
    vecs[0] = vecs[10][:]
    vecs[0][0] += 0.01           # query 0's true NN is 10
    vecs[1] = vecs[20][:]
    vecs[1][1] -= 0.01           # query 1's true NN is 20
    emb = _mk_emb(spark, vecs)
    for arrow in (True, False):
        got = {
            (r.query_id, r.rank): r.vec_id
            for r in ss.sq_topk(
                emb, n_queries=2, k=3, shortlist=10, use_arrow=arrow
            ).collect()
        }
        assert got[(0, 1)] == 10
        assert got[(1, 1)] == 20


def test_int8_dot_paths_agree(spark):
    from mapreduce_chisquare_spark.operators import simsearch as ss
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [([1, -127, 64, 0], [2, 127, -3, 9])],
        "a array<int>, b array<int>",
    )
    expr = df.select(ss.int8_dot(F2.col("a"), F2.col("b")).alias("d"))
    arrow = df.select(ss._pair_kernel("int8_dot")(F2.col("a"), F2.col("b")).alias("d"))
    want = 1 * 2 + (-127) * 127 + 64 * (-3) + 0 * 9
    assert expr.collect()[0].d == want
    assert arrow.collect()[0].d == want


# ---------------------------------------------------------------------
# multi-pass blocking
# ---------------------------------------------------------------------

def test_multipass_blocking_recall_union(spark):
    """A typo inside pass A's key is caught by pass B and vice versa;
    a pair proposed by both passes appears once with n_passes=2."""
    from mapreduce_chisquare_spark.operators.linkage import (
        blocking_pairs_multipass,
    )

    rows = [
        # (rid, name, blk_a, blk_b)
        (1, "abcdef", "abc", "def"),
        (2, "abcdeX", "abc", "deX"),  # 1 edit; same blk_a, diff blk_b
        (3, "Xbcdef", "Xbc", "def"),  # 1 edit from 1; diff blk_a, same blk_b
        (4, "abcdef", "abc", "def"),  # exact dup of 1: both passes
    ]
    recs = spark.createDataFrame(
        rows, "rid long, name string, blk_a string, blk_b string"
    )
    stats: dict = {}
    got = {
        (r.id_a, r.id_b): (r.dist, r.n_passes)
        for r in blocking_pairs_multipass(
            recs, "rid", "name", [["blk_a"], ["blk_b"]],
            max_edit=1, stats=stats,
        ).collect()
    }
    assert got[(1, 2)] == (1, 1)   # pass A only
    assert got[(1, 3)] == (1, 1)   # pass B only
    assert got[(1, 4)] == (0, 2)   # both passes, deduped
    assert got[(2, 4)] == (1, 1) and got[(3, 4)] == (1, 1)
    assert stats == {"blocks_skipped_p0": 0, "blocks_skipped_p1": 0}


# ---------------------------------------------------------------------
# match scoring
# ---------------------------------------------------------------------

def test_match_scores_closed_form(spark):
    from mapreduce_chisquare_spark.operators.linkage import match_scores

    rows = [
        (1, "abcdef", "b"),
        (2, "abcdef", "b"),   # dist 0, suffix eq  -> 900+100 match
        (3, "abcdeX", "b"),   # dist 1 vs 1, sfx != -> 600 possible
        (4, "abXdYf", "b"),   # dist 2 vs 1, sfx == -> 300+100 possible
        (5, "zzzzzz", "b"),   # dist > 2 from all: absent
    ]
    recs = _mk_records(spark, rows)
    got = {
        (r.id_a, r.id_b): (r.dist, r.score, r.decision)
        for r in match_scores(
            recs, "rid", "name", ["blk"], max_edit=2
        ).collect()
    }
    assert got[(1, 2)] == (0, 1000, "match")
    assert got[(1, 3)] == (1, 600, "possible")
    assert got[(1, 4)] == (2, 400, "possible")
    assert (1, 5) not in got and (4, 5) not in got
    assert got[(2, 4)] == (2, 400, "possible")
    assert (3, 4) not in got  # 3 substitutions: over max_edit


# ---------------------------------------------------------------------
# bpe_encode
# ---------------------------------------------------------------------

def test_bpe_encode_hand_model(spark):
    """Tiny corpus with hand-derivable merges: merge1 = (a, a), merge2
    = (aa, aa); 'aaaa' encodes to 1 token, 'bb' to 2. Fertility is
    tokens/word; word-free docs get NULL."""
    from mapreduce_chisquare_spark.operators.textstats import bpe_encode

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa"), (1, "aaaa bb"), (2, "   ")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.fertility)
        for r in bpe_encode(docs, n_merges=2).collect()
    }
    assert got[0] == (2, 2, 1.0)
    assert got[1] == (2, 3, 1.5)
    assert got[2] == (0, 0, None)


# ---------------------------------------------------------------------
# dq_anomaly_mad
# ---------------------------------------------------------------------

def test_dq_anomaly_mad_flags_and_threshold_exactness(spark):
    """Matches an independent Python model of the full median/MAD/
    cross-multiplied rule, including a value engineered to sit just
    UNDER the integer threshold (not flagged — strict >)."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        dq_anomaly_mad,
    )

    # type 't': base values 0..8 plus three tails; full-set median is
    # 400 cents, MAD 300 -> threshold d*10000 > 300*44478 means
    # d > 1334.34: |c-400| = 1334 (value 17.34) must NOT flag,
    # 1335 (17.35) must.
    rows = [("t", i, float(i)) for i in range(9)]
    rows += [("t", 100, 17.34), ("t", 101, 17.35), ("t", 102, -9.99)]
    ev = spark.createDataFrame(
        [(t, e, v, "2024-01-01 00:00:00") for t, e, v in rows],
        "event_type string, event_id long, value double, ts_s string",
    ).select(
        "event_type", "event_id", "value",
        F.to_timestamp("ts_s").alias("ts"),
    )
    # python model
    cents = sorted(round(v * 100) for _, _, v in rows)
    n = len(cents)
    med = cents[((n - 1) * 50) // 100]
    devs = sorted(abs(c - med) for c in cents)
    mad = devs[((n - 1) * 50) // 100]
    want = {
        e for _, e, v in rows
        if abs(round(v * 100) - med) * 10000 > mad * 44478
    }
    got = {
        r.event_id: (r.median_value, r.mad_value)
        for r in dq_anomaly_mad(ev).collect()
    }
    assert set(got) == want
    assert 101 in got and 102 in got and 100 not in got
    assert got[101] == (med / 100.0, mad / 100.0)


def test_dq_anomaly_mad_zero_mad_type(spark):
    """A constant-majority type has MAD 0: every deviating row flags
    (robust behavior where stddev-based screens divide by ~0)."""
    from mapreduce_chisquare_spark.operators.warehouse import (
        dq_anomaly_mad,
    )

    rows = [("c", i, 5.0) for i in range(10)] + [("c", 99, 5.01)]
    ev = spark.createDataFrame(
        [(t, e, v, "2024-01-01 00:00:00") for t, e, v in rows],
        "event_type string, event_id long, value double, ts_s string",
    ).select(
        "event_type", "event_id", "value",
        F.to_timestamp("ts_s").alias("ts"),
    )
    got = [r.event_id for r in dq_anomaly_mad(ev).collect()]
    assert got == [99]


# ---------------------------------------------------------------------
# ngram_containment
# ---------------------------------------------------------------------

def test_ngram_containment_embedded_doc(spark):
    """A document fully embedded in a longer one scores containment
    1.0 while Jaccard stays below — the length-asymmetry signal."""
    from mapreduce_chisquare_spark.operators.dedup import (
        ngram_containment,
    )

    a = "alpha bravo charlie delta echo"   # 3 distinct 3-shingles
    b = a + " foxtrot golf"                # 5 shingles, superset
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, "kilo lima mike nov")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.containment_a, r.containment_b, r.jaccard)
        for r in ngram_containment(docs, pairs).collect()
    }
    assert got[(1, 2)] == (1.0, 3 / 5, 3 / 5)
    assert got[(1, 3)] == (0.0, 0.0, 0.0)


# ---------------------------------------------------------------------
# property: linkage vs a plain-Python model
# ---------------------------------------------------------------------

def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402

_rec_strategy = hst.lists(
    hst.tuples(
        hst.text(alphabet="ab c", min_size=0, max_size=6),  # name
        hst.sampled_from(["b1", "b2", "b3"]),               # block
    ),
    min_size=2,
    max_size=14,
)


@given(recs=_rec_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@pytest.mark.slow  # 10s+ reference/brute-force sweep; full tier
def test_blocking_pairs_matches_python_model(spark, recs):
    """blocking_pairs == the brute-force Python model on random
    records: every same-block unordered pair within Levenshtein 2 of
    the normalized (lower+trim) names, with exact distances, and
    cluster assignment equals Python union-find's min-label
    components."""
    rows = [(i, nm, blk) for i, (nm, blk) in enumerate(recs)]
    df = _mk_records(spark, rows)
    got = {
        (r.id_a, r.id_b): r.dist
        for r in blocking_pairs(
            df, "rid", "name", ["blk"], max_edit=2
        ).collect()
    }
    norm = {i: nm.lower().strip() for i, nm, _ in rows}
    blocks = {i: blk for i, _, blk in rows}
    want = {}
    for i, _, _ in rows:
        for j, _, _ in rows:
            if i < j and blocks[i] == blocks[j]:
                d = _py_lev(norm[i], norm[j])
                if d <= 2:
                    want[(i, j)] = d
    assert got == want
    # clustering equals union-find min-label components
    parent = {i: i for i, _, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b) in want:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_clusters = {
        i: min(j for j in parent if find(j) == find(i))
        for i in parent
        if any(i in p for p in want)
    }
    got_clusters = {
        r.entity_id: r.cluster_id
        for r in match_clusters(
            blocking_pairs(df, "rid", "name", ["blk"], max_edit=2)
        ).collect()
    }
    assert got_clusters == want_clusters
