"""Round-15 operator tests: typed PII census (Luhn, validated IPv4),
character-entropy screen."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators.curation import (
    luhn_valid,
    pii_screen,
)
from mapreduce_chisquare_spark.operators.textstats import char_entropy


def _screen_one(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return pii_screen(df).collect()[0]


def test_pii_screen_typed_detectors(spark):
    r = _screen_one(
        spark,
        "mail a.b+c@ex-ample.org call 555-123-4567 ssn 123-45-6789 "
        "ip 192.168.0.1 card 4111111111111111",
    )
    assert (r.n_emails, r.n_phones, r.n_ssn, r.n_ipv4, r.n_cards) == (
        1, 1, 1, 1, 1,
    )
    assert r.pii_total == 5 and r.flagged


def test_pii_screen_negative_plants(spark):
    # out-of-range octet, Luhn-failing card, and digit runs too
    # short/long for a card must all be rejected
    r = _screen_one(
        spark,
        "ip 999.1.2.3 card 4111111111111112 num 123456789012 "
        "num 12345678901234567890",
    )
    assert r.pii_total == 0 and not r.flagged


def test_pii_screen_clean_text_unflagged(spark):
    r = _screen_one(spark, "an ordinary sentence with the number 42")
    assert r.pii_total == 0 and not r.flagged


def test_luhn_model_parity(spark):
    """luhn_valid must agree with the reference mod-10 model on a
    spread of digit strings (both parities of length)."""

    def model(s: str) -> bool:
        t = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            t += d
        return t % 10 == 0

    cands = [
        "4111111111111111", "4111111111111112", "371449635398431",
        "6011000990139424", "5500005555555559", "1234567890123",
        "9999999999999999999",
    ]
    df = spark.createDataFrame([(c,) for c in cands], "s string")
    got = {
        r.s: r.ok
        for r in df.select("s", luhn_valid(F.col("s")).alias("ok")).collect()
    }
    assert got == {c: model(c) for c in cands}


def test_char_entropy_model(spark):
    """Exact micro-nat parity with the plain-Python model, plus the
    degenerate single-char doc (entropy exactly 0 -> 'low')."""
    texts = {1: "aaaaaaaa", 2: "abab", 3: "the quick brown fox"}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}

    for did, t in texts.items():
        counts: dict[str, int] = {}
        for ch in t:
            counts[ch] = counts.get(ch, 0) + 1
        n = len(t)
        s_fp = sum(c * math.floor(math.log(c) * 1e6) for c in counts.values())
        ent_fp = math.floor(math.log(n) * 1e6) - s_fp // n
        r = got[did]
        assert r.n_chars == n
        assert r.ent_fp == ent_fp, (did, r.ent_fp, ent_fp)
    assert got[1].ent_fp == 0 and got[1].bucket == "low"
    assert got[3].bucket == "normal"


def test_char_entropy_empty_doc_absent(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "xy")], "doc_id long, text string"
    )
    assert [r.doc_id for r in char_entropy(df).collect()] == [3]


def _toy_emb(spark):
    # 8 vectors in 4 dims; vecs 4..7 are the corpus for queries 0..3
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [0.0, 1.0, 0.0, 0.0], "a"),
        (2, [0.0, 0.0, 1.0, 0.0], "b"),
        (3, [0.0, 0.0, 0.0, 1.0], "b"),
        (4, [0.9, 0.1, 0.0, 0.0], "a"),
        (5, [0.89, 0.11, 0.0, 0.0], "a"),
        (6, [0.5, 0.5, 0.0, 0.0], "b"),
        (7, [0.1, 0.9, 0.0, 0.0], "b"),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )


def test_mmr_prefers_diversity(spark):
    """With two near-identical top hits, plain top-k takes both;
    MMR's step 2 must skip the near-copy of the step-1 pick."""
    from mapreduce_chisquare_spark.operators.simsearch import mmr_topk

    got = {
        (r.query_id, r.step): r.vec_id
        for r in mmr_topk(
            _toy_emb(spark), n_queries=1, shortlist=4, k=3, lam=0.3
        ).collect()
    }
    # query 0 = [1,0,0,0]: relevance order is 4, 5, 6, 7; at the
    # diversity-heavy lam=0.3 MMR keeps 4 then must jump past 5
    # (cos(4,5) ~ 1) to a more diverse pick (at lam=0.7 relevance
    # legitimately wins - checked by the model-parity test)
    assert got[(0, 1)] == 4
    assert got[(0, 2)] in (6, 7) and got[(0, 2)] != 5


def test_mmr_model_parity(spark):
    """Exact greedy-model parity on the toy corpus (lambda=0.7)."""
    import math

    from mapreduce_chisquare_spark.operators.simsearch import mmr_topk

    rows = _toy_emb(spark).collect()
    vecs = {r.vec_id: r.embedding for r in rows}

    def cos(a, b):
        num = aa = bb = 0.0
        for x, y in zip(a, b):
            num += x * y
            aa += x * x
            bb += y * y
        return num / (math.sqrt(aa) * math.sqrt(bb))

    def model(qid, shortlist, k, lam=0.7):
        cand = sorted(
            ((cos(vecs[qid], vecs[v]), v) for v in vecs if v != qid),
            key=lambda t: (-t[0], t[1]),
        )[:shortlist]
        sel, out = [], []
        for step in range(1, k + 1):
            best = None
            for c, v in cand:
                if v in sel:
                    continue
                score = (
                    lam * c
                    if not sel
                    else lam * c
                    - (1.0 - lam) * max(cos(vecs[v], vecs[s]) for s in sel)
                )
                if best is None or score > best[0] or (
                    score == best[0] and v < best[1]
                ):
                    best = (score, v)
            sel.append(best[1])
            out.append((step, best[1], best[0]))
        return out

    got = sorted(
        (r.query_id, r.step, r.vec_id, r.mmr_score)
        for r in mmr_topk(
            _toy_emb(spark), n_queries=2, shortlist=6, k=4
        ).collect()
    )
    want = sorted(
        (q, step, v, s)
        for q in (0, 1)
        for step, v, s in model(q, 6, 4)
    )
    assert [(q, st, v) for q, st, v, _ in got] == [
        (q, st, v) for q, st, v, _ in want
    ]
    for (_, _, _, a), (_, _, _, b) in zip(got, want):
        assert abs(a - b) < 1e-12


def test_mmr_zero_norm_vectors_match_sql_twin(spark, tmp_path):
    """Two all-zero vectors: cos/sim are NULL (no DIVIDE_BY_ZERO under
    ANSI), and the driver-side greedy selection orders and keeps the
    NULL-scored candidates exactly as the DuckDB twin does."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_chisquare_spark.operators.simsearch import mmr_topk
    from mapreduce_chisquare_spark.plans.ext_round15 import _sql_mmr_topk

    ids = [0, 1, 2, 3, 4]
    head = [  # padded to the twin's 64 dims
        [1.0, 0.0, 0.0],
        [0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0],
        [1.0, 1.0, 0.0],
        [0.0, 1.0, 0.5],
    ]
    vecs = [h + [0.0] * 61 for h in head]
    emb = spark.createDataFrame(
        [(i, v, "a") for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>, label string",
    )
    cols = "query_id, vec_id, cos, mmr_score, step"
    got = [
        tuple(r)
        for r in mmr_topk(emb, n_queries=2, shortlist=4, k=3)
        .select(*cols.split(", "))
        .collect()
    ]

    path = tmp_path / "embeddings.parquet"
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(["a"] * len(ids)),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    want = con.execute(
        f"SELECT {cols} FROM ({_sql_mmr_topk(nq=2, m=4, k=3)})"
    ).fetchall()
    by_step = lambda r: (r[0], r[4])  # noqa: E731
    assert sorted(got, key=by_step) == sorted(want, key=by_step)
    assert any(r[3] is None for r in got)  # the NULL path is exercised


def test_mmr_pair_bound_fails_loudly(spark):
    from mapreduce_chisquare_spark.operators.simsearch import (
        MMR_MAX_PAIRS,
        mmr_topk,
    )

    with pytest.raises(ValueError, match="MMR_MAX_PAIRS"):
        mmr_topk(_toy_emb(spark), n_queries=2, shortlist=MMR_MAX_PAIRS)


def test_centroid_drift_identical_slices(spark):
    """Slices with IDENTICAL vectors must read cos = 1, drift = 0
    exactly (integer sums make the two centroids equal)."""
    from mapreduce_chisquare_spark.operators.simsearch import centroid_drift

    rows = [(i, [0.5, -0.25, 0.125, 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = centroid_drift(df).collect()[0]
    assert (r.n_ref, r.n_cur) == (5, 5)
    assert r.cos_centroid == 1.0 and r.drift == 0.0


def test_centroid_drift_orthogonal_slices(spark):
    from mapreduce_chisquare_spark.operators.simsearch import centroid_drift

    rows = [
        (i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = centroid_drift(df).collect()[0]
    assert r.cos_centroid == 0.0 and r.drift == 1.0


def test_ngram_novelty_model(spark):
    """First doc is all-novel; an exact repeat is zero-novel; a
    half-overlap doc scores the exact fraction."""
    from mapreduce_chisquare_spark.operators.textstats import ngram_novelty

    docs = [
        (1, "a b c d"),        # grams: abc, bcd -> both novel
        (2, "a b c d"),        # exact repeat -> 0 novel
        (3, "b c d e"),        # grams: bcd (seen), cde (novel)
        (4, "x y"),            # too short -> no row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].n_grams, got[1].n_novel, got[1].novelty) == (2, 2, 1.0)
    assert (got[2].n_grams, got[2].n_novel, got[2].novelty) == (2, 0, 0.0)
    assert (got[3].n_grams, got[3].n_novel, got[3].novelty) == (2, 1, 0.5)


def test_window_range_vs_rows_semantics(spark):
    """RANGE frame must include ALL same-day rows and value-distant
    rows within 30 days — the case a ROWS frame cannot express."""
    from pyspark.sql import Window

    rows = [
        (1, 100, 0, 10),
        (2, 100, 0, 20),   # same day as order 1: shared frame
        (3, 100, 25, 5),   # within 30 days of day 0
        (4, 100, 60, 7),   # outside every earlier frame
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, day long, cents long"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-30, Window.currentRow)
    )
    got = {
        r.o_orderkey: r.s
        for r in df.select(
            "o_orderkey", F.sum("cents").over(w).alias("s")
        ).collect()
    }
    # same-day orders 1,2 BOTH see 10+20; order 3 sees all of day 0
    assert got[1] == 30 and got[2] == 30
    assert got[3] == 35
    assert got[4] == 7


def test_standardize_dims_model(spark):
    """Exact z parity with the integer model; constant dim -> 0."""
    import math

    from mapreduce_chisquare_spark.operators.simsearch import (
        VAR_SCALE,
        standardize_dims,
    )

    rows = [
        (1, [0.5, 1.0]),
        (2, [-0.5, 1.0]),
        (3, [0.25, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.vec_id, r.dim): r.z for r in standardize_dims(df).collect()}
    q = {v: [round(x * VAR_SCALE) for x in emb] for v, emb in rows}
    for d in (0, 1):
        qs = [q[v][d] for v in (1, 2, 3)]
        n, s, ss = len(qs), sum(qs), sum(x * x for x in qs)
        rad = n * ss - s * s
        for v in (1, 2, 3):
            want = (
                (n * q[v][d] - s) / math.sqrt(rad) if rad > 0 else 0.0
            )
            assert got[(v, d)] == want, (v, d, got[(v, d)], want)
    # dim 1 is constant -> exactly 0 everywhere
    assert all(got[(v, 1)] == 0.0 for v in (1, 2, 3))


def test_source_dedup_rate_planted(spark):
    from mapreduce_chisquare_spark.plans.ext_round15 import (
        source_dedup_rate_q,
    )

    # exercise via the operator skeleton on a toy relation
    df = spark.createDataFrame(
        [
            (1, "same text", "feedA"),
            (2, "same text", "feedA"),
            (3, "unique one", "feedA"),
            (4, "same text", "feedB"),  # cross-source dup counts in B too
            (5, None, "feedB"),         # NULL text excluded entirely
        ],
        "doc_id long, text string, source string",
    )
    hc = df.filter(F.col("text").isNotNull()).groupBy(
        F.md5("text").alias("h")
    ).agg(F.count("*").alias("cnt"))
    j = (
        df.filter(F.col("text").isNotNull())
        .select("source", F.md5("text").alias("h"))
        .join(hc, "h")
    )
    got = {
        r.source: (r.n, r.d)
        for r in j.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias("d"),
        )
        .collect()
    }
    assert got == {"feedA": (3, 2), "feedB": (1, 1)}


def test_events_path_first3_order(spark):
    """Paths must follow the total (ts, event_id) order and cut at 3."""
    from pyspark.sql import Window

    rows = [
        (10, 1, 100, "view"), (11, 2, 100, "click"), (12, 3, 100, "buy"),
        (13, 4, 100, "view"),                      # 4th event ignored
        (20, 5, 200, "click"), (21, 5, 200, "view"),  # tie ts -> id order
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    got = {
        r.user_id: r.path
        for r in firsts.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .collect()
    }
    assert got[100] == "view>click>buy"
    assert got[200] == "click>view"  # ts tie broken by event_id asc


def test_degree_distribution_planted_k4(spark, sf_dir):
    """The planted K4 guarantees at least 4 nodes of degree >= 3."""
    from mapreduce_chisquare_spark.plans.ext_round15 import (
        graph_degree_distribution_q,
    )

    rows = graph_degree_distribution_q(spark, sf_dir).collect()
    assert sum(r.n_nodes for r in rows if r.deg >= 3) >= 4
    assert all(r.deg >= 1 for r in rows)


def test_dq_profile_columns_planted_nulls(spark, sf_dir):
    from mapreduce_chisquare_spark.plans.ext_round15 import (
        dq_profile_columns_q,
    )

    rows = {r.column: r for r in dq_profile_columns_q(spark, sf_dir).collect()}
    assert set(rows) == {"event_id", "user_id", "event_type", "value",
                         "props"}
    n = rows["event_id"].n_rows
    assert all(r.n_rows == n for r in rows.values())
    # key column: no nulls, all distinct
    assert rows["event_id"].n_nulls == 0
    assert rows["event_id"].n_distinct == n
    # planted nulls: every 9th value, every 7th props
    assert rows["value"].n_nulls == (n + 8) // 9
    assert rows["props"].n_nulls == (n + 6) // 7


def test_ndcg_model(spark):
    """NDCG parity with the textbook formula on a crafted ranking:
    relevant items at ranks 1 and 3 of 5."""
    import math as _m

    from mapreduce_chisquare_spark.operators.simsearch import (
        NDCG_CUM,
        NDCG_W,
        ndcg_at_k,
    )

    # query 0 = [1,0,0,0] with label "x": corpus ordered by cosine
    # puts labels x, y, x, y, y at ranks 1..5
    rows = [
        (0, [1.0, 0.0], "x"),
        (10, [0.99, 0.01], "x"),
        (11, [0.98, 0.02], "y"),
        (12, [0.97, 0.03], "x"),
        (13, [0.96, 0.04], "y"),
        (14, [0.95, 0.05], "y"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    r = ndcg_at_k(df, n_queries=1, k=5).collect()[0]
    assert r.n_rel == 2
    want_dcg = NDCG_W[0] + NDCG_W[2]
    assert r.dcg_fp == want_dcg
    assert r.ndcg == want_dcg / NDCG_CUM[2]
    # sanity vs the float formula
    f = (1 / _m.log2(2) + 1 / _m.log2(4)) / (1 / _m.log2(2) + 1 / _m.log2(3))
    assert abs(r.ndcg - f) < 1e-6


def test_recall_at_k_bounds(spark, sf_dir):
    from mapreduce_chisquare_spark.plans.ext_round15 import (
        rank_eval_recall_q,
    )

    rows = rank_eval_recall_q(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r.n_hit <= 5
        assert r.recall == r.n_hit / 5.0
