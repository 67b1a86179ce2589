"""Physical-plan regression tests: the scale properties SCALE.md
claims (pushdown, broadcasts, exchange reuse, no Python on the hot
path) asserted against .explain output so they can't silently regress.
"""

from __future__ import annotations

import pytest

from mapreduce_chisquare_spark.plans.registry import REGISTRY


def plan_text(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


@pytest.fixture(scope="module")
def flagship_plan(spark, sf_dir):
    return plan_text(REGISTRY["topk_per_group"][0](spark, sf_dir))


def test_flagship_scan_prunes_and_pushes_down(flagship_plan):
    assert "PushedFilters: [IsNotNull(text)" in flagship_plan
    assert "ReadSchema: struct<text:string,lang:string>" in flagship_plan


def test_flagship_broadcasts_category_dim(flagship_plan):
    assert "BroadcastHashJoin" in flagship_plan


def test_flagship_topk_uses_window_group_limit(flagship_plan):
    # Spark >= 3.5 prunes each partition to the top-k before the final
    # exchange; shuffled volume is O(categories x 75), not O(vocab).
    assert "WindowGroupLimit" in flagship_plan


def test_flagship_has_no_python_eval(flagship_plan):
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in flagship_plan


def test_flagship_shuffle_budget(spark, sf_dir, flagship_plan):
    # 3 main-lineage data exchanges ((term,category) agg, term window,
    # category window) + the df_c exchange, its N-branch replan (which
    # dedupes to a ReusedExchange at runtime — asserted below), and
    # the 1-row N sum. More means the window-sum J1 rewrite regressed
    # into a self-join or an extra shuffle crept in. (Round 15
    # temporarily raised this to 8 for a tokens_relation parallelism-
    # floor experiment that was REVERTED after measurement; round 16
    # restores the tight bound — re-measured at exactly 6.)
    import re

    data_exchanges = len(re.findall(r"\(\d+\) Exchange", flagship_plan))
    assert data_exchanges <= 6, flagship_plan


def test_flagship_runtime_plan_scans_corpus_once_per_branch(spark, sf_dir):
    # The AQE-final plan: exactly 2 parquet scans (token lineage +
    # the shared category-count lineage), the N branch served from a
    # ReusedExchange of the df_c stage, and no Expand (the round 1-3
    # rollup discriminator planned 3 corpus scans — PLANS.md audit).
    df = REGISTRY["topk_per_group"][0](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]
    assert p.count("FileScan parquet") == 2, p
    assert "ReusedExchange" in p
    assert "Expand" not in p


def test_flagship_aggs_stay_hash_based(flagship_plan):
    # SortAggregate means an agg fell out of the fixed-width-buffer
    # fast path and sorts its whole input.
    assert "SortAggregate" not in flagship_plan


def test_minhash_signature_agg_is_hash_based(spark, sf_dir):
    p = plan_text(REGISTRY["dedup_minhash_lsh"][0](spark, sf_dir))
    # min over numeric hashes keeps the 16-way signature aggregate in
    # HashAggregate; min over md5 strings regresses to SortAggregate,
    # adding a full sort of the shingle relation.
    assert "SortAggregate" not in p


def test_minhash_reuses_bucket_stage_at_runtime(spark, sf_dir):
    df = REGISTRY["dedup_minhash_lsh"][0](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # AQE must dedupe the identical shingle->signature->bands stages
    # between the bucket-size guard and the pair self-join.
    assert "ReusedExchange" in executed or "ReusedQueryStage" in executed


def test_band_self_join_is_sort_merge_single_scan(spark, sf_dir):
    # Round 16: the guarded band self-join is hint("merge")-pinned to
    # SortMergeJoin so its two identical-plan sides dedupe to ONE
    # exchange at runtime. Left to the planner, the small build side
    # auto-broadcasts and the broadcast subtree RECOMPUTES the whole
    # shingle->signature lineage (a BroadcastExchange cannot reuse a
    # shuffle exchange): the executed plan then scans the corpus
    # twice. Assert the pinned strategy and the single corpus scan.
    df = REGISTRY["dedup_minhash_lsh_k128"][0](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    executed = executed.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in executed
    assert executed.count("Scan parquet") == 1, executed


def test_inverted_index_join_is_co_partitioned_merge(spark, sf_dir):
    # The df/cf stats and the posting lists are both aggregated on
    # term, so the join back on term needs no exchange of its own.
    # Unpinned, AQE broadcast one side or the other from run to run.
    df = REGISTRY["inverted_index"][0](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    executed = executed.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in executed, executed
    assert "SortMergeJoin" in executed, executed


def test_ivf_probe_filter_reaches_scan(spark, sf_dir):
    # Round 16: the query/probe side of the IVF ladder filters
    # vec_id < n_queries BELOW the Arrow assignment kernel (the UDF
    # is opaque to pushdown, so filtering above it re-runs the
    # quantizer over the whole corpus). The probe lineage's parquet
    # scan must carry the pushed vec_id predicate.
    p = plan_text(REGISTRY["simsearch_ivfpq"][0](spark, sf_dir))
    assert "LessThan(vec_id," in p, p


def test_anti_join_is_broadcast(spark, sf_dir):
    p = plan_text(REGISTRY["anti_join_stopwords"][0](spark, sf_dir))
    assert "LeftAnti" in p and "Broadcast" in p


def test_q5_uses_broadcast_joins(spark, sf_dir):
    p = plan_text(REGISTRY["q5_supplier_revenue"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_simsearch_default_scorer_is_arrow(spark, sf_dir):
    # Default scorer is the Arrow/numpy batch path (contention-robust,
    # ~50x less CPU than the interpreted HOF expressions at scale) —
    # ArrowEvalPython, never row-at-a-time BatchEvalPython.
    p = plan_text(REGISTRY["simsearch_topk"][0](spark, sf_dir))
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_simsearch_reference_scorer_is_jvm_only(spark, sf_dir):
    # The oracle-parity reference form stays pure-JVM expressions.
    from mapreduce_chisquare_spark.operators import simsearch as ss
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    p = plan_text(ss.cosine_topk(emb, use_arrow=False))
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in p


def test_lang_id_is_map_side(spark, sf_dir):
    # Literal profiles scored inside one projection: zero shuffles —
    # scan-speed at 100 TB (the round-2 form exploded + broadcast-
    # joined + aggregated + ranked: two exchanges and a window).
    p = plan_text(REGISTRY["lang_id"][0](spark, sf_dir))
    assert "Exchange" not in p
    assert "Window" not in p


def test_dq_profile_has_no_expand(spark, sf_dir):
    # Multi-column exact count_distinct in one agg plans an Expand
    # (input replicated x columns); the profile instead uses HLL
    # sketches in the main pass plus one grouped exact distinct for
    # the audit flag — no Expand anywhere.
    p = plan_text(REGISTRY["dq_profile"][0](spark, sf_dir))
    assert "Expand" not in p


def test_tfidf_single_plan_no_separate_count(spark, sf_dir):
    # n_docs rides along as a broadcast 1-row aggregate (the J3
    # pattern) instead of a separate driver-side .count() action that
    # would re-scan the corpus.
    p = plan_text(REGISTRY["tfidf"][0](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_q6_filters_all_reach_scan(spark, sf_dir):
    # Q6 is the pushdown showcase: every predicate lands in
    # PushedFilters; the scan reads only the 4 referenced columns.
    p = plan_text(REGISTRY["q6_forecast_revenue"][0](spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity" in p
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp>" in p
    )


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    # Catalyst must derive the per-side implications of the OR-of-ANDs
    # predicate and push a disjunction into EACH scan — at 100 TB this
    # is the difference between scanning matching row groups and
    # scanning everything.
    p = plan_text(REGISTRY["q19_discounted_revenue"][0](spark, sf_dir))
    assert "Or(Or(And(EqualTo(p_brand,Brand#1)" in p  # part side
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in p  # fact side


def test_q7_broadcasts_all_dims(spark, sf_dir):
    # supplier/customer/nation×2 all broadcast: the only shuffle
    # exchanges are the fact-fact join and the final agg.
    p = plan_text(REGISTRY["q7_nation_volume"][0](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4


def test_pack_sequences_single_window_per_key(spark, sf_dir):
    # Packing is one window (running sum) + one aggregate; no global
    # (empty-partitionBy) window anywhere — the corpus never funnels
    # through a single partition.
    p = plan_text(REGISTRY["pack_sequences"][0](spark, sf_dir))
    assert "Window" in p
    assert "partitionBy=[]" not in p.replace(" ", "")


def test_global_topn_avoids_full_sort(spark, sf_dir):
    p = plan_text(REGISTRY["top_n_global"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    # The bucketed rewrite must keep the BETWEEN join an equi-join;
    # a BroadcastNestedLoopJoin here is the O(n*m) failure mode.
    p = plan_text(REGISTRY["join_range"][0](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_grouping_sets_single_expand_single_agg_pass(spark, sf_dir):
    # GROUPING SETS plans as one Expand feeding one partial+final
    # HashAggregate pair — not one scan per grouping set.
    p = plan_text(REGISTRY["agg_grouping_sets"][0](spark, sf_dir))
    assert p.count("Expand") >= 1
    # one physical scan (tree line + one detail block), not one per set
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "SortAggregate" not in p


def test_ivf_assign_is_shuffle_free(spark, sf_dir):
    # Round-1 IVF assignment scored corpus x centroids then ran a
    # row_number window — exchanging N*C rows. The k-means assignment
    # must now be a pure projection: no Exchange, no Window, in either
    # implementation (Arrow argmax or JVM array expression).
    import re

    from mapreduce_chisquare_spark.operators import simsearch as ss
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    cents = ss.kmeans_centroids(emb, iters=1)
    for use_arrow in (True, False):
        p = plan_text(ss.with_centroid_assignment(emb, cents, use_arrow))
        assert not re.search(r"\(\d+\) Exchange", p), p
        assert "Window" not in p, p


def test_ivf_assignment_impls_agree(spark, sf_dir):
    # The Arrow numpy argmax and the JVM array-expression argmax must
    # produce bit-identical cluster choices (same IEEE accumulation
    # order, same tie rule) — the oracle mirrors the expression form.
    from mapreduce_chisquare_spark.operators import simsearch as ss
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    cents = ss.kmeans_centroids(emb)
    a = ss.with_centroid_assignment(emb, cents, use_arrow=True)
    b = ss.with_centroid_assignment(emb, cents, use_arrow=False)
    rows_a = {r.vec_id: r.centroid_id for r in a.collect()}
    rows_b = {r.vec_id: r.centroid_id for r in b.collect()}
    assert rows_a == rows_b


def test_embed_neardup_blocks_on_lsh_bucket_not_label(spark, sf_dir):
    # Round 1 self-joined on the ~10-value label column — quadratic per
    # block. The plan must now never read `label`: blocking is on the
    # size-guarded hyperplane bucket.
    p = plan_text(REGISTRY["embed_neardup"][0](spark, sf_dir))
    assert "label" not in p, p


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    # The eval-set shingle relation must reach the corpus join as a
    # broadcast: no shuffle of the corpus-sized shingle relation for
    # the screen itself (only the per-doc count aggregate exchanges).
    p = plan_text(REGISTRY["decontaminate"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_pii_redact_is_map_side_only(spark, sf_dir):
    p = plan_text(REGISTRY["pii_redact"][0](spark, sf_dir))
    assert "Exchange" not in p
    assert "PythonUDF" not in p.replace("ArrowEvalPython", "")


def test_sample_per_source_uses_window_group_limit(spark, sf_dir):
    p = plan_text(REGISTRY["sample_per_source"][0](spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_repetition_metrics_lean_explode_and_shuffles(spark, sf_dir):
    import re

    p = plan_text(REGISTRY["repetition_metrics"][0](spark, sf_dir))
    # The token explode must carry only (doc_id, token): selecting
    # array-derived scalars beside the explode makes Catalyst retain
    # the arrays through Generate, replicating them per token row.
    m = re.search(r"\(\d+\) Generate\nInput \[(\d+)\]", p)
    assert m and int(m.group(1)) == 2, p
    # Shuffle budget: (doc, token) count + per-doc re-agg (+ at most
    # one for the gram-side join when it isn't broadcast).
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex <= 3, p


def test_aqe_converts_misestimated_join_to_broadcast(spark, sf_dir):
    # Static planning sees the unfiltered orders size and plans a
    # shuffle join; at runtime the selective filter leaves a tiny
    # build side and AQE must re-plan it as a broadcast join — the
    # mechanism SCALE.md leans on for fact-to-fact joins whose
    # filtered size is unknowable statically.
    import pyspark.sql.functions as SF

    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    li = scan_parquet(spark, sf_dir, "lineitem")
    od = scan_parquet(spark, sf_dir, "orders").filter(
        SF.col("o_orderkey") % 1000 == 0
    )
    j = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "l_orderkey", "o_totalprice"
    )
    j.collect()
    executed = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed, executed[:2000]


def test_aqe_splits_planted_skew_join(spark):
    # One key owns ~half the probe side; with the broadcast path
    # disabled AQE must mark the sort-merge join skew-handled and
    # split the oversized partition.
    import pyspark.sql.functions as SF

    skew_conf = {
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in skew_conf}
    try:
        for k, v in skew_conf.items():
            spark.conf.set(k, v)
        big = spark.range(0, 200_000).select(
            SF.when(SF.col("id") % 2 == 0, SF.lit(7))
            .otherwise(SF.col("id"))
            .alias("k"),
            SF.concat(SF.lit("pad" * 20), SF.col("id")).alias("payload"),
        )
        dim = spark.range(0, 1000).select(
            SF.col("id").alias("k"), SF.col("id").alias("v")
        )
        # No downstream operator that needs the join's hash
        # partitioning: a groupBy(k) above the join would veto the
        # split (skew handling never introduces an extra shuffle).
        j = big.join(dim, "k")
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_join_one_scan_one_exchange(spark, sf_dir):
    """The fused as-of join (asof_from_tagged over a single tagged
    projection) must read events ONCE and shuffle ONCE — the r1-r3
    form paid two scans + a groupBy dedup exchange on the click side.
    At 100 TB that is half the IO and one fewer full shuffle."""
    plan = plan_text(REGISTRY["asof_join"][0](spark, sf_dir), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the event-type disjunction reaches the parquet reader
    assert "In(event_type, [click,purchase])" in plan


def test_asof_nearest_one_scan_one_exchange(spark, sf_dir):
    """The nearest-direction variant fuses the same way: one tagged
    projection over ONE events scan, one key exchange; the two
    directional fills are partition-local sorts on that exchange."""
    plan = plan_text(REGISTRY["asof_nearest"][0](spark, sf_dir), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_repeated_spans_plan_shape(spark, sf_dir):
    """Span detection at scale: the gram cross-doc test is a plain
    hash aggregate (no count-distinct Expand), the explode carries
    scalars only (no token array replication through Generate), and no
    Python touches the plan."""
    df = REGISTRY["dedup_spans"][0](spark, sf_dir)
    p = plan_text(df)
    assert "Expand" not in p, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p
    # the explode output list must not carry the token array
    import re

    gen = re.search(r"Generate .*", p)
    assert gen and "__arr" not in gen.group(0).split("[", 1)[-1]


def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir):
    """The V-row vocabulary attaches to the token relation as a
    broadcast join — the corpus side never shuffles for the lookup
    (its only exchange is the per-doc rollup)."""
    df = REGISTRY["vocab_oov"][0](spark, sf_dir)
    p = plan_text(df)
    assert "BroadcastHashJoin" in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p


# ---------------------------------------------------------------------------
# Round 9: plan shapes for imagehash / rank sketch / MG / quality model


def test_image_phash_is_pure_projection(spark, sf_dir):
    """The fingerprint is row-local: no Python eval, the parquet scan
    prunes to (doc_id, text), and the only Exchange permitted is the
    round-16 parallelism floor below the 72-substring sampling
    projection (operators/spread.py — conditional, so 0 exchanges at
    cluster scale / on many-partition inputs, 1 here), carrying the
    narrow (doc_id, text) relation and hash-keyed on doc_id."""
    import re

    p = plan_text(REGISTRY["image_phash"][0](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1, p
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "doc_id" in m.group(1), m.group(0)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_image_neardup_single_band_exchange_no_python(spark, sf_dir):
    """Candidate generation exchanges banded rows, not payloads: the
    hash side never shuffles text (band/exchange columns only), and
    the whole pair stage stays JVM-side."""
    p = plan_text(REGISTRY["image_neardup_pairs"][0](spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p
    # the shuffled relation carries band columns, never the payload
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1), m.group(0)


def test_rank_sketch_kept_compiles_to_window_group_limit(spark, sf_dir):
    """The bottom-k state selection must prune per-partition BEFORE
    the exchange (WindowGroupLimit), so each partition ships at most
    k rows per group."""
    from mapreduce_chisquare_spark.operators.sketches import (
        rank_sketch_kept,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "event_id", "value"
    )
    kept = rank_sketch_kept(ev, "event_id", "value", ["event_type"], k=64)
    p = plan_text(kept)
    assert "WindowGroupLimit" in p, p


def test_heavy_hitters_head_is_take_ordered(spark, sf_dir):
    """The (k+1)-row head must be TakeOrderedAndProject (distributed
    partial top-k), never a global Sort over the vocabulary."""
    p = plan_text(REGISTRY["heavy_hitters_mg"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_quality_model_broadcasts_weight_table(spark, sf_dir):
    """The weight lookup is a broadcast hash join (n_buckets rows),
    and the gram expansion stays JVM-side."""
    p = plan_text(REGISTRY["quality_model_score"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p


# ---------------------------------------------------------------------------
# Round 11: decoded phash stays narrow; shuffle LSH join is
# broadcast-free by construction


def test_image_phash_decoded_narrow_spread_only(spark, sf_dir):
    """Real-pixel hashing is spread -> synth -> decode -> projection:
    the ONLY Exchange is the round-15 parallelism-floor repartition
    of the narrow doc_id relation (operators/spread.py) BELOW the
    synth kernel — payload bytes are never exchanged — and the only
    Python is the Arrow-batched mapInPandas stages, no row-at-a-time
    eval."""
    import re

    p = plan_text(REGISTRY["image_phash_decoded"][0](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1, p
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    for ex in parts:
        assert "payload" not in ex, ex
        assert "doc_id" in ex, ex
    for marker in ("BatchEvalPython", "pythonUDF"):
        assert marker not in p
    assert "MapInPandas" in p


def test_similarity_join_minhash_shuffle_is_broadcast_free(spark, sf_dir):
    """The corpus-vs-corpus LSH join must compile exchange-based
    (SortMergeJoin), never a static broadcast build of the probe
    side — that build is the OOM this mode exists to avoid. The
    broadcast variant keeps its BroadcastHashJoin."""
    p = plan_text(
        REGISTRY["similarity_join_minhash_shuffle"][0](spark, sf_dir),
        mode="simple",
    )
    assert "Broadcast" not in p, p
    assert "SortMergeJoin" in p, p
    p2 = plan_text(
        REGISTRY["similarity_join_minhash"][0](spark, sf_dir),
        mode="simple",
    )
    assert "BroadcastHashJoin" in p2, p2


def test_audio_video_decode_plans_are_narrow(spark, sf_dir):
    """audio_fingerprint and video_frame_phash must compile with at
    most the round-15 parallelism-floor repartition of the narrow
    doc_id relation as their only exchange (payload bytes never
    shuffle), and only Arrow-batched Python (no row-at-a-time eval).
    The audio feature math must be JVM-side array expressions
    downstream of the decode stage."""
    import re

    for name in ("audio_fingerprint", "video_frame_phash"):
        p = plan_text(REGISTRY[name][0](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1, (name, p)
        parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
        for ex in parts:
            assert "payload" not in ex, (name, ex)
        for marker in ("BatchEvalPython", "pythonUDF"):
            assert marker not in p, name
        assert "MapInPandas" in p, name


def test_inverted_index_postings_cut_is_window_group_limit(spark, sf_dir):
    """The posting cut must compile to WindowGroupLimit with a
    PARTIAL map-side stage (round-12 rewrite): each input partition
    forwards at most max_postings postings per term into the
    exchange, so a stopword-grade term never sorts or ships its full
    posting list. The head must stay a distributed partial top-k."""
    p = plan_text(REGISTRY["inverted_index"][0](spark, sf_dir))
    assert "WindowGroupLimit" in p, p
    assert "Partial" in p.split("WindowGroupLimit", 1)[1] or \
        p.count("WindowGroupLimit") >= 2, p
    assert "TakeOrderedAndProject" in p, p


def test_quantile_bucketize_histogram_first(spark, sf_dir):
    """The bucketize plan must collapse to the (value, count)
    histogram BEFORE the single-partition cumulative window: the
    only Sort in the plan sits above the SinglePartition exchange
    whose child is the map-side-combined histogram aggregate — the
    raw relation is never globally sorted (ntile's shape), and the
    N branch scans zero columns."""
    p = plan_text(REGISTRY["quantile_bucketize"][0](spark, sf_dir))
    tree = p.split("(1) Scan", 1)[0]
    assert tree.count("Sort") == 1, tree
    # tree prints top-down: the one Sort sits between the Window and
    # the exchange+aggregate chain — i.e. the aggregate is BELOW it
    sort_at = tree.index("Sort")
    assert tree.index("Window") < sort_at, tree
    assert "HashAggregate" in tree[sort_at:], tree
    # the histogram collapse is map-side combined before its exchange
    assert "partial_count" in p, p
    # the N scalar branch prunes every column
    assert "ReadSchema: struct<>" in p, p


def test_bloom_screen_broadcasts_filter_no_smj(spark, sf_dir):
    """The Bloom prescreen's corpus side must reach the probe join
    as a BROADCAST of the <= m set-bit relation — never a sort-merge
    join (which would shuffle corpus-derived bits against the
    probes) — and the whole plan stays JVM-side."""
    p = plan_text(REGISTRY["dedup_bloom_screen"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p, p


def test_bucketize_2level_no_domain_sized_single_partition_sort(spark, sf_dir):
    """The two-level bucketize must put the ONLY SinglePartition
    exchange below the per-range offset window — an exchange whose
    child is the per-pk totals aggregate (ceil(domain/2^16) rows) —
    while the value-domain cumsum runs in a pk-PARTITIONED window
    (hashpartitioning exchange). The offsets attach by broadcast."""
    p = plan_text(
        REGISTRY["quantile_bucketize_2level"][0](spark, sf_dir)
    )
    # exactly two single-partition exchanges, both provably tiny:
    # the per-pk totals cumsum (ceil(domain/2^16) rows) and the
    # 1-row N scalar aggregate — NOT the value-domain histogram
    assert p.count("SinglePartition") == 2, p
    # the domain-sized local cumsum is hash-partitioned by pk
    assert "hashpartitioning(pk" in p, p
    # offsets come back as a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in p, p


def test_robots_screen_is_broadcast_plus_one_aggregate(spark, sf_dir):
    """The robots gate: rule table broadcast, winner decided by a
    map-side-combined max-struct aggregate — no window, no sort-merge
    join, no Python."""
    p = plan_text(REGISTRY["robots_screen"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p
    assert "partial_max" in p, p  # map-side combine of the struct max
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in p, p


def test_image_phash_palette_no_shuffle(spark, sf_dir):
    """Palette decode keeps the media posture: one narrow Arrow
    mapInPandas lineage whose only exchange is the round-15
    parallelism-floor repartition of the doc_id relation below the
    synth kernel (payload never shuffles)."""
    import re

    p = plan_text(REGISTRY["image_phash_palette"][0](spark, sf_dir))
    head = p.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\(\d+\) Exchange", head)) <= 1, p
    for ex in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", head):
        assert "payload" not in ex, ex
    assert "MapInPandas" in p, p


def test_perplexity_buckets_thresholds_broadcast(spark, sf_dir):
    """CCNet tiers: the per-language threshold table attaches by
    broadcast, and the sketch's rank<=k cut compiles to
    WindowGroupLimit (partial per-partition top-k before the
    exchange), so no data-sized percentile window exists."""
    p = plan_text(
        REGISTRY["quality_perplexity_buckets"][0](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in p, p
    assert "WindowGroupLimit" in p, p
