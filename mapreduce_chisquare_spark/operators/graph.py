"""Graph analytics over relational edge lists, expressed as DataFrame
plans (PageRank is the original chained-MapReduce showcase; the
reference's surface ends at joins/top-k, SURVEY.md §2). Nine
operators:

  pagerank, personalized_pagerank   fixed-point link importance
  hits                               fixed-point hub/authority scores
  triangle_counts                    degree-oriented triangle counting
  basket_rules                       support/confidence/lift rules
  label_propagation                  synchronous LPA communities
  kcore_peel                         fixed-round k-core peeling
  jaccard_link_prediction            hub-guarded common-neighbour Jaccard
  connected_components_star          large-star/small-star components

Cross-engine exactness: every iterative state (rank, label, degree,
edge set) is integer. PageRank and HITS run in FIXED-POINT arithmetic
(BIGINT multiples of 1/scale) for a fixed round count, so the Spark
operator and its DuckDB twin produce bit-identical results under any
partitioning — no float-summation-order drift across 10^6 partial
aggregates, the failure mode a float PageRank has at cluster scale.
The only doubles (rule confidence/lift, link Jaccard) are single
shared quotients of integer counts.

Checkpoint per round, where a round re-reads its state: an iterative
operator materializes its state (localCheckpoint) once per round when
the round reads the previous state more than once (pagerank's ranks
feed contrib and the dangling mass; LPA and link prediction re-join
the edge relation). Without it each read recomputes the whole chain
of earlier rounds; checkpointing only every second round made the
next round's broadcast subtrees recompute the un-checkpointed step
and ran slower (OPTIMIZATION_r15.md, OPTIMIZATION_r16.md). A round
that reads its state once needs no materialization: kcore_peel's
rounds form one linear plan, one exchange each, and run as stages of
the caller's action instead of as jobs inside the builder.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import literal_relation

PR_SCALE = 10**12  # ranks are integer multiples of 1e-12
PR_ITERATIONS = 10
PR_DAMP_NUM = 85  # d = 85/100
PR_DAMP_DEN = 100


def _undirected(edges: DataFrame) -> DataFrame:
    """The symmetrized (a, b) relation of an undirected `lo`/`hi`
    edge list: both directions, self-loops dropped, deduped. Lazy:
    callers whose rounds re-join it materialize it themselves."""
    return (
        edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .union(
            edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _node_set(e: DataFrame, *extra: DataFrame) -> DataFrame:
    """The materialized `node` set of a directed `src`/`dst` edge
    relation, united with any `extra` single-column node relations."""
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    )
    for x in extra:
        nodes = nodes.union(x)
    return nodes.distinct().localCheckpoint()


def _pagerank_rounds(
    e: DataFrame,
    nodes: DataFrame,
    r0: Column,
    restart: int,
    update: Column,
    iterations: int,
) -> DataFrame:
    """The PageRank round shared by pagerank() and
    personalized_pagerank(): starting from r0 over `nodes`, each round
    joins r(u) div outdeg(u) onto the edges (contrib, keyed by src),
    sums it per dst (`s`), broadcasts the 1-row dangling share
    (sink mass div `restart`, `ds`) and evaluates `update` per node
    over (node, s, ds). The rank state is checkpointed per round."""
    outdeg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    ranks = nodes.select("node", r0.cast("long").alias("r")).localCheckpoint()
    for _ in range(int(iterations)):
        contrib = ranks.join(outdeg, "node").select(
            F.col("node").alias("src"),
            F.expr("r div deg").alias("contrib"),
        )
        incoming = (
            e.join(contrib, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").cast("long").alias("s"))
        )
        dang = (
            ranks.join(outdeg, "node", "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("sr"))
            .select(
                F.expr(f"sr div CAST({int(restart)} AS BIGINT)").alias("ds")
            )
        )
        ranks = (
            nodes.join(incoming, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select("node", update.cast("long").alias("r"))
            .localCheckpoint()
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))


def pagerank(
    edges: DataFrame,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Fixed-point integer PageRank over a directed edge list
    (columns `src`, `dst`; duplicates allowed — deduped here).

    Contract (shared bit-for-bit with the DuckDB twin):
      r0(v)   = scale div N                      (N = |nodes|)
      contrib = r(u) div outdeg(u)               (integer div)
      dang    = (sum of r over sink nodes) div N
      r'(v)   = (scale*(100-85)) div (100*N)
                + (85 * (incoming(v) + dang)) div 100
    for a fixed `iterations` rounds, damping d = 0.85. Every step is
    BIGINT arithmetic — sums are order-independent and exact, so the
    result cannot drift between engines or between partial-aggregate
    schedules. The ~1e-12 per-node quantization this buys is far
    below any ranking-relevant signal.

    Scale shape: the edge relation is materialized ONCE
    (localCheckpoint — at cluster scale: a bucketed-by-src layout or
    DISK_ONLY persist) and re-joined per iteration; each iteration is
    the canonical two exchanges (contrib join on src, incoming agg on
    dst) over |E|, plus one 1-row dangling aggregate broadcast back —
    never a driver-side rank table. Rank state is |V| rows,
    checkpointed per round to truncate lineage. Build-time freeze: N
    and the node set reflect the edges at call time.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = _node_set(e)
    n = nodes.count()
    if n == 0:
        # empty edge relation: an empty rank table, not ZeroDivisionError
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_fp")
        )
    base = (scale * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    update = F.lit(base) + F.expr(
        f"({PR_DAMP_NUM} * (COALESCE(s, CAST(0 AS BIGINT))"
        f" + ds)) div {PR_DAMP_DEN}"
    )
    return _pagerank_rounds(
        e, nodes, F.lit(scale // n), n, update, iterations
    )


def triangle_counts(
    order_parts: DataFrame, min_support: int = 2, top: int = 20
) -> DataFrame:
    """Per-node triangle participation counts over the co-occurrence
    graph of `order_parts` (columns `o_key`, `p_key`): nodes are
    parts; an undirected edge joins two parts that co-occur in at
    least `min_support` distinct orders (the support threshold is the
    sparsifier — raw co-occurrence on a 100 TB basket log is dense
    noise; repeated co-occurrence is signal, and it bounds |E| by the
    repeat-collision rate). Returns the `top` parts by triangle
    count, (p_key, tri_cnt), ties broken by p_key ascending.

    Algorithm (Schank/Wagner degree orientation — the standard
    MapReduce/distributed triangle scheme): orient every edge from
    its lower-(degree, id) endpoint to its higher one. The oriented
    graph is a DAG in which each triangle has exactly ONE apex with
    both out-edges, so wedges = the apex self-join, and the closing
    edge appears in exactly one (known) orientation — one equi-join,
    no OR-join, no double counting. Orientation bounds every node's
    out-degree by O(sqrt(|E|)) regardless of hub skew, which is THE
    wedge-explosion guard at scale (a raw hub of degree h costs h^2
    wedges; oriented it costs at most |E|).

    All integer; all decisions exact. Wedge pairs are ordered by the
    same (degree, id) key used for orientation, so both engines
    enumerate identical wedges.
    """
    op = order_parts.select("o_key", "p_key").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, F.col("a.o_key") == F.col("b.o_key"))
        .filter(F.col("a.p_key") < F.col("b.p_key"))
        .select(
            F.col("a.p_key").alias("lo"), F.col("b.p_key").alias("hi")
        )
    )
    edges = (
        pairs.groupBy("lo", "hi")
        .agg(F.count("*").alias("supp"))
        .filter(F.col("supp") >= F.lit(int(min_support)))
        .select("lo", "hi")
    )
    deg = (
        edges.select(F.col("lo").alias("node"))
        .union(edges.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    dl = deg.alias("dl")
    dh = deg.alias("dh")
    keyed = (
        edges.join(dl, F.col("lo") == F.col("dl.node"))
        .join(dh, F.col("hi") == F.col("dh.node"))
        .select(
            "lo",
            "hi",
            F.col("dl.deg").alias("deg_lo"),
            F.col("dh.deg").alias("deg_hi"),
        )
    )
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = keyed.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
        F.when(lo_first, F.col("deg_hi"))
        .otherwise(F.col("deg_lo"))
        .alias("dst_deg"),
    ).localCheckpoint()
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    before = (F.col("w1.dst_deg") < F.col("w2.dst_deg")) | (
        (F.col("w1.dst_deg") == F.col("w2.dst_deg"))
        & (F.col("w1.dst") < F.col("w2.dst"))
    )
    wedges = (
        w1.join(w2, F.col("w1.src") == F.col("w2.src"))
        .filter(before)
        .select(
            F.col("w1.src").alias("a"),
            F.col("w1.dst").alias("b"),
            F.col("w2.dst").alias("c"),
        )
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"])
    per_node = (
        tris.select(F.col("a").alias("p_key"))
        .union(tris.select(F.col("b").alias("p_key")))
        .union(tris.select(F.col("c").alias("p_key")))
        .groupBy("p_key")
        .agg(F.count("*").cast("long").alias("tri_cnt"))
    )
    return (
        per_node.orderBy(F.col("tri_cnt").desc(), F.col("p_key").asc())
        .limit(int(top))
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank — the relevance
    propagator behind 'more like these' corpus expansion: identical
    fixed-point integer contract to pagerank(), except ALL restart
    mass (the (1-d) share and the dangling share) returns to the
    `seeds` set instead of spreading uniformly:

      r0(v)   = scale div |S| if v in S else 0
      r'(v)   = [v in S] * ((scale*15) div (100*|S|)
                            + (85*dang) div 100)
                + (85 * incoming(v)) div 100
    (dang = sum of r over sinks, div |S|.) Ranks measure proximity to
    the seed set; nodes unreachable from it stay at 0 — exactly the
    semantics seed-expansion curation wants. Seeds absent from the
    graph still receive restart mass (standard PPR: the restart
    vector is over S, not over V ∩ S). Same round, scale shape and
    bit-identical-BIGINT guarantees as pagerank(); the DuckDB twin
    unrolls the iterations with the seed set as a literal relation."""
    seeds = sorted(set(seeds))
    if not seeds:
        raise ValueError("personalized_pagerank needs >= 1 seed")
    e = edges.select("src", "dst").distinct().localCheckpoint()
    seed_df = literal_relation(
        edges.sparkSession, [(s,) for s in seeds], "node string"
    )
    nodes = _node_set(e, seed_df.select("node"))
    ns = len(seeds)
    base = (scale * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * ns)
    is_seed = F.col("node").isin(seeds)
    r0 = F.when(is_seed, F.lit(scale // ns)).otherwise(F.lit(0))
    update = F.when(
        is_seed,
        F.lit(base) + F.expr(f"({PR_DAMP_NUM} * ds) div {PR_DAMP_DEN}"),
    ).otherwise(F.lit(0)) + F.expr(
        f"({PR_DAMP_NUM} * COALESCE(s, CAST(0 AS BIGINT)))"
        f" div {PR_DAMP_DEN}"
    )
    return _pagerank_rounds(e, nodes, r0, ns, update, iterations)


def basket_rules(
    order_parts: DataFrame,
    min_support: int = 2,
    k: int = 50,
) -> DataFrame:
    """Association rules over co-order pairs — the original MapReduce
    market-basket statistic (Agrawal & Srikant 1994 support/
    confidence; lift as the interestingness cut): for every ORDERED
    pair (a -> b) of parts co-occurring in >= min_support distinct
    orders, confidence = supp(a,b) / supp(a) and
    lift = N * supp(a,b) / (supp(a) * supp(b)) with N = number of
    distinct orders. Returns the top-k rules
    (antecedent, consequent, pair_supp, confidence, lift) by
    (lift DESC, antecedent, consequent); both directions of a pair
    are scored (confidence is asymmetric).

    Exactness: supports are integers; confidence and lift are shared
    single-quotient double expressions (lift's numerator N*supp
    multiplies BEFORE dividing, same order both engines).

    Scale shape: the same distinct + self-join pair relation as
    triangle_counts (bounded per order by basket size), ONE pair
    exchange; item supports and the order count aggregate from
    relations already in flight and broadcast back (item relation is
    catalog-sized). TakeOrdered cut."""
    # 3 consumers (pair self-join, item supports, order count) —
    # materialized once so the input is scanned once (audit finding)
    op = order_parts.select("o_key", "p_key").distinct().localCheckpoint()
    # lazy 1-row aggregate (never an eager count at plan-build time)
    nord = (
        op.select("o_key")
        .distinct()
        .agg(F.count("*").cast("double").alias("n_ord"))
    )
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, F.col("a.o_key") == F.col("b.o_key"))
        .filter(F.col("a.p_key") != F.col("b.p_key"))
        .select(
            F.col("a.p_key").alias("antecedent"),
            F.col("b.p_key").alias("consequent"),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("long").alias("pair_supp"))
        .filter(F.col("pair_supp") >= F.lit(int(min_support)))
    )
    item = op.groupBy(F.col("p_key").alias("item")).agg(
        F.count("*").cast("long").alias("supp")
    )
    ia, ic = item.alias("ia"), item.alias("ic")
    scored = (
        pairs.join(
            F.broadcast(ia), F.col("antecedent") == F.col("ia.item")
        )
        .join(F.broadcast(ic), F.col("consequent") == F.col("ic.item"))
        .crossJoin(F.broadcast(nord))
        .select(
            "antecedent",
            "consequent",
            "pair_supp",
            (
                F.col("pair_supp").cast("double")
                / F.col("ia.supp").cast("double")
            ).alias("confidence"),
            (
                F.col("n_ord") * F.col("pair_supp").cast("double")
                / (
                    F.col("ia.supp").cast("double")
                    * F.col("ic.supp").cast("double")
                )
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("antecedent"), F.asc("consequent")
    ).limit(int(k))


LPA_ITERATIONS = 3


def label_propagation(
    edges: DataFrame, iterations: int = LPA_ITERATIONS
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected edge list (columns `lo`, `hi`; duplicates allowed —
    symmetrized and deduped here). Returns (node, community).

    Contract (shared exactly with the DuckDB twin): labels start as
    each node's own id; every round, EVERY node simultaneously adopts
    the most frequent label among its neighbours, ties broken by the
    SMALLER label, for a fixed `iterations` rounds. All-integer
    states and a total tie order make the result bit-identical across
    engines and partitionings — the async/random-order LPA variants
    converge faster but are irreproducible, which disqualifies them
    as a certified operator.

    Scale shape: the symmetrized edge relation materializes once
    (localCheckpoint; bucketed layout at cluster scale) and each
    round is the canonical pair — one join carrying (node, lbl) over
    |E|, one (node, lbl) count aggregate, one per-node window argmax
    on the SAME node partitioning. (A min(struct(-c, lbl)) aggregate
    argmax measured slower: a struct-typed agg buffer forces
    ObjectHashAggregate, where the row_number form is
    WindowGroupLimit-eligible.) Label state is |V|
    rows, checkpointed per round to truncate lineage. No driver
    state; the round count, not |V|, bounds the chain."""
    sym = _undirected(edges).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(int(iterations)):
        nb = sym.join(
            labels.select(F.col("node").alias("b"), "lbl"), "b"
        ).select(F.col("a").alias("node"), "lbl")
        cnt = nb.groupBy("node", "lbl").agg(F.count("*").alias("c"))
        labels = (
            cnt.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "lbl")
            .localCheckpoint()
        )
    return labels.select("node", F.col("lbl").alias("community"))


KCORE_ROUNDS = 4


def kcore_peel(
    edges: DataFrame, k: int = 3, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core peeling over an undirected edge list (columns `lo`,
    `hi`) — the density skeleton community/robustness audits read:
    repeatedly delete nodes of degree < k; what survives is (after
    enough rounds) the k-core. Returns (node, deg): survivors of a
    FIXED `rounds` peels with their degree inside the surviving
    subgraph.

    Contract: the round count is pinned (the LPA/PageRank discipline)
    so both engines compute the identical partial peel — the oracle
    unrolls the same rounds as chained CTEs. Fixed rounds bound the
    peel DEPTH, not correctness of what is reported: every reported
    degree is the true degree of the surviving subgraph, and on
    graphs whose peeling converges within `rounds` (asserted for the
    test fixture) the result IS the exact k-core.

    Scale shape: one |E| shuffle per round. Each row (x, y, dy) of
    the symmetric edge set is hash-partitioned on x and carries y's
    degree from the previous round; a window count per x gives x's
    degree, one filter keeps the rows whose two degrees are both
    >= k, and a second window on the same partitioning (no exchange,
    no sort) counts x's surviving degree, which the swapped row
    (y, x, dx) carries to the next round. That replaces a degree
    aggregate, two semi-joins and a checkpoint per round. The state
    is read once per round, so the rounds form one linear plan with
    no materialization; the last round ends in a groupBy on x, which
    needs no exchange. State is |E| rows and shrinks monotonically.
    No driver state beyond the loop counter."""
    e = _undirected(edges)
    by_x = Window.partitionBy("x")
    # (x, y, dy): the row keyed by x carries y's degree
    s = e.select(
        F.col("b").alias("x"),
        F.col("a").alias("y"),
        F.count("*").over(Window.partitionBy("a")).alias("dy"),
    )
    for i in range(int(rounds)):
        s = s.withColumn("dx", F.count("*").over(by_x)).filter(
            (F.col("dx") >= F.lit(int(k))) & (F.col("dy") >= F.lit(int(k)))
        )
        if i + 1 < int(rounds):
            s = s.select(
                F.col("y").alias("x"),
                F.col("x").alias("y"),
                F.count("*").over(by_x).alias("dy"),
            )
    return s.groupBy(F.col("x").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )


LINKPRED_MAX_DEG = 200  # hub excision guard, as dedup.py MAX_BUCKET


def jaccard_link_prediction(
    edges: DataFrame,
    k: int = 50,
    max_deg: int = LINKPRED_MAX_DEG,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected edge list
    (columns `lo`, `hi`): for non-adjacent node pairs that share at
    least one neighbor, the Jaccard score |N(a)∩N(b)| /
    |N(a)∪N(b)|; top-k by (score DESC, a, b). The classic
    "people you may know" / co-purchase-recommendation primitive.

    Scale shape: candidate pairs come from the wedge join (two edge
    relations joined on the shared neighbor) — Σ deg(n)² work, so a
    HUB IS THE SKEW AXIS: nodes above `max_deg` (by full degree) are
    excised from the graph entirely, and the score is the EXACT
    Jaccard over the hub-excised neighbor sets N'(x) = {neighbors of
    x with degree ≤ max_deg}: common = |N'(u)∩N'(w)| from the wedge
    count and du/dw = |N'(u)|, |N'(w)| from the same excised
    relation, so numerator and denominator agree. Pairs whose only
    witnesses are hubs are skipped (the same disclosed-excision
    contract as the LSH bucket guard, and the right one: a
    mega-hub's co-neighbors are weak evidence). Degrees are one
    aggregate; existing edges leave via one anti-join; the head is a
    TakeOrdered. Ties cannot drift: equal rationals compare equal as
    doubles, and (a, b) breaks the rest."""
    sym = _undirected(edges).localCheckpoint()
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    centers = deg.filter(F.col("deg") <= F.lit(int(max_deg))).select(
        F.col("a").alias("n")
    )
    # wedges through non-hub centers: (n, a) x (n, b), a < b
    wa = sym.select(F.col("b").alias("n"), F.col("a").alias("wa"))
    wb = sym.select(F.col("b").alias("n"), F.col("a").alias("wb"))
    pairs = (
        wa.join(centers, "n", "left_semi")
        .join(wb.join(centers, "n", "left_semi"), "n")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy(F.col("wa").alias("u"), F.col("wb").alias("w"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    existing = sym.select(
        F.col("a").alias("u"), F.col("b").alias("w")
    )
    cand = pairs.join(existing, ["u", "w"], "left_anti")
    # degrees over the SAME hub-excised relation the wedges use, so
    # |N'(u)∩N'(w)| and |N'(u)|+|N'(w)| are consistent
    deg_x = (
        sym.join(
            centers.select(F.col("n").alias("b")), "b", "left_semi"
        )
        .groupBy("a")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg_x.select(F.col("a").alias("u"), F.col("deg").alias("du"))
    db = deg_x.select(F.col("a").alias("w"), F.col("deg").alias("dw"))
    scored = cand.join(da, "u").join(db, "w")
    score = F.col("common").cast("double") / (
        F.col("du") + F.col("dw") - F.col("common")
    ).cast("double")
    return (
        scored.select(
            F.col("u").alias("a"),
            F.col("w").alias("b"),
            "common",
            score.alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(int(k))
    )


HITS_SCALE = 10**9  # hub/authority mass in integer 1e-9 units
HITS_ITERATIONS = 8


def hits(
    edges: DataFrame,
    iterations: int = HITS_ITERATIONS,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999, public) over a
    directed edge list (columns `src`, `dst`; duplicates deduped):
    hubs point at good authorities, authorities are pointed at by
    good hubs. Returns (node, hub_fp, auth_fp) — BIGINT multiples of
    1/scale, the pagerank() exactness discipline.

    Contract (shared bit-for-bit with the DuckDB twin):
      h0(v)    = scale div N
      a_raw(v) = Σ_{u→v} h(u);  A = Σ_v a_raw(v)
      a(v)     = a_raw(v) div max(A div scale, 1)     (L1 renorm)
      h_raw(v) = Σ_{v→w} a(w);  H = Σ_v h_raw(v)
      h(v)     = h_raw(v) div max(H div scale, 1)
    for a fixed `iterations` rounds — every step BIGINT, so sums are
    order-independent and the two engines cannot drift. Overflow
    budget: after renorm Σ mass ≈ scale (1e9), so a_raw(v) ≤ ~1e9
    and the global sums A, H ≤ ~scale · max_outdeg ≤ 1e14 for
    million-degree hubs — five orders of magnitude inside int64.

    Scale shape: the deduped edge relation is materialized ONCE and
    re-joined per half-step; each half-step is the canonical two
    exchanges (mass join on one endpoint, aggregate on the other).
    Zero-mass nodes stay IMPLICIT through the loop — a node absent from the mass relation
    contributes nothing to the next push and nothing to the L1 total,
    exactly like an explicit 0 row — so the per-half |V|-row
    nodes⟕raw join (16 joins at 8 iterations) is gone; the full node
    set is re-attached ONCE at the end with COALESCE(·, 0).

    Each half-step checkpoints the RAW (pre-renorm) aggregate and
    collects its 1-row L1 total as a driver-side scalar — control
    plane only, never data-sized — so the renorm is a NARROW
    literal-divisor projection over the checkpoint instead of a
    crossJoin against a broadcast 1-row subtree (measured
    14.1 → 10.6 s at sf0.1 against the broadcast-total shape,
    OPTIMIZATION_r16.md). Nodes with no incoming (or outgoing) edges
    carry authority (hub) 0 — kept in the output, not dropped.

    Executor loss: the returned relation is NOT recomputable from
    lineage. Each half-step's divisor is a driver-computed literal and
    its input is a localCheckpoint block, so a block lost with its
    executor fails the query instead of being recomputed; rerun the
    call (or use a reliable checkpoint directory on a cluster that
    loses executors)."""
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = _node_set(e)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub_fp"),
            F.lit(0).cast("long").alias("auth_fp"),
        )
    # narrow over the nodes checkpoint — needs no materialization of
    # its own before the first half-step consumes it
    h = nodes.select(
        "node", F.lit(int(scale) // n).cast("long").alias("m")
    )

    def _half(mass: DataFrame, out_key: str, in_key: str) -> DataFrame:
        """One half-step: push `mass` along out_key→in_key edges,
        aggregate at the receiving endpoint (checkpointed), then
        L1-renormalize as a narrow projection with the collected
        1-row total as a literal divisor. Zero-mass nodes are
        implicit (absent rows push 0 and sum to 0); the node set
        re-attaches once in the final select."""
        raw = (
            e.join(
                mass.select(F.col("node").alias(out_key), "m"), out_key
            )
            .groupBy(F.col(in_key).alias("node"))
            .agg(F.sum("m").cast("long").alias("raw"))
            .localCheckpoint()
        )
        total = raw.agg(
            F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("t")
        ).collect()[0]["t"]
        d = max(total // int(scale), 1)
        return raw.select(
            "node",
            F.expr(f"raw div CAST({d} AS BIGINT)").cast("long").alias("m"),
        )

    for _ in range(int(iterations)):
        a = _half(h, "src", "dst")
        h = _half(a, "dst", "src")
    return (
        nodes.join(h.select("node", F.col("m").alias("hub_fp")), "node", "left")
        .join(
            a.select("node", F.col("m").alias("auth_fp")), "node", "left"
        )
        .select(
            "node",
            F.coalesce(F.col("hub_fp"), F.lit(0).cast("long")).alias(
                "hub_fp"
            ),
            F.coalesce(F.col("auth_fp"), F.lit(0).cast("long")).alias(
                "auth_fp"
            ),
        )
    )


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round,
    large-star hangs every strictly-larger neighbor of a node onto
    the node's minimum neighbor, small-star does the same for the
    smaller-or-equal side; the edge set converges to per-component
    stars in O(log^2 n) rounds — O(log n) in practice — regardless of
    graph DIAMETER. That is the 100 TB story vs plain min-label
    propagation (dedup.components_over_pairs), which needs
    diameter-many rounds and crawls on chain-shaped components: on a
    50-long chain this converges in ~5 rounds, propagation in 50.

    Rounds are DataFrame-native: symmetrize -> per-node min (one
    hash-agg) -> join the min back onto the adjacency (one shuffle on
    the node key) -> emit re-hung edges. Lineage truncates per round
    (localCheckpoint); convergence = the round's edge set equals the
    previous one, checked with ONE +1/-1 tag-sum aggregate over the
    union of the two (distinct) edge sets — the symmetric difference
    is exactly the keys whose tags don't cancel (star-contracted edge
    sets shrink toward one edge per non-root node, so late rounds get
    cheaper). High-degree skew
    is the algorithm's own medicine: large-star re-hangs a heavy
    node's neighbors onto its min neighbor, splitting the star.

    Returns (node, component_id), component_id = the component's
    minimum node; any orderable node type works. Isolated nodes never
    appear in an edge relation and are (documented) absent.

    Non-convergence is an ERROR (the dedup.components_over_pairs
    policy): if max_iter rounds pass without the edge set reaching a
    fixed point, the component ids would be partial (wrong), so
    RuntimeError is raised instead of returning them. `stats`, when
    given, receives {"rounds": n}.
    """
    e = (
        edges.select(F.col(edges.columns[0]).alias("src"),
                     F.col(edges.columns[1]).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select("dst", "src").toDF("src", "dst"))
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = mins.select(
            "src", F.least("src", "mn").alias("m")
        )
        return (
            sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        o = ed.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins = o.groupBy("src").agg(F.min("dst").alias("m"))
        hang = (
            o.join(mins, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        center = mins.select(F.col("src"), F.col("m").alias("dst"))
        return (
            hang.union(center)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    for rounds in range(1, int(max_iter) + 1):
        stepped = _small_star(_large_star(e)).localCheckpoint()
        # bounded convergence check: both relations are DISTINCT edge
        # sets, so the symmetric difference is exactly the keys whose
        # +1/-1 tags don't cancel — ONE aggregate job (each relation
        # scanned once, one exchange) instead of two exceptAll counts
        changed = (
            stepped.select("src", "dst", F.lit(1).alias("__t"))
            .unionAll(e.select("src", "dst", F.lit(-1).alias("__t")))
            .groupBy("src", "dst")
            .agg(F.sum("__t").alias("__d"))
            .filter(F.col("__d") != 0)
            .count()
        )
        e = stepped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "connected_components_star: edge set did not reach a fixed "
            f"point within max_iter={max_iter} rounds — component ids "
            "would be partially contracted (wrong); raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    sym = e.union(e.select("dst", "src").toDF("src", "dst"))
    return sym.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.col("src")).alias("component_id")
    )
