"""Similarity search over embedding columns (array<float>).

Every top-k search here is one skeleton, the partition -> prune ->
local top-k -> refine shape of distributed top-k:

    candidates -> score -> shortlist -> rerank

The variants differ only in the candidate generator and the scorer;
the steps are private helpers of this module:

- Query rows (`_queries`): the vec_id < n_queries slice as
  (query_id, q_emb, ...), always attached to the corpus as a
  broadcast, so the corpus is scanned once and never shuffles.
- Candidates + score (`_probe`): a broadcast probe join, self-match
  removal and one score column per (query, vec) pair. The candidate
  set is the whole corpus (cosine_topk, mine_hard_negatives,
  mips_topk, pq_adc_topk, sq_topk), the query's hyperplane bucket
  (lsh_topk) or its `nprobe` nearest IVF cells (`_ivf_probe`:
  ivf_topk, ivfpq_topk). The two-corpus joins pair rows that share a
  cell instead (`_cell_pairs`: similarity_join{,_topk,_reranked},
  semantic_dedup, cosine_neardup_pairs).
- Shortlist (`_shortlist`, topk.topk_per_group): the per-query
  row_number cut, compiled to WindowGroupLimit (partial top-k before
  the exchange).
- Rerank (`_rerank_cos`): exact cosine over the shortlist only, the
  full-precision corpus joined back for shortlisted rows
  (pq_refined_topk, ivfpq_topk, sq_topk). similarity_join_reranked
  reranks its shortlist by a weighted cosine.

Scores: cosine, inner product, weighted cosine, PQ ADC distance or
the int8 dot. Each float scorer has two interchangeable forms,
bit-identical by construction:

- the expression form (`cosine`, `dot`, `weighted_cosine`,
  `int8_dot`): Catalyst expressions summed sequentially left-to-right,
  the oracle-parity reference. F.aggregate/F.zip_with lambdas are
  INTERPRETED (no codegen): ~3 boxed lambda evaluations per row make
  them hypersensitive to CPU contention (observed 70x degradation
  under load) and ~50x the CPU of the vectorized scorer at scale.
  Kept as the reference; not the default.
- `_pair_kernel(kind)`: Arrow-batched numpy that accumulates
  dimension-by-dimension, mirroring the same ((0+x1)+x2)+... order,
  so scores are bit-identical doubles to both the expression form and
  the DuckDB oracle (float32 inputs widen exactly to double). This is
  the DEFAULT scorer.

Hyperplanes are deterministic ±1 vectors derived from md5 at import
time — identical literals are embedded in the oracle SQL.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import literal_relation
from .topk import topk_per_group

DIM = 64
NUM_PLANES = 8


def _plane(p: int, dim: int = DIM) -> list[int]:
    """Deterministic ±1 hyperplane: sign of md5 bit per (plane, dim)."""
    signs = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()
        signs.append(1 if int(h[0], 16) % 2 == 0 else -1)
    return signs


HYPERPLANES = [_plane(p) for p in range(NUM_PLANES)]


def dot(a: Column, b: Column) -> Column:
    """Sequential double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Sequential double cosine; NULL when either norm is zero, as in
    the DuckDB twins and the Arrow scorer (under ANSI a zero
    denominator would otherwise raise DIVIDE_BY_ZERO)."""
    return dot(a, b) / F.nullif(
        F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)), F.lit(0.0)
    )


# kind -> (UDF name, Spark return type) of the Arrow pair kernels
_PAIR_KERNELS = {
    "cos": ("cos_batch", "double"),
    "dot": ("dot_batch", "double"),
    "wcos": ("wcos_batch", "double"),
    "int8_dot": ("dot8", "long"),
}


def _pair_kernel(kind: str, weights: list | None = None):
    """Arrow-batched numpy scorer over two array columns: cosine
    ("cos"), inner product ("dot"), weighted cosine ("wcos", one
    weight per dimension, terms associated as (w*x)*y like
    weighted_cosine) or the exact BIGINT dot of int8 codes
    ("int8_dot"). Accumulates dimension-by-dimension (sequential over
    dims, vectorized over rows), mirroring the engines' left-to-right
    fold — so the doubles are bit-identical to the expression forms
    and the DuckDB oracle by construction rather than by luck (a plain
    .sum(axis=1) would be numpy pairwise summation). A zero-norm
    cosine comes out NaN, which Arrow hands back to Spark as NULL."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    name, rtype = _PAIR_KERNELS[kind]
    dtype = np.int64 if rtype == "long" else np.float64
    ws = [float(w) for w in weights] if kind == "wcos" else None
    norms = kind in ("cos", "wcos")

    def kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:  # np.stack raises on empty Arrow batches
            return pd.Series([], dtype=dtype)
        A = np.stack(a.to_numpy()).astype(dtype)
        B = np.stack(b.to_numpy()).astype(dtype)
        num = np.zeros(A.shape[0], dtype)
        aa = np.zeros(A.shape[0], dtype)
        bb = np.zeros(A.shape[0], dtype)
        for d in range(A.shape[1]):  # sequential over dims = engine order
            x, y = A[:, d], B[:, d]
            wx, wy = (x, y) if ws is None else (ws[d] * x, ws[d] * y)
            num = num + wx * y
            if norms:
                aa = aa + wx * x
                bb = bb + wy * y
        if not norms:
            return pd.Series(num)
        return pd.Series(num / (np.sqrt(aa) * np.sqrt(bb)))

    kernel.__name__ = name  # the UDF name the plans show
    return pandas_udf(kernel, rtype)


def _score_cos(
    use_arrow: bool = True, a: str = "q_emb", b: str = "embedding"
) -> Column:
    return (_pair_kernel("cos") if use_arrow else cosine)(F.col(a), F.col(b))


def _queries(
    emb: DataFrame,
    n_queries: int,
    *extra,
    vec: str = "embedding",
    alias: str = "q_emb",
    prep=None,
) -> DataFrame:
    """The query rows, vec_id < n_queries, as (query_id, <alias>,
    *extra). `prep` runs on the filtered rows before the projection."""
    rows = emb.filter(F.col("vec_id") < n_queries)
    if prep is not None:
        rows = prep(rows)
    return rows.select(
        F.col("vec_id").alias("query_id"), F.col(vec).alias(alias), *extra
    )


def _probe(
    corpus: DataFrame,
    q: DataFrame,
    score: Column,
    name: str = "cos",
    on: str | None = None,
    keep: Column | None = None,
    cross: bool = False,
) -> DataFrame:
    """(query_id, vec_id, <name>): the broadcast query rows joined to
    their candidates (every corpus row, or rows with an equal `on`
    key), the query's own row and rows failing `keep` removed, one
    score per pair."""
    cond = F.col("vec_id") != F.col("query_id")
    if keep is not None:
        cond = cond & keep
    joined = (
        corpus.crossJoin(F.broadcast(q))
        if cross
        else corpus.join(F.broadcast(q), on)
    )
    return joined.filter(cond).select("query_id", "vec_id", score.alias(name))


def _shortlist(
    scored: DataFrame, group: str, order: Column, tie: str, n: int
) -> DataFrame:
    """The first `n` rows per `group` by (order, tie ASC), numbered in
    `__rn`."""
    w = Window.partitionBy(group).orderBy(order, F.asc(tie))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= F.lit(int(n))
    )


def _rerank_cos(
    cand: DataFrame,
    emb: DataFrame,
    n_queries: int,
    k: int,
    use_arrow: bool = True,
) -> DataFrame:
    """Exact-cosine top-k of a (query_id, vec_id) shortlist: the
    full-precision corpus is joined back for the shortlisted rows
    only, so the exact scorer runs on |Q| * shortlist rows whatever
    the corpus size."""
    rescored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(_queries(emb, n_queries)), "query_id")
        .select("query_id", "vec_id", _score_cos(use_arrow).alias("cos"))
    )
    return topk_per_group(rescored, "query_id", "cos", "vec_id", k)


def _cell_pairs(
    a: DataFrame,
    b: DataFrame,
    cents: list[list[float]] | None = None,
    use_arrow: bool = True,
    key: str = "centroid_id",
    ids: tuple[str, str] = ("a_id", "b_id"),
) -> DataFrame:
    """Candidate pairs that share a cell: (key, a_id, emb_a, b_id,
    emb_b) from two (vec_id, embedding, key) relations. With `cents`
    both sides are first assigned to that shared centroid fit."""
    if cents is not None:
        a = with_centroid_assignment(a, cents, use_arrow)
        b = with_centroid_assignment(b, cents, use_arrow)
    left = a.select(
        key, F.col("vec_id").alias(ids[0]), F.col("embedding").alias("emb_a")
    )
    right = b.select(
        key, F.col("vec_id").alias(ids[1]), F.col("embedding").alias("emb_b")
    )
    return left.join(right, key)


def cosine_topk(
    emb: DataFrame, n_queries: int = 8, k: int = 5, use_arrow: bool = True
) -> DataFrame:
    """Exact top-k neighbours for each query vector (vec_id <
    n_queries): (query_id, vec_id, cos, rank). Queries are broadcast;
    the corpus is scanned once — the right shape when Q << N.

    Scorer defaults to the Arrow/numpy batch path (_pair_kernel);
    use_arrow=False selects the interpreted-expression reference form
    — identical bits, ~50x the CPU at scale (module docstring)."""
    scored = _probe(emb, _queries(emb, n_queries), _score_cos(use_arrow))
    return topk_per_group(scored, "query_id", "cos", "vec_id", k)


def mine_hard_negatives(
    emb: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    sentence-embedding methodology, public): for each query vector
    (vec_id < n_queries), the top-k most-similar corpus vectors whose
    LABEL differs from the query's — the near-misses that actually
    move a contrastive loss, where random negatives are trivially
    easy. Returns (query_id, vec_id, cos, rank).

    Scale shape: identical to cosine_topk — the query set broadcasts,
    the corpus is scanned once with the label filter fused into the
    same projection (no extra pass, no join back), and the per-query
    cut is the shared WindowGroupLimit top-k. In production the
    corpus scan is replaced by the IVF/PQ shortlist exactly as in
    simsearch_ivfpq; the mining semantics (different-label filter +
    rank) are unchanged."""
    q = _queries(emb, n_queries, F.col("label").alias("q_label"))
    scored = _probe(
        emb, q, _score_cos(), keep=F.col("label") != F.col("q_label")
    )
    return topk_per_group(scored, "query_id", "cos", "vec_id", k)


NEARDUP_MAX_BUCKET = 1000


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    max_bucket: int = NEARDUP_MAX_BUCKET,
) -> DataFrame:
    """Embedding near-dup candidate pairs blocked on the hyperplane
    LSH bucket: (vec_a, vec_b, cos) with cos >= threshold and both
    vectors in the same (size-guarded) bucket.

    Blocking on the 2^NUM_PLANES-bucket LSH key bounds each block at
    max_bucket rows, where a self-join on the ~10-value `label` column
    would cost Σ n_ℓ² pairs, quadratic per block. Degenerate buckets
    are dropped, the same documented semantic as the MinHash guard
    (dedup.py minhash_candidate_pairs), and near-identical vectors
    agree on all sign bits, so true near-dups stay co-bucketed. The
    guard is a window count over the bucket key — one exchange that
    the self-join reuses (same ReusedExchange pattern as the MinHash
    path)."""
    wb = emb.select(
        "vec_id", "embedding", hyperplane_bucket(F.col("embedding")).alias("bucket")
    )
    w = Window.partitionBy("bucket")
    guarded = (
        wb.withColumn("sz", F.count("*").over(w))
        .filter((F.col("sz") >= 2) & (F.col("sz") <= max_bucket))
        .drop("sz")
    )
    return (
        _cell_pairs(guarded, guarded, key="bucket", ids=("vec_a", "vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _score_cos(a="emb_a", b="emb_b").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


N_CENTROIDS = 4
KMEANS_ITERS = 3
# Centroid means are computed from integer-quantized dimension sums
# (round(x * 2^20) as long): exact, order-independent across partial
# aggregates, and bit-identical in the DuckDB oracle — a float sum
# over rows would depend on addition order in both engines.
KMEANS_SCALE = 1048576.0  # 2^20


def _norm(vals: list[float]) -> float:
    s = 0.0
    for v in vals:  # left-to-right, matching the engines' dot order
        s += v * v
    return math.sqrt(s)


# SemDeDup's production cluster-size knob (Abbas et al. 2023 run
# ~100-doc clusters at web scale): auto-derived C targets this size.
TARGET_CLUSTER_SIZE = 100


def auto_n_centroids(
    n_rows: int, target_cluster_size: int = TARGET_CLUSTER_SIZE
) -> int:
    """The SemDeDup paper's production rule C ∝ N / target_cluster_size:
    pick the centroid count so the EXPECTED cluster size stays a bounded
    constant as the corpus grows, keeping the per-cluster pairwise
    stage's Σ(cluster size)² cost ~ N * target instead of drifting
    toward N² when C lags the corpus. Floored at the library default
    N_CENTROIDS so tiny corpora still get a non-degenerate fit."""
    return max(N_CENTROIDS, math.ceil(max(int(n_rows), 1) / target_cluster_size))


def kmeans_centroids(
    emb: DataFrame,
    k: int = N_CENTROIDS,
    iters: int = KMEANS_ITERS,
    dim: int = DIM,
) -> list[list[float]]:
    """Seeded Lloyd fit, DataFrame-native: init = the embeddings of
    vec_id 0..k-1 (deterministic seed), then `iters` rounds of
    (row-local argmax-cosine assignment against broadcast centroid
    literals) -> (per-cluster integer-quantized dimension means).

    Per round the cluster means are ONE map-side-combined hash
    aggregate (k x (dim+1) longs per partition) and the driver sees
    exactly k rows — no lineage growth, so no checkpointing needed:
    each round's plan starts from literals, not the previous round's
    DAG. An empty cluster keeps its previous centroid.

    Seeds are the k SMALLEST vec_ids (TakeOrdered — k bounded rows to
    the driver), not `vec_id < k`: identical on the dense 0..N-1 ids
    every oracle fixture uses (so the SQL twins' `vec_id < k` seed
    CTEs still mirror exactly), but on a SPARSE id space — a corpus
    filtered by an upstream dedup, ids starting at an offset — the
    filter form would silently find fewer (or zero) seeds than k, collapsing
    the fit and defeating auto_n_centroids' bounded-cluster rule.
    Raises on an empty corpus rather than fitting zero centroids.

    The fit input is spread to the session parallelism floor
    (operators/spread.py — no-op at cluster scale): `iters` full
    Arrow argmax-assignment passes run over it, the one place the
    embeddings table's per-row cost is multiplied enough to beat the
    exchange overhead."""
    from .spread import spread_for_kernel

    emb = spread_for_kernel(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    # TakeOrderedAndProject already returns rows vec_id-ascending
    cents = [[float(x) for x in r.embedding] for r in rows]
    if not cents:
        raise ValueError("kmeans_centroids: empty embedding corpus")
    for _ in range(iters):
        asg = _fit_assignment(emb, cents)
        # Quantized per-dimension sums via posexplode + ONE sum, not 64
        # wide agg expressions: the wide form compiles ~9s of
        # whole-stage codegen per fit, while this shape is tiny and the
        # partial (map-side) aggregate still reduces each partition to
        # k x dim rows before the shuffle.
        sums = (
            asg.select(
                "centroid_id", F.posexplode("embedding").alias("d", "x")
            )
            .groupBy("centroid_id", "d")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(
                        F.col("x").cast("double") * F.lit(KMEANS_SCALE)
                    ).cast("long")
                ).alias("s"),
            )
            .collect()
        )
        by_cd = {(r["centroid_id"], r["d"]): r for r in sums}
        cents = [
            [
                by_cd[(c, d)]["s"] / (KMEANS_SCALE * by_cd[(c, d)]["n"])
                for d in range(dim)
            ]
            if (c, 0) in by_cd
            else cents[c]
            for c in range(len(cents))
        ]
    return cents


def _fit_assignment(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Lloyd-loop assignment — with_centroid_assignment minus vec_id
    (the mean aggregate doesn't need it). Kept separate so the fit's
    per-round plan source is identical every round (centroids live in
    the udf closure, not the plan), letting Spark reuse the compiled
    stage across iterations."""
    return emb.select(
        _argmax_arrow(cents)(F.col("embedding")).alias("centroid_id"),
        "embedding",
    )


def _argmax_arrow(cents: list[list[float]]):
    """Arrow-batched numpy argmax-cosine over a broadcast centroid
    matrix. The numpy loop accumulates dimension-by-dimension,
    mirroring the engines' left-to-right ((0+x1)+x2)+... dot order, so
    cosines (and therefore cluster choices) are bit-identical to the
    expression/DuckDB forms; np.argmax takes the first maximum = ties
    to the lowest centroid id."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(cents, dtype=np.float64)  # k x dim
    cnorm = np.array([_norm(c) for c in cents], dtype=np.float64)

    @pandas_udf("long")
    def argmax_centroid(a: pd.Series) -> pd.Series:
        if len(a) == 0:  # np.stack raises on empty Arrow batches
            return pd.Series([], dtype="int64")
        A = np.stack(a.to_numpy()).astype(np.float64)  # n x dim
        dots = np.zeros((A.shape[0], C.shape[0]))
        self_dot = np.zeros(A.shape[0])
        for d in range(A.shape[1]):  # sequential over dims = engine order
            col = A[:, d]
            dots = dots + col[:, None] * C[None, :, d]
            self_dot = self_dot + col * col
        cos = dots / (np.sqrt(self_dot)[:, None] * cnorm[None, :])
        return pd.Series(cos.argmax(axis=1).astype("int64"))  # first max

    return argmax_centroid


def _top_cells_arrow(cents: list[list[float]], nprobe: int):
    """Arrow-batched top-`nprobe` centroid ids by cosine, best first —
    the multi-probe generalization of _argmax_arrow (identical
    dimension-by-dimension accumulation, so element 0 is bit-identical
    to the argmax assignment; ties break to the lowest centroid id via
    a stable sort on (-cos, id))."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(cents, dtype=np.float64)  # k x dim
    cnorm = np.array([_norm(c) for c in cents], dtype=np.float64)
    p = min(nprobe, len(cents))

    @pandas_udf("array<long>")
    def top_cells(a: pd.Series) -> pd.Series:
        if len(a) == 0:  # np.stack raises on empty Arrow batches
            return pd.Series([], dtype=object)
        A = np.stack(a.to_numpy()).astype(np.float64)  # n x dim
        dots = np.zeros((A.shape[0], C.shape[0]))
        self_dot = np.zeros(A.shape[0])
        for d in range(A.shape[1]):  # sequential over dims = engine order
            col = A[:, d]
            dots = dots + col[:, None] * C[None, :, d]
            self_dot = self_dot + col * col
        cos = dots / (np.sqrt(self_dot)[:, None] * cnorm[None, :])
        # stable sort on -cos: equal cosines keep ascending-id order
        order = np.argsort(-cos, axis=1, kind="stable")[:, :p]
        return pd.Series(list(order.astype("int64")))

    return top_cells


def centroid_assignment_expr(cents: list[list[float]]):
    """Pure-JVM alternative to _argmax_arrow: literal argmax as array
    expressions (expanded element_at chains — zip_with/aggregate
    lambdas are interpreted), identical values and tie rule
    (array_position returns the first maximal slot).

    Measured tradeoff at dim=64, k=4: the ~300-term expression costs
    4-6s of whole-stage-codegen compile per stage that references it —
    negligible against a 100 TB scan, dominant at bench scale. Exposed
    for codegen-only deployments; the Arrow path is the default."""
    e = F.col("embedding")
    dim = len(cents[0])

    def lit_dot(c: list[float]):
        expr = F.lit(0.0)
        for d, v in enumerate(c):
            expr = expr + F.element_at(e, d + 1).cast("double") * F.lit(float(v))
        return expr

    self_dot = F.lit(0.0)
    for d in range(dim):
        x = F.element_at(e, d + 1).cast("double")
        self_dot = self_dot + x * x
    norm = F.sqrt(self_dot)
    scores = F.array(*[lit_dot(c) / (norm * F.lit(_norm(c))) for c in cents])
    return scores


def with_centroid_assignment(
    emb: DataFrame, cents: list[list[float]], use_arrow: bool = True
) -> DataFrame:
    """(vec_id, embedding, centroid_id): row-local argmax-cosine
    assignment against broadcast literal centroids — a pure projection,
    ZERO shuffle (scoring corpus x centroids under a row_number window
    would exchange N*C rows; at real-IVF C in the thousands that
    shuffles 1000x the corpus; asserted shuffle-free in
    tests/test_plans.py).

    Default implementation is the Arrow-batched numpy argmax
    (_argmax_arrow); use_arrow=False selects the pure-JVM array
    expression (centroid_assignment_expr) — both produce bit-identical
    assignments, see the respective docstrings for the tradeoff."""
    if use_arrow:
        return emb.select(
            "vec_id",
            "embedding",
            _argmax_arrow(cents)(F.col("embedding")).alias("centroid_id"),
        )
    scores = centroid_assignment_expr(cents)
    sc = emb.select("vec_id", "embedding", scores.alias("__scores"))
    return sc.select(
        "vec_id",
        "embedding",
        (
            F.array_position(F.col("__scores"), F.array_max(F.col("__scores")))
            - 1
        ).cast("long").alias("centroid_id"),
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = N_CENTROIDS,
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """IVF coarse quantizer: (vec_id, centroid_id) with k-means
    centroids (kmeans_centroids) and shuffle-free row-local assignment
    — the final plan is scan -> three projections, no Exchange
    (asserted in tests/test_plans.py)."""
    if cents is None:
        cents = kmeans_centroids(emb, n_centroids)
    return with_centroid_assignment(emb, cents).select("vec_id", "centroid_id")


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.92,
    n_centroids: int | None = None,
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023 — public arXiv):
    cluster the embedding space with the IVF k-means fit, then within
    each cluster drop every item whose cosine to a LOWER-vec_id
    cluster-mate reaches `threshold` — the keep-one-per-semantic-
    duplicate-group rule that removes paraphrases and re-renderings
    exact/MinHash text dedup cannot see. Per-doc verdict output:
    (vec_id, centroid_id, is_kept, dup_of, max_cos) where dup_of is
    the smallest qualifying lower-id mate and max_cos the strongest
    such similarity (NULL for kept rows). No transitive closure is
    needed: the paper's rule is pairwise-to-smaller-index, so a
    drop decision never depends on another drop decision.

    Scale shape: assignment is the shuffle-free row-local argmax
    (with_centroid_assignment), MATERIALIZED ONCE (localCheckpoint —
    the dedup_components pattern; production writes the assigned
    corpus out) because three plan references read it (both pairwise
    sides + the verdict base) and each DataFrame reference otherwise
    re-plans the whole scan+assign lineage — the unchecked plan paid
    6 corpus scans and 12 Arrow assignment passes. The pairwise stage
    self-joins the materialized relation on centroid_id and costs
    Σ (cluster size)², WHICH IS THE SEMDEDUP DEAL: production fits
    C ∝ N/target_cluster_size (the paper runs ~100-doc clusters at
    web scale) so per-cluster work is a bounded constant² and
    clusters parallelize embarrassingly. That rule is now the
    DEFAULT: with n_centroids=None and no prebuilt `cents`, C is
    auto-derived as auto_n_centroids(emb.count()) — one count()
    action at fit time, vanishing next to the Lloyd rounds — and the
    80k→160k stress test asserts the max cluster stays bounded as C
    doubles with the corpus (tests/test_scale_stress.py). Pass an
    explicit n_centroids (or cents) to pin C, e.g. for an oracle
    twin that must replicate the exact fit. The verdict join back to the
    corpus is by vec_id. Cosines fold dimension-by-dimension in
    engine order (bit-identical cross-engine); the drop aggregate
    (min id, max cos) is order-independent exactly.
    Freeze-at-build semantics (the select_token_budget pattern): the
    assignment materializes when this function runs."""
    from .spread import spread_for_kernel

    if cents is None:  # `or` would silently refit on an explicit []
        if n_centroids is None:
            n_centroids = auto_n_centroids(emb.count())
        cents = kmeans_centroids(emb, n_centroids)
    # spread before the assignment + Σ(cluster)² pairwise stage —
    # the corpus-sized work of this operator (no-op at cluster scale)
    asg = with_centroid_assignment(
        spread_for_kernel(emb.select("vec_id", "embedding"), "vec_id"),
        cents,
    ).localCheckpoint()
    hits = (
        _cell_pairs(asg, asg)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", "a_id", _score_cos(a="emb_a", b="emb_b").alias("cos"))
        .filter(F.col("cos") >= threshold)
        .groupBy("b_id")
        .agg(
            F.min("a_id").alias("dup_of"),
            F.max("cos").alias("max_cos"),
        )
    )
    return (
        asg.select("vec_id", "centroid_id")
        .join(hits, asg["vec_id"] == hits["b_id"], "left")
        .select(
            "vec_id",
            "centroid_id",
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
            "max_cos",
        )
    )


def _ivf_probe(
    emb: DataFrame, n_queries: int, cents: list[list[float]], nprobe: int
) -> DataFrame:
    """The IVF probe side: (query_id, q_emb, centroid_id), one row per
    query and each of its `nprobe` nearest cells."""
    if nprobe <= 1:
        # assign the QUERY rows with the vec_id filter BELOW the
        # kernel: the Arrow assignment UDF is opaque to predicate
        # pushdown, so filtering the assigned corpus would run the
        # whole corpus through the quantizer a second time just to
        # keep n_queries rows. Assignment is row-local, so the rows
        # are bit-identical either way.
        return _queries(
            emb,
            n_queries,
            "centroid_id",
            prep=lambda rows: with_centroid_assignment(rows, cents),
        )
    cells = _top_cells_arrow(cents, nprobe)(F.col("embedding"))
    return _queries(emb, n_queries, F.explode(cells).alias("centroid_id"))


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    cents: list[list[float]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """ANN via IVF: probe the query's `nprobe` nearest clusters
    (default 1 = its own), then exact cosine within them. Complements
    LSH: clusters adapt to data density, buckets don't. The fit runs
    once and both the corpus and query assignments reuse its literal
    centroids (assignment is a projection, so the probe is a broadcast
    equi-join on centroid_id carrying n_queries*nprobe rows). Scored
    on the Arrow path (same tradeoff as cosine_topk)."""
    if cents is None:
        cents = kmeans_centroids(emb, n_centroids)
    scored = _probe(
        with_centroid_assignment(emb, cents),
        _ivf_probe(emb, n_queries, cents, nprobe),
        _score_cos(),
        on="centroid_id",
    )
    return topk_per_group(scored, "query_id", "cos", "vec_id", k)


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Scalar int8 quantization of the embedding column: each float
    maps to round(x·127) clamped to [-127, 127]. 4× smaller vectors
    for the ANN index; dequantize is x/127. Pure array transform —
    map-side only, no shuffle."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") * 127).cast("int")),
        ),
    )
    return emb.select("vec_id", q.alias("q_embedding"))


def hyperplane_bucket(emb_col: Column) -> Column:
    """LSH bucket id: sign bits of NUM_PLANES fixed hyperplane dots."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(HYPERPLANES):
        d = F.aggregate(
            F.zip_with(
                emb_col,
                F.array(*[F.lit(float(s)) for s in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket): the ANN pre-partitioning. At scale, search
    probes only matching (or neighbouring-bit) buckets."""
    return emb.select(
        "vec_id", hyperplane_bucket(F.col("embedding")).alias("bucket")
    )


def lsh_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """ANN variant of cosine_topk: candidates restricted to the query's
    hyperplane bucket, then exact cosine within it. Scored on the
    Arrow path (same tradeoff as cosine_topk)."""
    with_b = emb.withColumn("bucket", hyperplane_bucket(F.col("embedding")))
    q = _queries(with_b, n_queries, "bucket")
    scored = _probe(with_b, q, _score_cos(), on="bucket")
    return topk_per_group(scored, "query_id", "cos", "vec_id", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-scale path of the ANN ladder
# (brute -> LSH buckets -> IVF cells -> PQ codes). Each vector is
# compressed to M_SUB small codes (one per subspace) against per-
# subspace codebooks fitted with the same seeded, integer-quantized
# Lloyd scheme as the IVF coarse quantizer; search scores compressed
# codes against an exact query via asymmetric distance computation
# (ADC). At 100 TB the corpus side of the index is M_SUB bytes per
# vector instead of 4*DIM — the difference between an in-memory index
# and one that doesn't fit.
# ---------------------------------------------------------------------------

M_SUB = 8  # subspaces
SUB_DIM = DIM // M_SUB
K_SUB = 4  # codewords per subspace
PQ_ITERS = 2


def pq_codebooks(
    emb: DataFrame,
    m_sub: int = M_SUB,
    k: int = K_SUB,
    iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """Per-subspace codebooks books[m][code][d], fitted like
    kmeans_centroids (seeds = sub-vectors of vec_id 0..k-1, then
    `iters` Lloyd rounds with squared-L2 argmin and integer-quantized
    dimension means — exact, order-independent, bit-identical in the
    DuckDB oracle). ALL subspaces fit in ONE job per round: the
    sub-vector relation is (vec_id, m, sub) and the mean aggregate
    groups by (m, code, d), so the driver sees m*k*sub_dim rows per
    round regardless of corpus size."""
    sub_dim = DIM // m_sub
    # Seeds = the k SMALLEST vec_ids (TakeOrdered — k bounded rows to
    # the driver), mirroring kmeans_centroids: identical to a
    # `vec_id < k` filter on the dense 0..N-1 ids the oracle fixtures
    # use, but on a SPARSE id space (post-dedup corpus, offset ids)
    # the filter form would find fewer — or zero — seeds than k,
    # collapsing the fit and every PQ/SQ index built on it.
    rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    seeds = [[float(x) for x in r.embedding] for r in rows]
    if not seeds:
        raise ValueError("pq_codebooks: empty embedding corpus")
    if len(seeds) < k:
        # fewer vectors than codewords: repeat the last seed so every
        # codebook slot exists; Lloyd rounds keep unused slots frozen.
        seeds = seeds + [seeds[-1]] * (k - len(seeds))
    books = [
        [seeds[c][m * sub_dim : (m + 1) * sub_dim] for c in range(k)]
        for m in range(m_sub)
    ]
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("embedding", m * sub_dim + 1, sub_dim)
                    for m in range(m_sub)
                ]
            )
        ).alias("m", "sub"),
    )
    for _ in range(iters):
        code = _pq_argmin_arrow(books)
        sums = (
            subs.select(
                "m",
                code(F.col("m"), F.col("sub")).alias("code"),
                F.posexplode("sub").alias("d", "x"),
            )
            .groupBy("m", "code", "d")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(
                        F.col("x").cast("double") * F.lit(KMEANS_SCALE)
                    ).cast("long")
                ).alias("s"),
            )
            .collect()
        )
        by = {(r["m"], r["code"], r["d"]): r for r in sums}
        books = [
            [
                [
                    by[(m, c, d)]["s"] / (KMEANS_SCALE * by[(m, c, d)]["n"])
                    for d in range(sub_dim)
                ]
                if (m, c, 0) in by
                else books[m][c]
                for c in range(k)
            ]
            for m in range(m_sub)
        ]
    return books


def _pq_argmin_arrow(books: list[list[list[float]]]):
    """Arrow-batched squared-L2 argmin of a sub-vector against its
    subspace's codebook. Accumulates dimension-by-dimension (engine
    sum order) so distances — and therefore code choices — are
    bit-identical to the expression/DuckDB forms; np.argmin takes the
    first minimum = ties to the lowest code."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.array(books, dtype=np.float64)  # m x k x sub_dim

    @pandas_udf("int")
    def pq_code(m: pd.Series, sub: pd.Series) -> pd.Series:
        if len(m) == 0:  # np.stack raises on empty Arrow batches
            return pd.Series([], dtype="int32")
        Bm = B[m.to_numpy().astype("int64")]  # n x k x sub_dim
        X = np.stack(sub.to_numpy()).astype(np.float64)  # n x sub_dim
        acc = np.zeros((X.shape[0], B.shape[1]))
        for d in range(X.shape[1]):  # sequential over dims = engine order
            t = X[:, d][:, None] - Bm[:, :, d]
            acc = acc + t * t
        return pd.Series(acc.argmin(axis=1).astype("int32"))

    return pq_code


def _pq_encode_arrow(books: list[list[list[float]]]):
    """Whole-vector PQ encoder: one Arrow pass emitting all M_SUB
    codes per row (array<int>), same arithmetic as _pq_argmin_arrow."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.array(books, dtype=np.float64)  # m x k x sub_dim
    m_sub, k, sub_dim = B.shape

    @pandas_udf("array<int>")
    def enc(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=object)
        A = np.stack(a.to_numpy()).astype(np.float64)  # n x dim
        codes = np.zeros((A.shape[0], m_sub), dtype="int32")
        for m in range(m_sub):
            X = A[:, m * sub_dim : (m + 1) * sub_dim]
            acc = np.zeros((A.shape[0], k))
            for d in range(sub_dim):
                t = X[:, d][:, None] - B[m, :, d][None, :]
                acc = acc + t * t
            codes[:, m] = acc.argmin(axis=1)
        return pd.Series(list(codes))

    return enc


def pq_encode(
    emb: DataFrame, books: list[list[list[float]]] | None = None
) -> DataFrame:
    """(vec_id, codes array<int> of length M_SUB): the compressed
    index. Row-local projection against broadcast codebook literals —
    no shuffle, scan-speed at any corpus size."""
    if books is None:
        books = pq_codebooks(emb)
    return emb.select(
        "vec_id", _pq_encode_arrow(books)(F.col("embedding")).alias("codes")
    )


def _adc_dist_expr(
    books: list[list[list[float]]], codes_col: str = "codes",
    q_col: str = "q_emb",
) -> Column:
    """Asymmetric distance: squared L2 between the exact query vector
    and the corpus vector's RECONSTRUCTION from its codes. Pure JVM
    expression (codegen'd): per subspace, element_at picks the chosen
    codeword out of a literal nested array, and the 64 per-dimension
    terms sum left-to-right — bit-identical to the DuckDB twin."""
    terms = []
    for m, book in enumerate(books):
        sub_dim = len(book[0])
        bm = F.array(
            *[F.array(*[F.lit(float(v)) for v in code]) for code in book]
        )
        cw = F.element_at(bm, F.element_at(F.col(codes_col), m + 1) + 1)
        for d in range(sub_dim):
            t = F.element_at(F.col(q_col), m * sub_dim + d + 1).cast(
                "double"
            ) - F.element_at(cw, d + 1)
            terms.append(t * t)
    e = terms[0]
    for t in terms[1:]:
        e = e + t
    return e


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ANN top-k over the COMPRESSED index: exact queries score
    against PQ codes via ADC; smallest reconstruction distance wins
    (ties by vec_id). The corpus side carries only (vec_id, codes) —
    at scale the scored relation is M_SUB bytes/vector, and the
    queries attach as a broadcast of n_queries rows, so the scan never
    shuffles. Returns (query_id, vec_id, adc_dist, rank)."""
    if books is None:
        books = pq_codebooks(emb)
    scored = _probe(
        pq_encode(emb, books),
        _queries(emb, n_queries),
        _adc_dist_expr(books),
        "adc_dist",
        cross=True,
    )
    # the per-query cut inline rather than _shortlist: the no-op int
    # cast on the public rank column shapes the plan (Window + Project)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def pq_refined_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 50,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The production PQ shape: ADC over compressed codes generates a
    `shortlist`-sized candidate set per query, then the candidates
    alone are re-scored with EXACT cosine and re-ranked — the
    FAISS-style refine step. The full-precision corpus is touched only
    for shortlist*n_queries rows (an equi-join on vec_id), so at scale
    the expensive exact scorer runs on a vanishing fraction of the
    data while the output quality approaches exact search. Returns
    (query_id, vec_id, cos, rank) — directly comparable to
    cosine_topk's exact output."""
    if books is None:
        books = pq_codebooks(emb)
    cand = pq_adc_topk(emb, n_queries, shortlist, books).select(
        "query_id", "vec_id"
    )
    return _rerank_cos(cand, emb, n_queries, k)


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 20,
    cents: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """The full FAISS-style IVFPQ search: the IVF coarse quantizer
    restricts each query to its `nprobe` nearest cells (default 1 =
    its own cell), PQ codes score those cells' members via ADC, and
    the shortlist alone is re-ranked with exact cosine. Returns
    (query_id, vec_id, cos, rank).

    nprobe is THE recall knob of real IVFPQ: a query near a cell
    boundary has true neighbours in the adjacent cell, invisible at
    nprobe=1. Probing P cells multiplies only the candidate relation
    (corpus*P/C rows per query); the probe pairs come from the same
    broadcast-literal centroid distances as the assignment, so the
    plan shape is unchanged — the broadcast carries n_queries*P rows
    instead of n_queries. Each corpus vector lives in exactly one
    cell, so multi-probe never duplicates a (query, vec) candidate.

    This is THE 100 TB ANN shape: candidate generation touches only
    nprobe*corpus/C vectors per query AND reads M bytes per vector
    (codes, not embeddings); the full-precision column is fetched for
    shortlist x queries rows only. All three stages are row-local
    projections or broadcast joins — the corpus never shuffles."""
    if cents is None:
        cents = kmeans_centroids(emb)
    if books is None:
        books = pq_codebooks(emb)
    codes = with_centroid_assignment(emb, cents).select(
        "vec_id",
        "centroid_id",
        _pq_encode_arrow(books)(F.col("embedding")).alias("codes"),
    )
    scored = _probe(
        codes,
        _ivf_probe(emb, n_queries, cents, nprobe),
        _adc_dist_expr(books),
        "adc",
        on="centroid_id",
    )
    cand = _shortlist(
        scored, "query_id", F.asc("adc"), "vec_id", shortlist
    ).select("query_id", "vec_id")
    return _rerank_cos(cand, emb, n_queries, k)


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.92,
) -> DataFrame:
    """Cluster-bucketed embedding similarity JOIN between TWO corpora
    — the ANN-join complement of single-query search, and semantic
    decontamination's workhorse shape: 'which items of corpus B are
    near-duplicates of corpus A' (eval-set vs training-set, new crawl
    vs existing corpus). Both sides are assigned to the SAME shared
    centroid fit (row-local argmax against broadcast literals — zero
    shuffle), candidate pairs form only WITHIN a cell (the SemDeDup
    bucketing deal: with C ∝ N/target the per-cell work is a bounded
    constant², never |A| x |B|), and survivors get the exact
    dimension-ordered cosine. Returns
    (a_id, b_id, centroid_id, cos) for pairs with cos >= threshold.

    The cells-only candidate set is the documented recall trade (a
    cross-cell near-dup pair is missed — same contract as
    semantic_dedup, which this operator generalizes to two relations;
    SemDeDup, Abbas et al. 2023, applies the same within-cluster
    restriction at web scale). At 100 TB: one exchange per side on
    centroid_id, cells parallelize embarrassingly, and the Σ(cell_A x
    cell_B) pair cost stays ~ (|A|+|B|) * target_cluster_size under
    the auto-C rule (executed stress row in SCALE.md).

    Cites reference scope: the reference engine has no vector
    operators at all (SURVEY.md §2) — this is LLM-pipeline extension
    surface."""
    return (
        _cell_pairs(left, right, cents)
        .select(
            "a_id",
            "b_id",
            "centroid_id",
            _score_cos(a="emb_a", b="emb_b").alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )


def similarity_join_topk(
    left: DataFrame,
    right: DataFrame,
    cents: list[list[float]],
    k: int = 3,
) -> DataFrame:
    """Per-RIGHT-item top-k nearest LEFT neighbours within its cell —
    similarity_join's ranking variant: entity resolution / provenance
    attribution ('which training doc is this eval item closest to'),
    where the consumer wants the best matches ranked, not a threshold
    cut. Same cluster-bucketed candidate structure (shared broadcast
    fit, within-cell pairs only — the documented recall trade), then
    WindowGroupLimit per b_id instead of a filter. Returns
    (b_id, a_id, cos, rank)."""
    scored = _cell_pairs(left, right, cents).select(
        "b_id", "a_id", _score_cos(a="emb_a", b="emb_b").alias("cos")
    )
    return topk_per_group(scored, "b_id", "cos", "a_id", k)


# ---------------------------------------------------------------------
# Shortlist-then-rerank: the two-stage retrieval composition
# ---------------------------------------------------------------------

# Deterministic per-dimension rerank weights (1.0/1.5/2.0/2.5 cycling)
# — stands in for a second, more exact scorer (production pipelines
# rerank an ANN shortlist with a cross-encoder; here the second scorer
# is a dimension-weighted cosine so the oracle stays bit-identical).
RERANK_WEIGHTS = [1.0 + (d % 4) * 0.5 for d in range(DIM)]


def weighted_cosine(a: Column, b: Column, weights: list) -> Column:
    """Reference expression form of the weighted cosine: per-dim terms
    (w*x)*y folded LEFT-TO-RIGHT in dimension order — the shared
    association every twin (Arrow scorer, DuckDB oracle) mirrors, so
    the doubles match bit-for-bit. Interpreted-expression cost is fine
    here: this scorer only ever runs on the bounded shortlist."""
    num, aa, bb = F.lit(0.0), F.lit(0.0), F.lit(0.0)
    for i, w in enumerate(weights, start=1):
        x = F.element_at(a, i).cast("double")
        y = F.element_at(b, i).cast("double")
        num = num + F.lit(float(w)) * x * y
        aa = aa + F.lit(float(w)) * x * x
        bb = bb + F.lit(float(w)) * y * y
    return num / (F.sqrt(aa) * F.sqrt(bb))


def similarity_join_reranked(
    left: DataFrame,
    right: DataFrame,
    cents: list,
    k: int = 3,
    shortlist: int = 10,
    weights: list | None = None,
    use_arrow: bool = True,
) -> DataFrame:
    """Two-stage ranked similarity join — the retrieval ladder's last
    rung: the cluster-bucketed candidate structure of
    similarity_join_topk produces a per-right-item SHORTLIST by raw
    cosine (cheap first scorer), then a second, weighted scorer
    re-ranks only those <= `shortlist` survivors and the final top-k
    by the reranked score is returned. This is the
    shortlist-then-rerank composition every production retrieval
    pipeline runs (ANN candidates -> cross-encoder rerank); the
    second scorer here is a deterministic dimension-weighted cosine
    (RERANK_WEIGHTS broadcast as literals) so both stages stay
    bit-identical to the DuckDB oracle. Returns
    (b_id, a_id, cos, wcos, rank) ranked by wcos DESC, a_id ASC.

    Scale shape: identical candidate bounds to similarity_join_topk
    (within-cell pairs only, one exchange per side on centroid_id).
    The shortlist window compiles to WindowGroupLimit, so each
    partition forwards at most `shortlist` rows per b_id BEFORE the
    rank exchange, and the embeddings needed by stage 2 ride that
    bounded relation — the rerank adds ZERO extra exchanges and ZERO
    re-joins (no second pass over either corpus). At 100 TB the
    rerank cost is |B| * shortlist row-local scores, independent of
    |A|."""
    ws = RERANK_WEIGHTS if weights is None else list(weights)
    scored = _cell_pairs(left, right, cents, use_arrow).select(
        "b_id",
        "a_id",
        "emb_a",
        "emb_b",
        _score_cos(use_arrow, "emb_a", "emb_b").alias("cos"),
    )
    short = _shortlist(scored, "b_id", F.desc("cos"), "a_id", shortlist)
    wscore = (
        _pair_kernel("wcos", ws)(F.col("emb_a"), F.col("emb_b"))
        if use_arrow
        else weighted_cosine(F.col("emb_a"), F.col("emb_b"), ws)
    )
    rer = short.select("b_id", "a_id", "cos", wscore.alias("wcos"))
    return topk_per_group(rer, "b_id", "wcos", "a_id", k)


# ---------------------------------------------------------------------
# Scalar-quantized search: int8 ADC shortlist + exact re-rank
# ---------------------------------------------------------------------

def int8_dot(a: Column, b: Column) -> Column:
    """Exact integer dot of two int8-quantized vectors — BIGINT
    accumulation, so order is irrelevant and both engines agree
    bit-for-bit by arithmetic, not by fold-order discipline."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    shortlist: int = 20,
    use_arrow: bool = True,
) -> DataFrame:
    """Scalar-quantization search — the third rung of the compression
    ladder beside PQ and IVFPQ: the index lives as int8 vectors (4x
    smaller; quantize_int8), candidates come from the EXACT-INTEGER
    quantized dot product (symmetric ADC — query quantized with the
    same map, so the shortlist order is integer-deterministic, no
    float tie anywhere), and the top-`shortlist` survivors per query
    are re-ranked by the exact full-precision cosine. Returns
    (query_id, vec_id, cos, rank).

    Scale shape: the scan side carries int8 codes only (the memory
    win that makes a 100-TB index fit); queries broadcast; the
    shortlist cut compiles to WindowGroupLimit (partial top-k before
    the exchange); the re-rank joins full vectors for candidate rows
    ONLY — k·shortlist·|Q| lookups, independent of corpus size."""
    q8all = quantize_int8(emb)
    adc = (_pair_kernel("int8_dot") if use_arrow else int8_dot)(
        F.col("q_embedding"), F.col("q8")
    )
    q8 = _queries(q8all, n_queries, vec="q_embedding", alias="q8")
    scored = _probe(q8all, q8, adc, "adc")
    cand = _shortlist(
        scored, "query_id", F.desc("adc"), "vec_id", shortlist
    ).select("query_id", "vec_id")
    return _rerank_cos(cand, emb, n_queries, k, use_arrow)


PI_QSCALE = 10_000      # embedding quantization (1e-4 resolution)
PI_VSCALE = 1_000_000   # iterate normalization (max |component|)
PI_ITERATIONS = 5


def embed_power_iteration(
    emb: DataFrame,
    iterations: int = PI_ITERATIONS,
    emb_col: str = "embedding",
) -> DataFrame:
    """Top principal direction of the embedding cloud by FIXED-POINT
    INTEGER power iteration — the whitening/drift-axis primitive
    (which way is this corpus's embedding mass pointing?) computed
    the way the integer PageRank is: every step BIGINT, so partial-
    aggregation order cannot perturb the result and both engines are
    bit-identical. Returns (dim, v_fp): the direction as 64 integers
    with max |component| ≈ PI_VSCALE (sign convention: whatever the
    deterministic all-ones seed converges to).

    Per round: dot_i = Σ_j q_ij·v_j rides a zip_with fold INSIDE the
    row (no dim explosion), then ONE map-side-combinable aggregate
    forms u_j = Σ_i q_ij·dot_i via posexplode, and the iterate
    renormalizes by den = max_j|u_j| div VSCALE with truncation
    toward zero spelled sign·(|u| div den) — the one integer-division
    form Spark (div = trunc) and DuckDB (// = floor) agree on for
    signed values. Intermediate iterates are collected to the driver:
    64 ints per round — FIT-SIZED state, the codebook-fit precedent
    (simsearch.py kmeans/pq), never corpus-sized; the FINAL round
    stays fully in-plan (max as a 1-row broadcast) so the returned
    relation is lineage-complete. Overflow audit at test scale:
    |q| <= ~3e3 (unit-ish floats x 1e4), dot <= 64·3e3·1e6 ≈ 2e11,
    u <= N·3e3·2e11 — safe under int64 for N <= ~1e4; larger corpora
    lower QSCALE/VSCALE (documented, not silently wrapped)."""
    q = emb.select(
        F.expr(
            f"transform({emb_col}, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {PI_QSCALE}.0) AS BIGINT))"
        ).alias("q")
    ).localCheckpoint()
    v = [PI_VSCALE] * 64

    def _u_relation(v_now: list[int]) -> DataFrame:
        """One round's u_j = Σ_i q_ij·(q_i·v) as an Arrow kernel +
        64-row final sum: the per-partition
        Qᵀ(Qv) product runs as ONE numpy int64 matmul pair per batch
        — every operation is int64 addition/multiplication, which is
        associative and exact under the SAME overflow budget the
        docstring states, so the result is bit-identical to an
        interpreted zip_with-fold + posexplode form (which would
        evaluate ~dim² interpreted lambda calls per row and explode
        dim× the corpus into the aggregate)."""
        import numpy as np

        from pyspark.sql import types as T

        varr = np.asarray(v_now, dtype=np.int64)
        out_schema = T.StructType(
            [
                T.StructField("dim", T.IntegerType()),
                T.StructField("pu", T.LongType()),
            ]
        )

        def partial_u(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                # fail loud on malformed embeddings (the decoders'
                # convention): np.stack would otherwise raise an
                # opaque shape error on ragged/NULL rows. Cheap
                # checks only — one len() per row, no element scan
                # (a NULL element arrives as a float NaN array and
                # is caught by the int64 cast below).
                bad = [
                    i
                    for i, a in enumerate(pdf["q"])
                    if a is None or len(a) != 64
                ]
                if bad:
                    raise ValueError(
                        "embed_power_iteration: embedding rows must "
                        "be 64-element non-NULL arrays; row index "
                        f"{bad[0]} of this batch is NULL or ragged"
                    )
                try:
                    Q = np.stack(
                        [np.asarray(a, dtype=np.int64) for a in pdf["q"]]
                    )
                except (TypeError, ValueError) as exc:
                    raise ValueError(
                        "embed_power_iteration: embedding rows must "
                        f"be int-valued with no NULL elements: {exc}"
                    ) from None
                dot = Q @ varr  # n-vector, exact int64
                pu = Q.T @ dot  # dim-vector of partial sums
                yield pd.DataFrame(
                    {
                        "dim": np.arange(len(pu), dtype=np.int32),
                        "pu": pu,
                    }
                )

        return (
            q.mapInPandas(partial_u, out_schema)
            .groupBy("dim")
            .agg(F.sum("pu").cast("long").alias("u"))
        )

    for _ in range(int(iterations) - 1):
        rows = _u_relation(v).collect()  # 64 rows — fit-sized
        u = {r["dim"]: r["u"] for r in rows}
        den = max(max(abs(x) for x in u.values()) // PI_VSCALE, 1)
        v = [
            (-((-u[d]) // den) if u[d] < 0 else u[d] // den)
            for d in range(64)
        ]
    final_u = _u_relation(v)
    den_rel = final_u.agg(
        F.greatest(
            F.expr(f"CAST(max(abs(u)) AS BIGINT) div {PI_VSCALE}"),
            F.lit(1).cast("long"),
        ).alias("den")
    )
    signed_div = F.when(
        F.col("u") < 0, -F.expr("(-u) div den")
    ).otherwise(F.expr("u div den"))
    return final_u.crossJoin(F.broadcast(den_rel)).select(
        "dim", signed_div.cast("long").alias("v_fp")
    )


def mips_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Maximum-inner-product search: exact top-k by DOT PRODUCT (not
    cosine) for each query vector — the retrieval objective of
    recommendation / matrix-factorization scorers, where vector NORM
    carries signal (popularity) that cosine normalizes away. Returns
    (query_id, vec_id, ip, rank).

    Scale shape: identical to cosine_topk — queries broadcast, corpus
    scanned once, per-query WindowGroupLimit cut. The documented
    cluster path for sublinear MIPS is the asymmetric transform
    (Shrivastava & Li 2014: append sqrt(M² − ‖x‖²) to data vectors,
    0 to queries) which reduces MIPS to the cosine machinery above —
    the exact scorer here is that ladder's verification tier."""
    score = _pair_kernel("dot")(F.col("q_emb"), F.col("embedding"))
    scored = _probe(emb, _queries(emb, n_queries), score, "ip")
    return topk_per_group(scored, "query_id", "ip", "vec_id", k)


# Johnson-Lindenstrauss sketch: deterministic ±1 projection matrix
# derived from md5 at import time (same discipline as HYPERPLANES) —
# identical literals are embedded in the oracle SQL.
JL_DIM = 8
JL_SCALE = 1_048_576  # 2^20 fixed point for exact integer sums


def _jl_signs(j: int, dim: int = DIM) -> list[int]:
    return [
        1
        if int(hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[0], 16) % 2
        == 0
        else -1
        for d in range(dim)
    ]


JL_PLANES = [_jl_signs(j) for j in range(JL_DIM)]


def jl_project(emb: DataFrame, out_dim: int = JL_DIM) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003 ±1
    database-friendly form): sketch 64-dim embeddings to `out_dim`
    components — the dimensionality-reduction preprocessing that buys
    ANN indexes and pairwise screens an 8x cheaper distance at a
    bounded distortion. Returns (vec_id, out_dim, comp_fp) rows;
    comp_fp = Σ_d s(j,d)·round(x_d·2^20), an EXACT int64 both engines
    derive identically (components quantize before the signed sum, so
    there is no float accumulation to drift).

    Scale shape: pure row-local expressions — quantize once, then
    out_dim signed sums over the array; zero exchanges, scan-speed.
    |comp| <= 64·2^20·max|x| ≈ 2^27 — far inside int64."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(float(JL_SCALE)))
        .cast("long"),
    )
    base = emb.select("vec_id", q.alias("__q"))
    comps = [
        F.struct(
            F.lit(j).alias("out_dim"),
            F.aggregate(
                F.zip_with(
                    F.col("__q"),
                    F.array(*[F.lit(s) for s in JL_PLANES[j]]),
                    lambda x, s: x * s.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("comp_fp"),
        )
        for j in range(out_dim)
    ]
    return base.select(
        "vec_id", F.explode(F.array(*comps)).alias("c")
    ).select("vec_id", "c.out_dim", "c.comp_fp")


VAR_SCALE = 65_536  # 2^16: keeps n·Σq² inside int64 through n ~ 10^8


def dim_variance(emb: DataFrame) -> DataFrame:
    """Per-dimension variance of the embedding corpus — the feature-
    pruning / whitening diagnostic (dead dimensions carry no signal;
    dominant ones distort unnormalized distances). Returns one row
    per dimension: (dim, n_vecs, var_num, variance, vrank), vrank by
    variance DESC (ties to the lower dim index).

    Exactness: components quantize to q = round(x·2^16) and the
    population-variance NUMERATOR n·Σq² − (Σq)² is exact int64 —
    order-independent under partial aggregation, bit-identical
    cross-engine; `variance` is one fixed-order double expression
    over it. Overflow budget (worst case): |x| ≤ 1 ⇒ |q| ≤ 2^16 ⇒
    n·Σq² ≤ n²·2^32, int64-safe only through n ≈ 2^15.5 ≈ 4.6e4
    vectors; for unit-NORM vectors (Σ_j x_j² = 1 across dim=64) the
    per-dimension Σq² averages n·2^32/64, stretching the budget to
    n ≈ 2^18.5 ≈ 3.7e5. Past the bound that holds for YOUR data,
    lower VAR_SCALE or move the two sums to DECIMAL(38,0) (both
    engines widen) — do NOT trust int64 at corpus scale.

    Scale shape: one explode + one map-side-combined hash aggregate
    on the DIMENSION key (64 groups); the rank window runs over the
    64-row result — bounded, never data-sized."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(float(VAR_SCALE)))
        .cast("long"),
    )
    rows = emb.select(
        "vec_id", F.posexplode(q).alias("dim", "__q")
    )
    agg = rows.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("__q").cast("long").alias("__s"),
        F.sum(F.col("__q") * F.col("__q")).cast("long").alias("__ss"),
    )
    var_num = (
        F.col("n_vecs") * F.col("__ss") - F.col("__s") * F.col("__s")
    )
    scored = agg.select(
        "dim", "n_vecs", var_num.cast("long").alias("var_num")
    ).withColumn(
        "variance",
        F.col("var_num").cast("double")
        / (F.col("n_vecs").cast("double") * F.col("n_vecs").cast("double"))
        / F.lit(float(VAR_SCALE) * float(VAR_SCALE)),
    )
    w = Window.orderBy(F.desc("var_num"), F.asc("dim"))
    return scored.withColumn(
        "vrank", F.row_number().over(w).cast("int")
    )


def centroid_drift(emb: DataFrame, side_col: Column | None = None) -> DataFrame:
    """Embedding-distribution drift between two corpus slices — the
    vector counterpart of dq_drift_psi/ks: cosine similarity between
    the per-slice mean vectors (centroids). A healthy re-embed or an
    unchanged pipeline sits at cos ≈ 1; encoder swaps, language-mix
    shifts, or ingestion bugs pull it down. Returns ONE row:
    (n_ref, n_cur, cos_centroid, drift) with drift = 1 − cos.

    Exactness: components quantize to q = round(x·2^16) (the
    dim_variance convention); per-(dimension, side) sums are exact
    int64, and the three quadratic reductions (dot, ‖a‖², ‖b‖²) run
    in DECIMAL(38,0) — sa,sb ≤ n·2^16 ≈ 10 digits, products ≤ 20
    digits, 64-term sums ≤ 22 digits, exact on both engines (the
    oracle widens through HUGEINT). cos is then ONE fixed-order
    double expression; cosine is scale-invariant, so dividing by n
    is never needed and no float division precedes the final one.

    Scale shape: one posexplode + one map-side-combined hash
    aggregate on the DIMENSION key (64 groups, sa/sb per side via
    conditional sums); the quadratic reduction runs over the 64-row
    relation and the slice counts attach as a 1-row broadcast.
    Nothing data-sized after the first aggregate."""
    side = (
        side_col if side_col is not None else (F.col("vec_id") % 2)
    ).cast("long")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(float(VAR_SCALE)))
        .cast("long"),
    )
    rows = emb.select(side.alias("__side"), F.posexplode(q).alias("dim", "__q"))
    per_dim = rows.groupBy("dim").agg(
        F.sum(F.when(F.col("__side") == 0, F.col("__q")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("__side") == 1, F.col("__q")).otherwise(0))
        .cast("long")
        .alias("sb"),
    )
    dec = "decimal(38,0)"
    red = per_dim.agg(
        F.sum(F.col("sa").cast(dec) * F.col("sb").cast(dec))
        .cast(dec)
        .alias("__dot"),
        F.sum(F.col("sa").cast(dec) * F.col("sa").cast(dec))
        .cast(dec)
        .alias("__aa"),
        F.sum(F.col("sb").cast(dec) * F.col("sb").cast(dec))
        .cast(dec)
        .alias("__bb"),
    )
    counts = emb.groupBy().agg(
        F.sum(F.when(side == 0, 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(side == 1, 1).otherwise(0)).cast("long").alias("n_cur"),
    )
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__aa").cast("double"))
        * F.sqrt(F.col("__bb").cast("double"))
    )
    return (
        red.join(F.broadcast(counts))
        .select(
            "n_ref",
            "n_cur",
            cos.alias("cos_centroid"),
            (F.lit(1.0) - cos).alias("drift"),
        )
    )


MMR_LAMBDA = 0.7
MMR_SHORTLIST = 16
# Bound on the pair relation (n_queries * shortlist**2 rows) that
# mmr_topk collects to the driver.
MMR_MAX_PAIRS = 1 << 20


def mmr_topk(
    emb: DataFrame,
    n_queries: int = 4,
    shortlist: int = MMR_SHORTLIST,
    k: int = 5,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily select k results per query
    maximizing λ·sim(d, q) − (1−λ)·max_{s∈S} sim(d, s) — the
    standard redundancy-suppressing reranker for retrieval and RAG
    context packing (plain top-k returns k near-copies when the
    corpus has near-dups; MMR spends the budget on coverage).
    Returns (query_id, vec_id, cos, mmr_score, step), step = 1..k in
    selection order; ties break on vec_id ASC.

    Scale shape: stage 1 is the broadcast-query corpus scan +
    WindowGroupLimit shortlist (cosine_topk — the only data-sized
    work) plus the pairwise-sim self-join of the shortlist (≤ q·m²
    rows); both relations are BOUNDED BY CONSTRUCTION (q and m are
    constructor constants, never data-sized), so the greedy k-step
    selection runs on the driver over the two collected relations —
    at 100 TB the corpus cost is stage 1 and the selection is a
    constant-size in-memory argmax (k−1 relational rounds — 3 joins +
    a window + a localCheckpoint each over ≤64-row state — would be
    pure AQE/job orchestration, ~7 driver actions per call; this form
    runs 3). Scores are bit-identical: the driver applies the SAME
    IEEE-double expression λ·cos − (1−λ)·maxsim to the Spark-computed
    cos/sim values, with (1−λ) evaluated in Python exactly as the SQL
    twin's literal is.

    NULL semantics follow the SQL twin: a zero-norm vector has NULL
    cos/sim; a NULL score sorts after every number (ties by vec_id);
    a candidate whose pair rows all have NULL sim stays a candidate
    with a NULL score (SQL max over NULLs); a candidate with no pair
    row at all is dropped (the twin's inner join). Raises ValueError
    when n_queries * shortlist**2 exceeds MMR_MAX_PAIRS."""
    n_pairs = int(n_queries) * int(shortlist) ** 2
    if n_pairs > MMR_MAX_PAIRS:
        raise ValueError(
            f"mmr_topk: n_queries * shortlist**2 = {n_pairs} pair rows "
            f"exceeds MMR_MAX_PAIRS = {MMR_MAX_PAIRS}; the greedy "
            "selection collects them to the driver"
        )
    sl = cosine_topk(emb, n_queries=n_queries, k=shortlist).select(
        "query_id", "vec_id", "cos"
    ).localCheckpoint()
    vecs = emb.select("vec_id", "embedding")
    sl_emb = sl.join(vecs, "vec_id").select(
        "query_id", "vec_id", "cos", "embedding"
    )
    a = sl_emb.select(
        "query_id",
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
    )
    b = sl_emb.select(
        "query_id",
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("va") != F.col("vb"))
        .select(
            "query_id",
            "va",
            "vb",
            cosine(F.col("ea"), F.col("eb")).alias("sim"),
        )
    )
    lam = float(lam)
    one_minus = 1.0 - lam  # same double as the SQL twin's literal
    sl_rows = sl.collect()
    sim: dict = {}
    for r in pairs.collect():
        sim[(r["query_id"], r["va"], r["vb"])] = r["sim"]
    by_q: dict = {}
    for r in sl_rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["cos"])
        )
    out_rows = []
    for qid in by_q:
        cands = by_q[qid]
        picked: list = []  # vec_ids in selection order
        for step in range(1, int(k) + 1):
            best = None
            for vid, cos in cands:
                if vid in picked:
                    continue
                if step == 1:
                    ms = 0.0
                else:
                    sims = [
                        sim[(qid, vid, p)]
                        for p in picked
                        if (qid, vid, p) in sim
                    ]
                    if not sims:
                        continue  # no pair row: the twin's inner join drops it
                    vals = [x for x in sims if x is not None]
                    ms = max(vals) if vals else None  # SQL max skips NULL
                if cos is None or ms is None:
                    score = None
                elif step == 1:
                    score = lam * cos
                else:
                    score = lam * cos - one_minus * ms
                # argmax with (mmr_score DESC NULLS LAST, vec_id ASC)
                key = (score is None, 0.0 if score is None else -score, vid)
                if best is None or key < best[0]:
                    best = (key, score, vid, cos)
            if best is None:
                break
            _, score, vid, cos = best
            picked.append(vid)
            out_rows.append((qid, vid, cos, score, step))

    from pyspark.sql import types as T

    f = {x.name: x for x in sl.schema.fields}
    out_schema = T.StructType(
        [
            f["query_id"],
            f["vec_id"],
            f["cos"],
            T.StructField("mmr_score", T.DoubleType()),
            T.StructField("step", T.IntegerType()),
        ]
    )
    return literal_relation(emb.sparkSession, out_rows, out_schema)


def standardize_dims(emb: DataFrame) -> DataFrame:
    """Per-dimension z-score standardization (feature whitening) of
    the embedding corpus — the preprocessing step that stops dominant
    dimensions from owning unnormalized distances (dim_variance is
    the diagnostic; this is the fix). Returns the long form
    (vec_id, dim, z); constant dimensions (zero variance) emit 0.

    Exactness: with q = round(x·2^16) (the dim_variance convention),
    z = (n·q − Σq) / sqrt(n·Σq² − (Σq)²) — numerator and the variance
    radicand are exact int64 (same overflow budget as dim_variance,
    n ≈ 4.6e4 worst-case / DECIMAL beyond), and z is ONE fixed-order
    double expression; the 2^16 scale cancels.

    Scale shape: one posexplode + the 64-group hash aggregate, then
    the 64-row stats relation BROADCAST back onto the exploded rows —
    a map-side join, so the only exchange in the whole plan is the
    stats aggregate's."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(float(VAR_SCALE)))
        .cast("long"),
    )
    rows = emb.select("vec_id", F.posexplode(q).alias("dim", "__q"))
    stats = rows.groupBy("dim").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__q").cast("long").alias("__s"),
        F.sum(F.col("__q") * F.col("__q")).cast("long").alias("__ss"),
    )
    rad = (F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")).cast(
        "long"
    )
    z = F.when(
        rad > 0,
        (F.col("__n") * F.col("__q") - F.col("__s")).cast("double")
        / F.sqrt(rad.cast("double")),
    ).otherwise(F.lit(0.0))
    return rows.join(F.broadcast(stats), "dim").select(
        "vec_id", "dim", z.alias("z")
    )


NDCG_K = 5
# Integer nano-gains: W_i = round(1e9 / log2(i + 1)). Python computes
# the literals ONCE; Spark and the oracle consume the identical
# integers, so the DCG sum is an exact, order-independent int64 and
# cross-engine log2() ulp differences cannot exist by construction.
NDCG_W = [round(1e9 / math.log2(i + 1)) for i in range(1, NDCG_K + 1)]
NDCG_CUM = [0]
for _w in NDCG_W:
    NDCG_CUM.append(NDCG_CUM[-1] + _w)


def ndcg_at_k(
    emb: DataFrame, n_queries: int = 8, k: int = NDCG_K
) -> DataFrame:
    """NDCG@k of the exact cosine ranking against label-match
    relevance (corpus label == query label) — the standard graded
    ranking metric, here with binary gains. Returns
    (query_id, n_rel, dcg_fp, ndcg); dcg_fp is the exact integer
    nano-gain sum, ndcg ONE division by the ideal prefix sum
    (NDCG_CUM[n_rel]; 0 when the shortlist holds no relevant item).

    Scale shape: rides cosine_topk (broadcast queries + one corpus
    scan + WindowGroupLimit); the label joins are
    shortlist-sized/broadcast and the metric aggregate runs over
    q·k rows."""
    tk = cosine_topk(emb, n_queries=n_queries, k=k)
    labels = emb.select("vec_id", "label")
    qlab = _queries(emb, n_queries, vec="label", alias="q_label")
    rel = (F.col("label") == F.col("q_label")).cast("long")
    w = F.element_at(
        F.array(*[F.lit(x) for x in NDCG_W]), F.col("rank")
    ).cast("long")
    per = (
        tk.join(labels, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .select("query_id", rel.alias("__rel"), (rel * w).alias("__gain"))
        .groupBy("query_id")
        .agg(
            F.sum("__rel").cast("long").alias("n_rel"),
            F.sum("__gain").cast("long").alias("dcg_fp"),
        )
    )
    idcg = F.element_at(
        F.array(*[F.lit(x) for x in NDCG_CUM]),
        (F.col("n_rel") + 1).cast("int"),
    ).cast("long")
    return per.select(
        "query_id",
        "n_rel",
        "dcg_fp",
        F.when(
            F.col("n_rel") > 0,
            F.col("dcg_fp").cast("double") / idcg.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


def recall_at_k(
    emb: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN shortlist against the exact
    cosine ground truth — THE acceptance metric for every
    approximate tier in the ANN ladder (a fast index that recalls
    0.4 is not an index). Returns (query_id, n_hit, recall) with
    recall = |ANN@k ∩ exact@k| / k; queries whose hyperplane bucket
    is a singleton recall 0 (disclosed — that IS the quality signal
    at this bucket granularity).

    Scale shape: two shortlist plans (each broadcast-query corpus
    scans with WindowGroupLimit cuts) + a q·k-row join — the metric
    costs two index probes, nothing more."""
    exact = cosine_topk(emb, n_queries=n_queries, k=k).select(
        "query_id", "vec_id"
    )
    ann = lsh_topk(emb, n_queries=n_queries, k=k).select(
        "query_id", "vec_id"
    )
    # Both sides are q·k rows; pinning the build side keeps the
    # AQE-final join independent of what the session ran before.
    hits = (
        ann.join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.lit(float(k))
            ).alias("recall"),
        )
    )
