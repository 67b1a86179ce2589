"""Multimodal plumbing, IVF k-means similarity, semantic dedup, curation pipeline builders + oracle SQL.

Split from registry_extensions.py (round 12) — pure mechanical move;
registration order is unchanged (registry_extensions.py registers).
"""

from __future__ import annotations

from .ext_common import (
    DataFrame,
    F,
    SparkSession,
    _docs,
    _emb,
    binarize_documents,
    decode_documents,
    sample_frames,
    ss,
    tx,
)
from .ext_retrieval import (
    _STOP_LIST,
    _cos_sql,
)

# =========================================================================
# Multimodal plumbing
# =========================================================================

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = binarize_documents(_docs(spark, sf_dir))
    return media.select(
        "doc_id",
        "kind",
        "n_bytes",
        F.md5(F.col("payload")).alias("content_md5"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id,
  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5
FROM documents
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # use_codec=False: payloads are utf-8 text stand-ins and the
    # DuckDB twin mirrors the fake decoder's metadata formulas; the
    # real-codec path is pinned by tests/test_multimodal.py instead.
    return decode_documents(
        binarize_documents(_docs(spark, sf_dir)), use_codec=False
    )


SQL_MULTIMODAL_DECODE = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(16 + (CASE WHEN length(text) = 0 THEN 0 ELSE ascii(substr(text, 1, 1)) END) % 16 AS INTEGER) AS width,
  CAST(16 + octet_length(encode(text)) % 16 AS INTEGER) AS height,
  CAST(1 + doc_id % 8 AS INTEGER) AS n_frames
FROM documents
"""


# --- IVF with a real k-means fit -----------------------------------------
# The oracle replays the SAME seeded Lloyd iterations as
# operators/simsearch.py kmeans_centroids as a generated CTE chain:
# init c0 = embeddings of vec_id < k; per round, argmax-cosine
# assignment then per-cluster means from integer-quantized dimension
# sums (round(x*2^20) as BIGINT — exact and order-independent, so both
# engines compute bit-identical centroid doubles). Empty clusters keep
# the previous centroid (LEFT JOIN + CASE).

def _km_assign_ctes(cents_cte: str, out: str, src: str = "embeddings") -> str:
    """Assignment CTE pair: score every vector of `src` against
    `cents_cte`, keep the argmax (ties to lowest centroid_id) as
    `out`."""
    return (
        f"{out}s AS (SELECT e.vec_id, e.embedding, c.centroid_id, "
        f"{_cos_sql('e.embedding', 'c.c_emb')} AS cos "
        f"FROM {src} e CROSS JOIN {cents_cte} c), "
        f"{out} AS (SELECT vec_id, embedding, centroid_id FROM ("
        f"SELECT vec_id, embedding, centroid_id, row_number() OVER "
        f"(PARTITION BY vec_id ORDER BY cos DESC, centroid_id ASC) AS rn "
        f"FROM {out}s) WHERE rn = 1)"
    )


_KM_SUM_COLS = ", ".join(
    f"sum(CAST(round(CAST(embedding[{d + 1}] AS DOUBLE) * 1048576.0) AS BIGINT)) AS s{d}"
    for d in range(ss.DIM)
)
_KM_MEAN_LIST = (
    "["
    + ", ".join(
        f"CAST(m.s{d} AS DOUBLE) / (1048576.0 * CAST(m.n AS DOUBLE))"
        for d in range(ss.DIM)
    )
    + "]"
)


def _km_cent_ctes() -> str:
    """The Lloyd-fit CTE chain alone: c0 .. c{ITERS} centroid
    relations, no final corpus assignment — for queries that assign a
    DIFFERENT relation (e.g. a clone-augmented corpus) against the
    base-table fit."""
    parts = [
        # seed = the k SMALLEST vec_ids (ORDER BY .. LIMIT), matching
        # kmeans_centroids' TakeOrdered seed on ANY id space — the old
        # `vec_id < k` form was identical only on dense 0-based ids
        # and would silently diverge on a sparse-id fixture
        "c0 AS (SELECT vec_id AS centroid_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb "
        "FROM (SELECT vec_id, embedding FROM embeddings "
        f"ORDER BY vec_id LIMIT {ss.N_CENTROIDS}))"
    ]
    for t in range(ss.KMEANS_ITERS):
        parts.append(_km_assign_ctes(f"c{t}", f"a{t + 1}"))
        parts.append(
            f"m{t + 1} AS (SELECT centroid_id, count(*) AS n, {_KM_SUM_COLS} "
            f"FROM a{t + 1} GROUP BY centroid_id)"
        )
        parts.append(
            f"c{t + 1} AS (SELECT c.centroid_id, "
            f"CASE WHEN m.n IS NULL THEN c.c_emb ELSE {_KM_MEAN_LIST} END AS c_emb "
            f"FROM c{t} c LEFT JOIN m{t + 1} m USING (centroid_id))"
        )
    return ", ".join(parts)


def _km_ctes() -> str:
    return ", ".join(
        [
            _km_cent_ctes(),
            _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "asg"),
        ]
    )


_IVF_ASG_CTES = _km_ctes()


# The Lloyd fit is deterministic per dataset — cache per sf_dir so the
# assign and topk queries (and repeated runs in one session) share one
# fit instead of re-running the iteration jobs.
_KM_CACHE: dict[str, list[list[float]]] = {}


def _km_cents(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    if sf_dir not in _KM_CACHE:
        _KM_CACHE[sf_dir] = ss.kmeans_centroids(_emb(spark, sf_dir))
    return _KM_CACHE[sf_dir]


def simsearch_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.ivf_assign(_emb(spark, sf_dir), cents=_km_cents(spark, sf_dir))


SQL_IVF_ASSIGN = (
    "WITH " + _IVF_ASG_CTES + " SELECT vec_id, centroid_id FROM asg"
)


def simsearch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.ivf_topk(_emb(spark, sf_dir), cents=_km_cents(spark, sf_dir))


SQL_IVF_TOPK = (
    "WITH " + _IVF_ASG_CTES + ", "
    "q AS (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id "
    "FROM asg WHERE vec_id < 8), "
    f"scored AS (SELECT q.query_id, e.vec_id, "
    f"{_cos_sql('q.q_emb', 'e.embedding')} AS cos "
    "FROM asg e JOIN q USING (centroid_id) WHERE e.vec_id <> q.query_id), "
    "r AS (SELECT query_id, vec_id, cos, CAST(row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank "
    "FROM scored) "
    "SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5"
)


def dedup_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdicts (operators/simsearch.py semantic_dedup) over
    a clone-augmented corpus: the synthetic embeddings are near-random
    (max within-cluster cosine ~0.51, far below any semantic-dup
    threshold), so the query unions in a copy of every 20th vector
    with dimension 1 perturbed by +0.001 — the scale-stress clone
    pattern — giving 25 real planted duplicate groups the keep-rule
    must drop (is_kept = false, dup_of = the base vec_id) while every
    base row survives. Centroids come from the shared base-table
    Lloyd fit (_km_cents — the production shape: fit on the corpus,
    assign anything against it), mirrored CTE-for-CTE in the oracle;
    all clone arithmetic is CAST-to-double + one exact double add, so
    both engines see bit-identical vectors."""
    emb = _emb(spark, sf_dir)
    e = F.col("embedding")
    base = emb.select(
        "vec_id",
        F.transform(e, lambda x: x.cast("double")).alias("embedding"),
    )
    clones = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1).cast("double") + F.lit(0.001)),
            F.transform(
                F.slice(e, 2, ss.DIM - 1), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    return ss.semantic_dedup(
        base.unionByName(clones), cents=_km_cents(spark, sf_dir)
    )


SQL_DEDUP_SEMANTIC = (
    "WITH "
    + _km_cent_ctes()
    + ", embx AS ("
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
    "AS embedding FROM embeddings "
    "UNION ALL "
    "SELECT vec_id + 1000000, "
    "[CAST(embedding[1] AS DOUBLE) + 0.001] || "
    "list_transform(embedding[2:], x -> CAST(x AS DOUBLE)) "
    "FROM embeddings WHERE vec_id % 20 = 0), "
    + _km_assign_ctes(f"c{ss.KMEANS_ITERS}", "sda", src="embx")
    # cos projected ONCE per pair: inlining _cos_sql in both the
    # WHERE and the max() would evaluate the 64-term fold twice
    # (DuckDB does not CSE across predicate and aggregate)
    + ", sdp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
    f"{_cos_sql('a.embedding', 'b.embedding')} AS cos "
    "FROM sda a JOIN sda b "
    "ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id), "
    "hits AS (SELECT b_id, min(a_id) AS dup_of, max(cos) AS max_cos "
    "FROM sdp WHERE cos >= 0.92 GROUP BY b_id) "
    "SELECT e.vec_id, e.centroid_id, h.dup_of IS NULL AS is_kept, "
    "h.dup_of, h.max_cos "
    "FROM sda e LEFT JOIN hits h ON e.vec_id = h.b_id"
)


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization surfaced with a scalar output shape: the
    quantized vector is emitted as a comma-joined string so every
    result column is hashable/sortable by any canonicalizer (the
    round-3 driver choked sorting a raw array<int> column). The
    library operator (simsearch.quantize_int8) still returns the
    typed array; only this registry surface flattens."""
    q = ss.quantize_int8(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        F.concat_ws(",", F.col("q_embedding").cast("array<string>")).alias(
            "q_csv"
        ),
    )


SQL_EMBED_QUANTIZE = """
SELECT vec_id,
  array_to_string(list_transform(embedding,
    x -> CAST(greatest(-127, least(127, round(CAST(x AS DOUBLE) * 127))) AS INTEGER)
  ), ',') AS q_csv
FROM embeddings
"""


def simsearch_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k on the pandas_udf (Arrow/numpy)
    scorer, kept as its own registry entry so that path stays
    independently oracle-checked; same oracle as simsearch_topk."""
    return ss.cosine_topk(_emb(spark, sf_dir))


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(binarize_documents(_docs(spark, sf_dir)))


SQL_MULTIMODAL_FRAMES = """
SELECT doc_id, CAST(u.i AS BIGINT) AS frame_idx,
       md5(text || ':' || CAST(u.i AS VARCHAR)) AS frame_md5
FROM documents, UNNEST(range(0, 1 + doc_id % 8)) AS u(i)
"""


def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation, operators composed in ONE
    DataFrame plan: quality gate (token count + stop ratio) → exact
    dedup (keep min doc_id per content hash) → deterministic 50%
    content-hash sample. The shape every 100 TB corpus pass takes:
    map-side metrics feed a filter, one shuffle for the dedup, no
    driver round-trips between stages. The gate is an inline scan
    predicate (tx.quality_gate) — the corpus is read ONCE; the earlier
    join-back against a quality_score relation read it twice."""
    docs = tx.quality_gate(_docs(spark, sf_dir))
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sampled = deduped.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < F.lit("8")
    )
    return sampled.select("doc_id", "lang", F.length("text").alias("n_chars"))


SQL_PIPELINE_CURATION = """
WITH q AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
    CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) > 0
      THEN CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''),
                x -> list_contains({stops}, x))) AS DOUBLE)
         / CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS DOUBLE)
      ELSE 0.0 END AS stop_ratio
  FROM documents),
kept AS (
  SELECT d.* FROM documents d JOIN q USING (doc_id)
  WHERE q.n_tokens >= 5 AND q.stop_ratio <= 0.6),
dedup AS (
  SELECT * FROM (
    SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept d) WHERE rn = 1)
SELECT doc_id, lang, CAST(length(text) AS INTEGER) AS n_chars
FROM dedup
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
"""

SQL_PIPELINE_CURATION = SQL_PIPELINE_CURATION.format(stops=_STOP_LIST)


