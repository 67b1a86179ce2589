"""Round-13 extension entries: Bloom-filter dedup prescreen, the
two-level (high-cardinality) quantile bucketizer, the robots-exclusion
crawl screen, and palette-PNG pixel decode.

Registered by registry_extensions.py after the round-12 batch, so
these sit at the registry tail for the round-14 certification window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import imagehash as ih
from ..operators import multimodal as mm
from ..operators import sketches as sk
from ..sources.readers import literal_relation
from ..streaming.bloom import bloom_screen_stream
from .ext_common import _docs
from .oracle_common import (
    sql_band_cols,
    sql_grid_px_cols,
    sql_md5_hash32,
    sql_phash_hex,
)
from .registry_analytics import SQL_QUANTILE_BUCKETIZE


def dedup_bloom_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership prescreen (operators/sketches.py
    bloom_screen): the stored corpus is the even doc_ids' text; the
    odd doc_ids probe it, with every doc_id % 10 == 1 probe carrying
    a planted TRUE duplicate (the text of doc_id - 1). The oracle
    replays the identical md5 bit math (oracle_common.sql_md5_hash32)
    so the certified decision vector includes any false positives —
    the two engines must agree bit-for-bit on the filter itself."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("text").alias("key")
    ).filter(F.col("key").isNotNull())
    a = d.filter(F.col("doc_id") % 2 == 1).alias("a")
    b = d.select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
    ).alias("b")
    queries = (
        a.join(b, F.col("a.doc_id") - 1 == F.col("b_id"), "left")
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.when(F.col("a.doc_id") % 10 == 1, F.col("b_text"))
            .otherwise(F.col("a.text"))
            .alias("key"),
        )
        .filter(F.col("key").isNotNull())
    )
    return sk.bloom_screen(corpus, queries)


def _sql_bloom_bit(key_expr: str) -> str:
    return (
        sql_md5_hash32(f"{key_expr} || ':' || CAST(j AS VARCHAR)")
        + f" % {sk.BLOOM_M}"
    )


SQL_DEDUP_BLOOM_SCREEN = f"""
WITH corpus AS (
  SELECT text AS key FROM documents
  WHERE doc_id % 2 = 0 AND text IS NOT NULL),
setbits AS (
  SELECT DISTINCT {_sql_bloom_bit("key")} AS bit, 1 AS one
  FROM corpus, UNNEST(range({sk.BLOOM_K})) r(j)),
q AS (
  SELECT a.doc_id,
         CASE WHEN a.doc_id % 10 = 1 THEN b.text ELSE a.text END AS key
  FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
  WHERE a.doc_id % 2 = 1),
qk AS (SELECT doc_id, key FROM q WHERE key IS NOT NULL),
probe AS (
  SELECT doc_id, {_sql_bloom_bit("key")} AS bit
  FROM qk, UNNEST(range({sk.BLOOM_K})) r(j))
SELECT p.doc_id,
       count(s.one) = {sk.BLOOM_K} AS maybe_dup
FROM probe p LEFT JOIN setbits s ON p.bit = s.bit
GROUP BY p.doc_id
"""


def quantile_bucketize_2level_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The high-cardinality operating point of quantile_bucketize
    (operators/warehouse.py quantile_bucketize_scalable): identical
    exact equi-depth contract and identical oracle, but the
    cumulative rank is a two-level cumsum — local window PARTITIONED
    by a coarse value range plus a broadcast per-range offset — so no
    single task ever sorts the whole value domain."""
    from ..operators.warehouse import quantile_bucketize_scalable

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents")
    )
    return quantile_bucketize_scalable(li, "cents")


def robots_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-exclusion admission screen (operators/curation.py
    robots_screen): pages derive host/path from doc_id (7 hosts,
    5 path shapes); the rule table plants the RFC 9309 decision
    cases — a disallow overridden by a LONGER allow
    (/private vs /private/pub), an even-host-only /tmp disallow (odd
    hosts fall through to default-allow), an exact length TIE on
    host h1 (/tmp allow + /tmp disallow — allow must win), and
    pages matching no rule at all."""
    from ..operators.curation import robots_screen

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("/pub/a"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("/private/x"), F.col("doc_id").cast("string")
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("/private/pub/y"), F.col("doc_id").cast("string")
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("/tmp/z"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.lit("/"))
        .alias("path"),
    )
    rules = literal_relation(
        spark, _ROBOTS_RULES, "host string, rule_path string, allow boolean"
    )
    return robots_screen(pages, rules)


_ROBOTS_RULES = [
    *[
        (f"h{k}.example.com", "/private", False) for k in range(7)
    ],
    *[
        (f"h{k}.example.com", "/private/pub", True) for k in range(7)
    ],
    *[
        (f"h{k}.example.com", "/tmp", False)
        for k in range(7)
        if k % 2 == 0
    ],
    # exact-length tie on h1: allow must beat disallow
    ("h1.example.com", "/tmp", False),
    ("h1.example.com", "/tmp", True),
]


def _sql_robots_rules() -> str:
    return ", ".join(
        f"('{h}', '{p}', {str(a).upper()})" for h, p, a in _ROBOTS_RULES
    )


SQL_ROBOTS_SCREEN = f"""
WITH pages AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
         CASE doc_id % 5
           WHEN 0 THEN '/pub/a' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN '/private/pub/y' || CAST(doc_id AS VARCHAR)
           WHEN 3 THEN '/tmp/z' || CAST(doc_id AS VARCHAR)
           ELSE '/' END AS path
  FROM documents),
rules(host, rule_path, allow) AS (VALUES {_sql_robots_rules()}),
j AS (
  SELECT p.doc_id, p.host, p.path, r.rule_path, r.allow
  FROM pages p LEFT JOIN rules r ON p.host = r.host),
w AS (
  SELECT doc_id, host, path,
         max(CASE WHEN starts_with(path, rule_path) THEN
             {{'l': CAST(length(rule_path) AS INT),
               'a': CAST(allow AS INT)}} END) AS ww
  FROM j GROUP BY doc_id, host, path)
SELECT doc_id, host, path,
       coalesce(ww.a = 1, TRUE) AS allowed
FROM w
"""


def image_phash_palette_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash over REAL palette-PNG decoded pixels (round 13 —
    closes the declared color-type-3 gap): per document a real
    PLTE-chunked PNG is synthesized (index grid and the 256-entry
    palette's channels are SQL-stateable affine-mod-256 formulas;
    scanline filters cycle all five types), pixels are recovered
    through the pure-stdlib inflate + unfilter + PLTE-luma
    indirection path, and hashed. The oracle states index and
    palette formulas directly — it never sees the PNG bytes — so
    hash equality certifies the palette decode end to end (a decoder
    that misreads PLTE or skips the indirection cannot agree)."""
    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_png_palette)
    return ih.image_phash_decoded(media)


# Ground-truth gray of the palette fixture: idx = (id*11 + r*5 + c*7)
# % 256, gray = integer BT.601 luma of palette entry idx with channels
# (idx*37 % 256, idx*59 % 256, idx*83 % 256).
_PALETTE_IDX = "(({id}*11 + {pr}*5 + {pc}*7) % 256)"
_SQL_PALETTE_GRAY = (
    f"(299*(({_PALETTE_IDX}*{mm.PLT_R_MUL}) % 256) "
    f"+ 587*(({_PALETTE_IDX}*{mm.PLT_G_MUL}) % 256) "
    f"+ 114*(({_PALETTE_IDX}*{mm.PLT_B_MUL}) % 256)) // 1000"
)


def _sql_image_phash_palette() -> str:
    return f"""
WITH dims AS (SELECT doc_id,
                     {mm.PNG_W_BASE} + doc_id % {mm.PNG_W_MOD} AS w,
                     {mm.PNG_H_BASE} + doc_id % {mm.PNG_H_MOD} AS h
              FROM documents),
px AS (SELECT doc_id, {sql_grid_px_cols(_SQL_PALETTE_GRAY)} FROM dims),
hh AS (SELECT doc_id, {sql_band_cols()} FROM px)
SELECT doc_id, b0, b1, b2, b3,
       {sql_phash_hex()} AS phash
FROM hh
"""


def dedup_bloom_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE Bloom build (operators/sketches.py
    bloom_screen_merged): the same corpus/probe fixture as
    dedup_bloom_screen, but the filter is assembled from 4
    independent per-shard (doc_id % 4) set-bit sketches OR-merged by
    distinct-union. Decisions must be bit-for-bit those of the
    one-shot build — the oracle is literally the same SQL."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(
            (F.col("doc_id") % 4).alias("shard"),
            F.col("text").alias("key"),
        )
        .filter(F.col("key").isNotNull())
    )
    a = d.filter(F.col("doc_id") % 2 == 1).alias("a")
    b = d.select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
    ).alias("b")
    queries = (
        a.join(b, F.col("a.doc_id") - 1 == F.col("b_id"), "left")
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.when(F.col("a.doc_id") % 10 == 1, F.col("b_text"))
            .otherwise(F.col("a.text"))
            .alias("key"),
        )
        .filter(F.col("key").isNotNull())
    )
    return sk.bloom_screen_merged(corpus, queries, "shard")


SQL_STREAM_BLOOM_SCREEN = f"""
WITH corpus AS (
  SELECT text AS key FROM documents
  WHERE doc_id % 2 = 0 AND text IS NOT NULL),
setbits AS (
  SELECT DISTINCT {_sql_bloom_bit("key")} AS bit, 1 AS one
  FROM corpus, UNNEST(range({sk.BLOOM_K})) r(j)),
qk AS (SELECT doc_id, text AS key FROM documents WHERE text IS NOT NULL),
probe AS (
  SELECT doc_id, {_sql_bloom_bit("key")} AS bit
  FROM qk, UNNEST(range({sk.BLOOM_K})) r(j))
SELECT p.doc_id,
       count(s.one) = {sk.BLOOM_K} AS maybe_dup
FROM probe p LEFT JOIN setbits s ON p.bit = s.bit
GROUP BY p.doc_id
"""


def simsearch_hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/simsearch.py mine_hard_negatives): per query vector
    the top-5 most-similar corpus vectors with a DIFFERENT label —
    the broadcast-query brute-force operating point; production swaps
    the scan for the IVF/PQ shortlist unchanged."""
    from ..operators import simsearch as ss

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ss.mine_hard_negatives(emb)


def _sql_hard_negatives() -> str:
    from .ext_retrieval import _cos_sql

    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, {_cos_sql("q.q_emb", "e.embedding")} AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND e.label <> q.q_label),
r AS (SELECT query_id, vec_id, cos,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
"""


def quality_perplexity_buckets_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style per-language head/middle/tail perplexity tiers
    (operators/textstats.py quality_perplexity_buckets): unigram-LM
    scores quantized to exact BIGINT micro-units, per-language P33 /
    P66 thresholds from the deterministic bottom-k rank sketch, and
    a row-local bucket assignment. The oracle replays the LM, the
    quantization, the sketch, and the tier rule."""
    from ..operators.textstats import quality_perplexity_buckets

    return quality_perplexity_buckets(_docs(spark, sf_dir))


def _sql_perplexity_buckets() -> str:
    from ..operators.textstats import PPL_BUCKET_K

    return rf"""
WITH toks AS (
  SELECT doc_id, u.term FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '')) AS u(term)
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, term),
tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
lc AS (SELECT term,
         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS lc
       FROM tc),
tot AS (SELECT CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1e6) AS BIGINT)
          AS lt
        FROM tc),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * lc) AS BIGINT) AS s_fp
       FROM tf JOIN lc USING (term) GROUP BY doc_id),
sc AS (SELECT p.doc_id, d.lang,
         CAST(s_fp // n_tokens - lt AS BIGINT) AS score_fp
       FROM pd p CROSS JOIN tot
       JOIN documents d ON d.doc_id = p.doc_id),
hh AS (SELECT lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h,
         score_fp AS c
       FROM sc WHERE doc_id IS NOT NULL),
kept AS (SELECT lang, h, c FROM (
   SELECT lang, h, c, row_number() OVER (
     PARTITION BY lang ORDER BY h, c) AS rn FROM hh)
   WHERE rn <= {PPL_BUCKET_K}),
r AS (SELECT lang, c,
        CAST(row_number() OVER (
          PARTITION BY lang ORDER BY c, h) AS BIGINT) AS rn,
        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS m
      FROM kept),
thr AS (SELECT lang,
          max(CASE WHEN rn - 1 = ((m - 1) * 33) // 100 THEN c END) AS q33,
          max(CASE WHEN rn - 1 = ((m - 1) * 66) // 100 THEN c END) AS q66
        FROM r GROUP BY lang)
SELECT sc.doc_id, sc.lang, sc.score_fp,
       CASE WHEN sc.score_fp > t.q66 THEN 'head'
            WHEN sc.score_fp > t.q33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc JOIN thr t ON sc.lang = t.lang
"""


def doc_chunk_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping RAG chunking (operators/packing.py
    chunk_documents_overlap): 50-token windows every 25 tokens, so
    adjacent chunks share half their context."""
    from ..operators.packing import chunk_documents_overlap

    return chunk_documents_overlap(_docs(spark, sf_dir))


SQL_DOC_CHUNK_OVERLAP = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS arr
  FROM documents),
c AS (
  SELECT doc_id, arr,
         unnest(range(0, CAST(ceil(len(arr) / 25.0) AS INT))) AS chunk_id
  FROM t WHERE len(arr) > 0)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(len(list_slice(arr, chunk_id * 25 + 1, chunk_id * 25 + 50))
       AS BIGINT) AS n_tokens,
  array_to_string(list_slice(arr, chunk_id * 25 + 1, chunk_id * 25 + 50),
                  ' ') AS chunk_text
FROM c
"""


def scan_warc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC response-archive scan (sources/readers.py
    scan_warc_documents): the documents table round-trips through a
    real CRLF-headed, Content-Length-framed WARC file with
    pathological records injected (bad length, missing length,
    non-response record); the tolerant reader drops exactly those,
    so the oracle is the identity projection of the parquet twin."""
    from ..sources.readers import scan_warc_documents

    return scan_warc_documents(spark, sf_dir)


SQL_SCAN_WARC = (
    "SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL"
)


EXT_ROUND13_QUERIES: dict = {
    "scan_warc": (scan_warc_q, SQL_SCAN_WARC),
    "doc_chunk_overlap": (doc_chunk_overlap_q, SQL_DOC_CHUNK_OVERLAP),
    "quality_perplexity_buckets": (
        quality_perplexity_buckets_q,
        _sql_perplexity_buckets(),
    ),
    "dedup_bloom_screen": (dedup_bloom_screen_q, SQL_DEDUP_BLOOM_SCREEN),
    # merged build shares the one-shot oracle — decisions identical
    "dedup_bloom_merge": (dedup_bloom_merge_q, SQL_DEDUP_BLOOM_SCREEN),
    "stream_bloom_screen": (
        bloom_screen_stream,
        SQL_STREAM_BLOOM_SCREEN,
    ),
    "simsearch_hard_negatives": (
        simsearch_hard_negatives_q,
        _sql_hard_negatives(),
    ),
    # the scalable variant keeps the SAME oracle — output contract
    # identical to quantile_bucketize, only the cumsum plan differs
    "quantile_bucketize_2level": (
        quantile_bucketize_2level_q,
        SQL_QUANTILE_BUCKETIZE,
    ),
    "robots_screen": (robots_screen_q, SQL_ROBOTS_SCREEN),
    "image_phash_palette": (
        image_phash_palette_q,
        _sql_image_phash_palette(),
    ),
}
