"""Curation passes: decontamination, repetition, PII, per-source quotas, CSV builders + oracle SQL.

Split from registry_extensions.py (round 12) — pure mechanical move;
registration order is unchanged (registry_extensions.py registers).
"""

from __future__ import annotations

from .ext_common import (
    DataFrame,
    F,
    SparkSession,
    _docs,
    cu,
)
from .ext_retrieval import (
    _sh_ctes_n,
)

# =========================================================================
# Curation: decontamination, repetition, PII, per-source quotas, CSV
# =========================================================================

def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.decontaminate(_docs(spark, sf_dir))


SQL_DECONTAMINATE = (
    "WITH " + _sh_ctes_n(cu.DECONTAM_SHINGLE_N) + ", "
    "ev AS (SELECT DISTINCT s.shingle FROM sh s "
    "JOIN documents d USING (doc_id) WHERE d.source = 'src0'), "
    "tr AS (SELECT s.doc_id, s.shingle FROM sh s "
    "JOIN documents d USING (doc_id) WHERE d.source <> 'src0') "
    "SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_overlap "
    "FROM tr JOIN ev USING (shingle) "
    f"GROUP BY tr.doc_id HAVING count(*) >= {cu.MIN_OVERLAP}"
)


def repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.repetition_metrics(_docs(spark, sf_dir))


SQL_REPETITION = """
WITH b AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
  FROM documents),
g AS (
  SELECT doc_id, arr,
    CASE WHEN len(arr) >= 3
      THEN list_transform(range(1, len(arr) - 1),
             i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
      ELSE [] END AS g3
  FROM b),
s AS (
  SELECT doc_id,
    CAST(len(arr) AS INTEGER) AS n_tokens,
    CAST(len(list_distinct(arr)) AS INTEGER) AS nd,
    CAST(len(g3) AS INTEGER) AS ng,
    CAST(len(list_distinct(g3)) AS INTEGER) AS ndg,
    u.w AS w
  FROM g, UNNEST(arr) AS u(w)),
c AS (
  SELECT doc_id, n_tokens, nd, ng, ndg, w, count(*) AS cnt
  FROM s GROUP BY doc_id, n_tokens, nd, ng, ndg, w),
m AS (
  SELECT doc_id, n_tokens, nd, ng, ndg, max(cnt) AS top
  FROM c GROUP BY doc_id, n_tokens, nd, ng, ndg)
SELECT doc_id, n_tokens,
  1.0 - CAST(nd AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_token_ratio,
  CASE WHEN ng > 0 THEN 1.0 - CAST(ndg AS DOUBLE) / CAST(ng AS DOUBLE)
       ELSE 0.0 END AS dup_3gram_ratio,
  CAST(top AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_share
FROM m
"""


def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver corpus carries no natural PII, so inject a
    deterministic email + 10-digit id per document (mirrored in the
    oracle) and redact — the redaction expressions are the operator
    under test; the injection is visible test harness on both sides."""
    docs = _docs(spark, sf_dir)
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ref "),
        (F.col("doc_id") + F.lit(1234567890)).cast("string"),
    )
    return cu.redact_pii(docs.select("doc_id", pii.alias("text")))


SQL_PII_REDACT = """
WITH p AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail.example.com ref ' || CAST(doc_id + 1234567890 AS VARCHAR)
      AS pii
  FROM documents),
e AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(pii, '{email}')) AS INTEGER) AS n_emails,
    regexp_replace(pii, '{email}', '<EMAIL>', 'g') AS after_email
  FROM p)
SELECT doc_id,
  regexp_replace(after_email, '{digits}', '<NUM>', 'g') AS clean_text,
  n_emails,
  CAST(len(regexp_extract_all(after_email, '{digits}')) AS INTEGER) AS n_numbers
FROM e
""".format(email=cu.EMAIL_REGEX, digits=cu.LONG_DIGITS_REGEX)


def sample_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.sample_per_source(_docs(spark, sf_dir))


SQL_SAMPLE_PER_SOURCE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= 5
"""


def winsorize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length clipping to the [p05, p95] exact
    interpolated percentiles — the outlier-clipping pass before
    training. Stats aggregate + broadcast join + map-side clip; the
    corpus is never shuffled."""
    return cu.winsorize(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        "n_chars",
        "lang",
    )


SQL_WINSORIZE = """
WITH s AS (
  SELECT lang,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang, d.n_chars,
       greatest(s.lo, least(s.hi, CAST(d.n_chars AS DOUBLE))) AS n_chars_wins,
       (CAST(d.n_chars AS DOUBLE) < s.lo OR CAST(d.n_chars AS DOUBLE) > s.hi)
         AS was_clipped
FROM documents d JOIN s USING (lang)
"""


def scan_csv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV twin of scan_json: schema-pinned PERMISSIVE scan of real
    CSV bytes with malformed rows injected; the null filter drops
    exactly the injected rows, so parity against the parquet source
    proves the tolerant parse."""
    from ..sources.readers import scan_csv_documents

    df = scan_csv_documents(spark, sf_dir)
    return df.filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.col("text") != "")
        & F.col("lang").isNotNull()
        & (F.col("lang") != "")
    )


SQL_SCAN_CSV = (
    "SELECT doc_id, text, lang FROM documents "
    "WHERE doc_id IS NOT NULL AND text IS NOT NULL AND text <> '' "
    "AND lang IS NOT NULL AND lang <> ''"
)


SQL_STREAM_INTERVAL_JOIN = """
SELECT c.event_id AS click_id, v.event_id AS view_id,
       c.user_id AS user_id,
       (epoch_us(c.ts) - epoch_us(v.ts)) AS lag_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(v.ts)
 AND epoch_us(c.ts) < epoch_us(v.ts) + 600000000
"""


