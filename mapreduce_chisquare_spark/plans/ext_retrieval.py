"""Dedup, similarity-search, and text-analysis query builders + oracle SQL.

Split from registry_extensions.py (round 12) — pure mechanical move;
registration order is unchanged (registry_extensions.py registers).
"""

from __future__ import annotations

from .ext_common import (
    DataFrame,
    F,
    MAX_TOKEN_LEN,
    MIN_TOKEN_LEN,
    SQL_DELIM,
    SQL_STOPWORDS,
    STOPWORDS,
    SparkSession,
    _docs,
    _emb,
    _events,
    _toks,
    dd,
    ss,
    tx,
    with_text_ctes,
)

# =========================================================================
# Deduplication
# =========================================================================

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (byte-identical) dedup. The synthetic corpus is
    duplicate-free, so the query unions in an UNMODIFIED copy of
    every 20th document under a fresh doc_id — the gate exercises
    real duplicate groups (n_dupes = 2, keep_doc_id = the original)
    instead of certifying empty == empty."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        "text",
    )
    return dd.exact_duplicates(d.unionByName(copies))


SQL_DEDUP_EXACT = """
WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000000, text
           FROM documents WHERE doc_id % 20 = 0)
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_dupes,
       min(doc_id) AS keep_doc_id
FROM u WHERE text IS NOT NULL
GROUP BY md5(text) HAVING count(*) >= 2
"""

# Shared shingle CTE chain (mirrors operators/dedup.py shingles for
# any n: start positions 1..len(arr)-n+1, 1-based).
def _sh_ctes_n(n: int) -> str:
    gram = " || ' ' || ".join(f"arr[i+{j}]" if j else "arr[i]" for j in range(n))
    return (
        "docsr AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
        f"'{SQL_DELIM}'), x -> x <> '') AS arr FROM documents), "
        f"sh AS (SELECT DISTINCT doc_id, {gram} AS shingle "
        f"FROM docsr, UNNEST(range(1, len(arr) - {n - 2})) AS r(i))"
    )


_SH_CTES = _sh_ctes_n(3)

# Mirror of operators/dedup.py minhash_signatures: base32 = digit-sum
# of the first 8 md5 hex chars (same construction as the SimHash
# oracle below), then the (A*base+B) mod 2^31 universal-hash family
# with the SAME constants.
_BASE32_SQL = " + ".join(
    "(strpos('0123456789abcdef', substr(md5(shingle), {i}, 1)) - 1)".format(
        i=i + 1
    )
    + f" * {16 ** (8 - i - 1)}"
    for i in range(8)
)

def _minhash_band_ctes(k: int = dd.NUM_HASHES, bands: int = dd.NUM_BANDS) -> str:
    """CTE chain documents -> shingles -> signatures -> `bands`
    (doc_id, band, key) at a chosen (k, bands) operating point,
    generated from the same hash_params(k) family as the Spark plan.
    String band keys group documents identically to the Spark side's
    packed-long array keys (injectivity argued at lsh_band_keys)."""
    sig_cols = ", ".join(
        f"min(({a} * b32 + {b}) % {dd._MOD}) AS h{s}"
        for s, (a, b) in enumerate(dd.hash_params(k))
    )
    rows = k // bands
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return (
        _SH_CTES + ", "
        f"shb AS (SELECT doc_id, ({_BASE32_SQL}) AS b32 FROM sh), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM shb GROUP BY doc_id), "
        f"bands AS ({band_selects})"
    )


def _minhash_pair_ctes(k: int = dd.NUM_HASHES, bands: int = dd.NUM_BANDS) -> str:
    """CTE chain for MinHash+LSH candidate pairs at a chosen (k, bands)
    operating point — generated from the same hash_params(k) family as
    the Spark plan, so any point the engine exposes has an exact
    oracle."""
    return (
        _minhash_band_ctes(k, bands) + ", "
        "buckets AS (SELECT band, key FROM bands GROUP BY band, key "
        f"HAVING count(*) >= 2 AND count(*) <= {dd.MAX_BUCKET}), "
        "g AS (SELECT b.doc_id, b.band, b.key FROM bands b JOIN buckets USING (band, key)), "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(DISTINCT a.band) AS BIGINT) AS n_bands "
        "FROM g a JOIN g b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id)"
    )


_PAIR_CTES = _minhash_pair_ctes()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_candidate_pairs(_docs(spark, sf_dir))


SQL_DEDUP_MINHASH = (
    "WITH " + _PAIR_CTES + " SELECT doc_a, doc_b, n_bands FROM pairs"
)


def dedup_minhash_lsh_k128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharp operating point (k=128, 16 bands of 8 rows): capture
    probability 1-(1-s^8)^16, a soft threshold near Jaccard 0.7 —
    a near-dup DETECTOR, vs the default (16, 8) high-recall SCREEN."""
    return dd.minhash_candidate_pairs(_docs(spark, sf_dir), k=128, bands=16)


SQL_DEDUP_MINHASH_K128 = (
    "WITH " + _minhash_pair_ctes(128, 16) + " SELECT doc_a, doc_b, n_bands FROM pairs"
)


def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two deterministic snapshot views of documents:
    old = ids not divisible by 7; new = ids not divisible by 5 with
    the text of every 11th id uppercased (a planted 'changed' set)
    (operators/warehouse.py snapshot_diff)."""
    from ..operators.warehouse import snapshot_diff

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.upper(F.col("text"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", ["text", "lang", "source"])


_SD_HASH = (
    "md5(concat("
    "coalesce(md5(CAST({t} AS VARCHAR)), 'N'), "
    "coalesce(md5(CAST(lang AS VARCHAR)), 'N'), "
    "coalesce(md5(CAST(source AS VARCHAR)), 'N')))"
)

SQL_SNAPSHOT_DIFF = f"""
WITH o AS (SELECT doc_id AS key, {_SD_HASH.format(t='text')} AS old_hash
           FROM documents WHERE doc_id % 7 <> 0),
n AS (SELECT doc_id AS key,
        {_SD_HASH.format(t="CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END")}
          AS new_hash
      FROM documents WHERE doc_id % 5 <> 0),
j AS (SELECT coalesce(o.key, n.key) AS row_key,
        CASE WHEN o.old_hash IS NULL THEN 'added'
             WHEN n.new_hash IS NULL THEN 'removed'
             WHEN o.old_hash <> n.new_hash THEN 'changed' END AS change
      FROM o FULL OUTER JOIN n ON o.key = n.key)
SELECT row_key, change FROM j WHERE change IS NOT NULL
"""


def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest screen: the 20% batch (doc_id % 5 == 0) probed against
    the 80% existing corpus's band index plus itself
    (operators/dedup.py incremental_dup_flags)."""
    d = _docs(spark, sf_dir)
    return dd.incremental_dup_flags(
        d.filter(F.col("doc_id") % 5 != 0), d.filter(F.col("doc_id") % 5 == 0)
    )


SQL_DEDUP_INCREMENTAL = (
    "WITH " + _SH_CTES + ", "
    f"shb AS (SELECT doc_id, ({_BASE32_SQL}) AS b32 FROM sh), "
    "sig AS (SELECT doc_id, "
    + ", ".join(
        f"min(({a} * b32 + {b}) % {dd._MOD}) AS h{s}"
        for s, (a, b) in enumerate(dd.hash_params(dd.NUM_HASHES))
    )
    + " FROM shb GROUP BY doc_id), "
    "bands AS ("
    + " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(h{b * (dd.NUM_HASHES // dd.NUM_BANDS) + r} AS VARCHAR)"
                for r in range(dd.NUM_HASHES // dd.NUM_BANDS)
            ),
        )
        for b in range(dd.NUM_BANDS)
    )
    + "), "
    "ob AS (SELECT * FROM bands WHERE doc_id % 5 <> 0), "
    "nb AS (SELECT * FROM bands WHERE doc_id % 5 = 0), "
    "obg AS (SELECT b.* FROM ob b JOIN (SELECT band, key FROM ob "
    f"GROUP BY band, key HAVING count(*) <= {dd.MAX_BUCKET}) "
    "USING (band, key)), "
    "nbg AS (SELECT b.* FROM nb b JOIN (SELECT band, key FROM nb "
    f"GROUP BY band, key HAVING count(*) <= {dd.MAX_BUCKET}) "
    "USING (band, key)), "
    "vs AS (SELECT n.doc_id, o.doc_id AS partner FROM nbg n "
    "JOIN obg o USING (band, key) "
    "UNION ALL SELECT a.doc_id, b.doc_id FROM nbg a JOIN nbg b "
    "ON a.band = b.band AND a.key = b.key AND b.doc_id < a.doc_id) "
    "SELECT doc_id, min(partner) AS dup_of, "
    "CAST(count(DISTINCT partner) AS BIGINT) AS n_partners "
    "FROM vs GROUP BY doc_id"
)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected components over the near-dup pair graph;
    oracle = transitive closure via recursive CTE."""
    return dd.neardup_components(_docs(spark, sf_dir))


SQL_DEDUP_COMPONENTS = (
    "WITH RECURSIVE " + _PAIR_CTES + ", "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) "
    "SELECT src AS doc_id, least(src, min(dst)) AS component_id "
    "FROM reach GROUP BY src"
)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dd.ngram_jaccard(docs, dd.minhash_candidate_pairs(docs))


SQL_DEDUP_JACCARD = (
    "WITH " + _PAIR_CTES + ", "
    "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), "
    "inter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
    "FROM pairs p JOIN sh a ON a.doc_id = p.doc_a "
    "JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b) "
    "SELECT p.doc_a, p.doc_b, "
    "CAST(coalesce(i.n_inter, 0) AS DOUBLE) / "
    "CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard "
    "FROM pairs p "
    "LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b "
    "JOIN sz sa ON sa.doc_id = p.doc_a "
    "JOIN sz sb ON sb.doc_id = p.doc_b"
)

# SimHash: 32-bit hash from md5 hex via digit arithmetic (works in
# both engines; Spark uses conv(), the oracle expands the digit sum).
_SIMHASH_BITS = 32
_HEXVAL = "(strpos('0123456789abcdef', substr(md5(term), {i}, 1)) - 1)"
_HEX_SUM = " + ".join(
    _HEXVAL.format(i=i + 1) + f" * {16 ** (8 - i - 1)}" for i in range(8)
)
_BIT_SUMS = ", ".join(
    f"sum(2 * ((h // {2 ** j}) % 2) - 1) AS s{j}" for j in range(_SIMHASH_BITS)
)
_BIT_RECOMBINE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)"
    for j in range(_SIMHASH_BITS)
)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(_toks(spark, sf_dir).select("doc_id", "term"))


SQL_DEDUP_SIMHASH = with_text_ctes(
    f"hh AS (SELECT doc_id, ({_HEX_SUM}) AS h FROM toks), "
    f"s AS (SELECT doc_id, {_BIT_SUMS} FROM hh GROUP BY doc_id)"
) + f" SELECT doc_id, CAST({_BIT_RECOMBINE} AS BIGINT) AS simhash FROM s"


# =========================================================================
# Similarity search
# =========================================================================

def _dot_sql(a: str, b: str, dim: int = ss.DIM) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)}) / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.cosine_topk(_emb(spark, sf_dir))


SQL_SIMSEARCH_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, {_cos_sql('q.q_emb', 'e.embedding')} AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
"""


def embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.cosine_neardup_pairs(_emb(spark, sf_dir))


_BUCKET_SQL = " + ".join(
    "(CASE WHEN ({dot}) > 0 THEN {pw} ELSE 0 END)".format(
        dot=" + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * {float(s)}"
            for d, s in enumerate(plane)
        ),
        pw=2**p,
    )
    for p, plane in enumerate(ss.HYPERPLANES)
)


# Near-dup pairs blocked on the size-guarded LSH bucket (mirrors
# operators/simsearch.py cosine_neardup_pairs).
SQL_EMBED_NEARDUP = f"""
WITH wb AS (SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM embeddings),
g AS (SELECT wb.* FROM wb WHERE bucket IN (
  SELECT bucket FROM wb GROUP BY bucket
  HAVING count(*) >= 2 AND count(*) <= {ss.NEARDUP_MAX_BUCKET}))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_cos_sql('a.embedding', 'b.embedding')} AS cos
FROM g a JOIN g b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.3
"""


def simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.lsh_buckets(_emb(spark, sf_dir))


SQL_SIMSEARCH_LSH = (
    f"SELECT vec_id, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM embeddings"
)


def simsearch_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ss.lsh_topk(_emb(spark, sf_dir))


SQL_SIMSEARCH_LSH_TOPK = f"""
WITH wb AS (SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM wb WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, {_cos_sql('q.q_emb', 'e.embedding')} AS cos
  FROM wb e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
"""


# =========================================================================
# Text analysis
# =========================================================================

def array_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over the embedding column: size, element
    access, explicit element arithmetic (kept engine-portable: no
    engine-specific list aggregates)."""
    e = F.col("embedding")
    el = lambda i: F.element_at(e, i).cast("double")  # noqa: E731
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.size(e).alias("dim"),
        el(1).alias("e1"),
        (el(1) + el(2) + el(3) + el(4)).alias("sum4"),
        F.sqrt(
            el(1) * el(1) + el(2) * el(2) + el(3) * el(3) + el(4) * el(4)
        ).alias("norm4"),
    )


SQL_ARRAY_SCALARS = """
SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
  CAST(embedding[1] AS DOUBLE) AS e1,
  CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
    + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE) AS sum4,
  sqrt(CAST(embedding[1] AS DOUBLE) * CAST(embedding[1] AS DOUBLE)
    + CAST(embedding[2] AS DOUBLE) * CAST(embedding[2] AS DOUBLE)
    + CAST(embedding[3] AS DOUBLE) * CAST(embedding[3] AS DOUBLE)
    + CAST(embedding[4] AS DOUBLE) * CAST(embedding[4] AS DOUBLE)) AS norm4
FROM embeddings
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: per event_type, sum of the last 600
    seconds of value-cents at each event (RANGE, not ROWS — frame
    bounds are value-based, deterministic under any row order)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("sec")
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id", "event_type", F.sum("cents").over(w).alias("sum_600s")
    )


SQL_WINDOW_RANGE = """
SELECT event_id, event_type,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
    PARTITION BY event_type ORDER BY CAST(epoch_us(ts) // 1000000 AS BIGINT)
    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_600s
FROM events
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id(_docs(spark, sf_dir))


_PROFILE_VALUES = ", ".join(
    f"('{lang}', '{w}')"
    for lang, ws in sorted(tx.LANG_PROFILES.items())
    for w in ws
)

SQL_LANG_ID = f"""
WITH words AS (
  SELECT doc_id, u.w FROM (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
    FROM documents) t, UNNEST(arr) AS u(w)),
profiles AS (SELECT * FROM (VALUES {_PROFILE_VALUES}) AS t(lang, w)),
hits AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS score
         FROM words JOIN profiles USING (w) GROUP BY doc_id, lang),
best AS (SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
         FROM hits)
SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang,
       CAST(coalesce(b.score, 0) AS BIGINT) AS score
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(_docs(spark, sf_dir))


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

SQL_QUALITY = f"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
  FROM documents),
m AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        CAST(len(arr) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(arr, x -> list_contains({_STOP_LIST}, x))) AS BIGINT) AS n_stop,
        CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct
      FROM t)
SELECT doc_id, n_chars, n_tokens, n_distinct,
  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio,
  CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS ttr,
  (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END)
  + (CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) AS score
FROM m
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_count(_docs(spark, sf_dir))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws,
  CAST(len(regexp_extract_all(lower(text), '{tx.BPE_REGEX}')) AS BIGINT) AS n_bpe
FROM documents
"""


def tfidf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over the canonical term stream (with multiplicity) —
    generalizes the χ² feature-selection skeleton (same two shuffles:
    (doc,term) agg + per-term window). n_docs rides along as a 1-row
    broadcast aggregate (ONE job, no extra corpus scan)."""
    from ..functions.text import nonempty_documents, terms_with_multiplicity

    d = _docs(spark, sf_dir).selectExpr("doc_id", "text", "lang AS category")
    n_docs_df = nonempty_documents(d).agg(F.count("*").alias("n_docs"))
    return tx.tfidf(terms_with_multiplicity(d, STOPWORDS), n_docs_df)


_TOKM_CTE = (
    "tokm AS (SELECT docs.doc_id, docs.category, u.term "
    "FROM docs, UNNEST(regexp_split_to_array(docs.text, '{d}')) AS u(term) "
    "WHERE length(u.term) >= {lo} AND length(u.term) <= {hi} "
    "AND u.term NOT IN ({stops}))"
)

SQL_TFIDF = (
    "WITH docs AS (SELECT doc_id, lang AS category, lower(text) AS text "
    "FROM documents WHERE text IS NOT NULL AND text <> '' "
    "AND lang IS NOT NULL AND lang <> ''), "
    + _TOKM_CTE.format(
        d=SQL_DELIM,
        lo=MIN_TOKEN_LEN,
        hi=MAX_TOKEN_LEN,
        stops=SQL_STOPWORDS,
    )
    + ", tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM tokm GROUP BY doc_id, term), "
    "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs) "
    "SELECT t.doc_id, t.term, t.tf, d.df, "
    "CAST(t.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS tfidf "
    "FROM tf t JOIN df d USING (term) CROSS JOIN n"
)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.doc_fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = """
WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
g AS (SELECT doc_id, min(md5(substr(t, CAST(i AS INTEGER), 5))) AS mg
      FROM lt, UNNEST(range(1, length(t) - 3)) AS r(i) GROUP BY doc_id)
SELECT lt.doc_id, md5(t) AS content_md5, coalesce(g.mg, md5(t)) AS min_gram_hash
FROM lt LEFT JOIN g USING (doc_id)
"""


