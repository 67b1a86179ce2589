"""Round-14 extension entries, three batches:

1. OPH MinHash dedup, zone-map file skipping, large-star/small-star
   connected components, blocklist safety screen, per-doc tf-idf
   keywords, exact two-sample KS drift;
2. G² (Dunning log-likelihood) feature scores, MIPS top-k,
   Johnson-Lindenstrauss ±1 sketch, per-dimension exact variance,
   streaming blocklist twin;
3. SimHash pigeonhole candidate pairs, sorted-neighborhood ER
   blocking, Zipf-exponent corpus fit;
4. G² bigram collocations (Dunning's original application), Benford
   first-digit DQ profile;
5. feature-store point-in-time enrichment (chained as-of joins),
   ranking-window completion (percent_rank / cume_dist).

Registered by registry_extensions.py after the round-13 batch, so
these sit at the registry tail for the round-15 certification window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..sources.readers import scan_parquet
from ..streaming.curation import blocklist_screen_stream
from .ext_common import _docs, _events
from .ext_retrieval import _BASE32_SQL, _SH_CTES


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return scan_parquet(spark, sf_dir, name)


# =========================================================================
# One-Permutation Hashing MinHash (operators/dedup.py oph_*)
# =========================================================================

def dedup_minhash_oph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via One-Permutation Hashing with rotation
    densification (operators/dedup.py oph_candidate_pairs): one
    universal hash per shingle instead of k, same banded LSH and
    bucket guard downstream."""
    return dd.oph_candidate_pairs(_docs(spark, sf_dir))


def _sql_oph_pairs(k: int = dd.NUM_HASHES, bands: int = dd.NUM_BANDS) -> str:
    a0, b0 = dd.hash_params(1)[0]
    rows = k // bands
    return (
        "WITH " + _SH_CTES + ", "
        f"shb AS (SELECT doc_id, (({a0} * ({_BASE32_SQL}) + {b0}) % {dd._MOD}) AS h FROM sh), "
        f"bm AS (SELECT doc_id, h % {k} AS bkt, min(h) AS v "
        f"FROM shb GROUP BY doc_id, h % {k}), "
        "ids AS (SELECT DISTINCT doc_id FROM bm), "
        "cand AS (SELECT i.doc_id, jj.j AS j, tt.t AS t, bm.v "
        f"FROM ids i CROSS JOIN UNNEST(range(0, {k})) AS jj(j) "
        f"CROSS JOIN UNNEST(range(0, {k})) AS tt(t) "
        f"JOIN bm ON bm.doc_id = i.doc_id AND bm.bkt = (jj.j + tt.t) % {k}), "
        f"dens AS (SELECT doc_id, j, (v + t * {dd.OPH_C}) % {dd._MOD} AS dv, "
        "row_number() OVER (PARTITION BY doc_id, j ORDER BY t) AS rn FROM cand), "
        "sig2 AS (SELECT doc_id, j, dv FROM dens WHERE rn = 1), "
        f"bands AS (SELECT doc_id, j // {rows} AS band, "
        "string_agg(CAST(dv AS VARCHAR), '_' ORDER BY j) AS key "
        f"FROM sig2 GROUP BY doc_id, j // {rows}), "
        "buckets AS (SELECT band, key FROM bands GROUP BY band, key "
        f"HAVING count(*) >= 2 AND count(*) <= {dd.MAX_BUCKET}), "
        "g AS (SELECT b.doc_id, b.band, b.key FROM bands b "
        "JOIN buckets USING (band, key)) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(DISTINCT a.band) AS BIGINT) AS n_bands "
        "FROM g a JOIN g b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id"
    )


# =========================================================================
# Zone-map file skipping (operators/layout.py zonemap_*)
# =========================================================================

ZM_FILE_ROWS = 256  # modeled orderkeys per file (l_orderkey div)
ZM_LO = "1995-01-01"
ZM_HI = "1996-01-01"


def zonemap_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping evaluation (operators/layout.py
    zonemap_stats + zonemap_prune) over lineitem: files modeled as
    l_orderkey div 256 ranges (a key-ordered ingest), per-file
    min/max of l_shipdate, and the skip decision for the half-open
    year predicate [1995-01-01, 1996-01-01)."""
    import datetime

    from ..operators.layout import zonemap_prune, zonemap_stats

    li = _t(spark, sf_dir, "lineitem").select(
        F.expr(f"l_orderkey div {ZM_FILE_ROWS}").cast("long").alias("fid"),
        "l_shipdate",
    )
    stats = zonemap_stats(li, "fid", ["l_shipdate"])
    return zonemap_prune(
        stats,
        "l_shipdate",
        datetime.datetime(1995, 1, 1),
        datetime.datetime(1996, 1, 1),
    )


SQL_ZONEMAP_PRUNE = f"""
WITH s AS (SELECT l_orderkey // {ZM_FILE_ROWS} AS file_id,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  min(l_shipdate) AS min_l_shipdate,
                  max(l_shipdate) AS max_l_shipdate
           FROM lineitem GROUP BY 1)
SELECT file_id, n_rows, min_l_shipdate, max_l_shipdate,
       CASE WHEN min_l_shipdate IS NULL OR max_l_shipdate IS NULL
            THEN TRUE
            ELSE max_l_shipdate < TIMESTAMP '{ZM_LO}'
                 OR min_l_shipdate >= TIMESTAMP '{ZM_HI}' END AS can_skip
FROM s
"""


# =========================================================================
# Large-star/small-star connected components (operators/graph.py)
# =========================================================================

CHAIN_BLOCK = 50  # fixture: doc chains of 50 — diameter 49


def graph_components_largestar_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Large-star/small-star connected components (operators/graph.py
    connected_components_star) over a planted CHAIN graph — edges
    (doc_id, doc_id+1) within blocks of 50 — the diameter-49 shape
    where min-label propagation needs ~50 rounds and the star
    alternation needs ~5 (asserted in tests/test_round14.py)."""
    from ..operators.graph import connected_components_star

    d = _docs(spark, sf_dir).select("doc_id")
    e = (
        d.filter(F.col("doc_id") % CHAIN_BLOCK != CHAIN_BLOCK - 1)
        .select(
            F.col("doc_id").alias("src"),
            (F.col("doc_id") + 1).alias("dst"),
        )
        .join(d.select(F.col("doc_id").alias("dst")), "dst")
        .select("src", "dst")
    )
    return connected_components_star(e)


SQL_GRAPH_COMPONENTS_LARGESTAR = f"""
WITH RECURSIVE
e0 AS (SELECT a.doc_id AS src, a.doc_id + 1 AS dst
       FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       WHERE a.doc_id % {CHAIN_BLOCK} <> {CHAIN_BLOCK - 1}),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
reach(src, dst) AS (SELECT src, dst FROM edges
  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS node, least(src, min(dst)) AS component_id
FROM reach GROUP BY src
"""


# =========================================================================
# Blocklist safety screen (operators/curation.py blocklist_screen)
# =========================================================================

def toxicity_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist safety screen (operators/curation.py
    blocklist_screen): blocked-token occurrence counts per document
    and the integer cross-multiplied rate flag."""
    from ..operators.curation import blocklist_screen

    return blocklist_screen(_docs(spark, sf_dir))


def _sql_toxicity_screen() -> str:
    from ..operators.curation import (
        BLOCKLIST_RATE_DEN,
        BLOCKLIST_RATE_NUM,
        BLOCKLIST_TERMS,
    )

    terms = ", ".join("'" + t + "'" for t in BLOCKLIST_TERMS)
    return rf"""
WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS arr
           FROM documents),
c AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(arr, x -> x IN ({terms})))
                  AS BIGINT) AS n_blocked
      FROM t)
SELECT doc_id, n_tokens, n_blocked,
       n_blocked * {BLOCKLIST_RATE_DEN} > n_tokens * {BLOCKLIST_RATE_NUM}
         AS flagged
FROM c WHERE n_tokens > 0
"""


# =========================================================================
# Per-doc tf-idf keywords (operators/textstats.py tfidf_topk_terms)
# =========================================================================

def tfidf_topk_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (operators/textstats.py
    tfidf_topk_terms): top-5 tf-idf terms per doc under the total
    order (tfidf DESC, term ASC)."""
    from ..constants import STOPWORDS
    from ..functions.text import nonempty_documents, terms_with_multiplicity
    from ..operators.textstats import tfidf_topk_terms

    d = _docs(spark, sf_dir).selectExpr(
        "doc_id", "text", "lang AS category"
    )
    n_docs_df = nonempty_documents(d).agg(F.count("*").alias("n_docs"))
    return tfidf_topk_terms(terms_with_multiplicity(d, STOPWORDS), n_docs_df)


def _sql_tfidf_topk() -> str:
    from ..operators.textstats import TFIDF_TOPK
    from .ext_retrieval import SQL_TFIDF

    return (
        f"WITH base AS ({SQL_TFIDF}) "
        "SELECT doc_id, term, tf, df, tfidf, trank FROM ("
        "SELECT base.*, CAST(row_number() OVER ("
        "PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER"
        ") AS trank FROM base) "
        f"WHERE trank <= {TFIDF_TOPK}"
    )


# =========================================================================
# Exact two-sample KS drift (operators/warehouse.py ks_two_sample)
# =========================================================================

def dq_drift_ks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift between the even- and
    odd-user event-value distributions (operators/warehouse.py
    ks_two_sample): integer decision numerator, one final division."""
    from ..operators.warehouse import ks_two_sample

    ev = _events(spark, sf_dir).select(
        "value", (F.col("user_id") % 2).alias("side")
    )
    return ks_two_sample(ev, "value", "side")


SQL_DQ_DRIFT_KS = """
WITH s AS (SELECT value AS v, user_id % 2 AS g FROM events
           WHERE value IS NOT NULL),
pv AS (SELECT v,
         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
       FROM s GROUP BY v),
c AS (SELECT v,
        CAST(sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS ca,
        CAST(sum(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS cb
      FROM pv),
t AS (SELECT CAST(sum(a) AS BIGINT) AS n_ref,
             CAST(sum(b) AS BIGINT) AS n_cur FROM pv),
m AS (SELECT t.n_ref, t.n_cur,
             CAST(max(abs(c.ca * t.n_cur - c.cb * t.n_ref)) AS BIGINT)
               AS ks_num
      FROM c CROSS JOIN t GROUP BY t.n_ref, t.n_cur)
SELECT n_ref, n_cur, ks_num,
       CAST(ks_num AS DOUBLE)
         / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) AS ks_stat
FROM m
"""


EXT_ROUND14_QUERIES: dict = {
    "dedup_minhash_oph": (dedup_minhash_oph_q, _sql_oph_pairs()),
    "zonemap_prune": (zonemap_prune_q, SQL_ZONEMAP_PRUNE),
    "graph_components_largestar": (
        graph_components_largestar_q,
        SQL_GRAPH_COMPONENTS_LARGESTAR,
    ),
    "toxicity_screen": (toxicity_screen_q, _sql_toxicity_screen()),
    "tfidf_topk_terms": (tfidf_topk_terms_q, _sql_tfidf_topk()),
    "dq_drift_ks": (dq_drift_ks_q, SQL_DQ_DRIFT_KS),
}


# =========================================================================
# Round-14 second batch: G² feature scores, MIPS top-k, JL projection,
# per-dimension variance, streaming blocklist twin
# =========================================================================

def g2_feature_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood feature selection
    (operators/contingency.py g2_relation): the χ² pipeline's 2×2
    contingency skeleton scored with G² = 2·Σ O·ln(O/E) — calibrated
    at the small expected counts where Pearson χ² overshoots."""
    from ..operators.contingency import g2_relation
    from .registry_text import _docs as _text_docs
    from .registry_text import _toks as _text_toks

    return g2_relation(
        _text_toks(spark, sf_dir), _text_docs(spark, sf_dir)
    )


def _g2_term_sql(o: str, row: str, col: str) -> str:
    # one ln of the ratio per cell, mirroring functions/stats.py
    # _g2_term (see the cancellation note there)
    return (
        f"CASE WHEN {o} > 0 THEN CAST({o} AS DOUBLE) * "
        f"ln((CAST({o} AS DOUBLE) * CAST(n_docs AS DOUBLE)) "
        f"/ (CAST({row} AS DOUBLE) * CAST({col} AS DOUBLE))) "
        "ELSE 0.0 END"
    )


def _sql_g2() -> str:
    from .oracle_common import CHI2_CTES, with_text_ctes

    return with_text_ctes(CHI2_CTES) + (
        " SELECT category, term, 2.0 * ("
        + _g2_term_sql("a", "a + b", "a + c")
        + " + " + _g2_term_sql("b", "a + b", "b + d")
        + " + " + _g2_term_sql("c", "c + d", "a + c")
        + " + " + _g2_term_sql("d", "c + d", "b + d")
        + ") AS g2 FROM cells"
    )


def simsearch_mips_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k (operators/simsearch.py
    mips_topk): exact dot-product retrieval, the recommendation-
    scorer objective where norm carries signal."""
    from ..operators.simsearch import mips_topk
    from .ext_common import _emb

    return mips_topk(_emb(spark, sf_dir))


def _sql_mips_topk() -> str:
    from .ext_retrieval import _dot_sql

    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         ({_dot_sql('q.q_emb', 'e.embedding')}) AS ip
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, ip,
  CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY ip DESC, vec_id ASC) AS INTEGER)
    AS rank
  FROM scored)
SELECT query_id, vec_id, ip, rank FROM r WHERE rank <= 5
"""


def embed_random_projection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 sketch to 8 components
    (operators/simsearch.py jl_project), exact int64 fixed point."""
    from ..operators.simsearch import jl_project
    from .ext_common import _emb

    return jl_project(_emb(spark, sf_dir))


def _sql_jl_project() -> str:
    from ..operators.simsearch import JL_DIM, JL_PLANES, JL_SCALE

    unions = " UNION ALL ".join(
        "SELECT vec_id, {j} AS out_dim, ({terms}) AS comp_fp FROM qv".format(
            j=j,
            terms=" + ".join(
                f"qa[{d + 1}] * {s}" for d, s in enumerate(JL_PLANES[j])
            ),
        )
        for j in range(JL_DIM)
    )
    return (
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {float(JL_SCALE)}) AS BIGINT)"
        ") AS qa FROM embeddings) " + unions
    )


def embed_dim_variance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension exact fixed-point variance + rank
    (operators/simsearch.py dim_variance)."""
    from ..operators.simsearch import dim_variance
    from .ext_common import _emb

    return dim_variance(_emb(spark, sf_dir))


def _sql_dim_variance() -> str:
    from ..operators.simsearch import VAR_SCALE

    return f"""
WITH r AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * {float(VAR_SCALE)})
                  AS BIGINT) AS q
           FROM embeddings,
                UNNEST(range(1, len(embedding) + 1)) AS rr(i)),
a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(q * q) AS BIGINT) AS ss
      FROM r GROUP BY dim),
v AS (SELECT dim, n_vecs,
             CAST(n_vecs * ss - s * s AS BIGINT) AS var_num FROM a)
SELECT dim, n_vecs, var_num,
  CAST(var_num AS DOUBLE)
    / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE))
    / {float(VAR_SCALE) * float(VAR_SCALE)} AS variance,
  CAST(row_number() OVER (ORDER BY var_num DESC, dim ASC) AS INTEGER)
    AS vrank
FROM v
"""


EXT_ROUND14_QUERIES.update(
    {
        "g2_feature_scores": (g2_feature_scores_q, _sql_g2()),
        "simsearch_mips_topk": (simsearch_mips_topk_q, _sql_mips_topk()),
        "embed_random_projection": (
            embed_random_projection_q,
            _sql_jl_project(),
        ),
        "embed_dim_variance": (embed_dim_variance_q, _sql_dim_variance()),
        "stream_toxicity_screen": (
            blocklist_screen_stream,
            _sql_toxicity_screen(),
        ),
    }
)


# =========================================================================
# Round-14 third batch: SimHash pigeonhole pairs, sorted-neighborhood
# blocking, Zipf fit
# =========================================================================

def dedup_simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs by pigeonhole banding
    (operators/dedup.py simhash_pairs): 4 bands over the 32-bit hash
    capture every pair within Hamming distance 3; exact bit_count
    verification filters the survivors."""
    from ..operators.dedup import simhash_pairs
    from .ext_common import _toks

    return simhash_pairs(_toks(spark, sf_dir).select("doc_id", "term"))


def _sql_simhash_pairs() -> str:
    from ..operators.dedup import (
        MAX_BUCKET,
        SIMHASH_BANDS,
        SIMHASH_MAX_HAMMING,
    )
    from .ext_retrieval import _BIT_RECOMBINE, _BIT_SUMS, _HEX_SUM
    from .oracle_common import with_text_ctes

    width = 32 // SIMHASH_BANDS
    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash // {2 ** (b * width)}) % {2 ** width} AS key FROM sig"
        for b in range(SIMHASH_BANDS)
    )
    return with_text_ctes(
        f"hh AS (SELECT doc_id, ({_HEX_SUM}) AS h FROM toks), "
        f"bs AS (SELECT doc_id, {_BIT_SUMS} FROM hh GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {_BIT_RECOMBINE} AS simhash FROM bs), "
        f"bands AS ({bands_sql}), "
        "buckets AS (SELECT band, key FROM bands GROUP BY band, key "
        f"HAVING count(*) >= 2 AND count(*) <= {MAX_BUCKET}), "
        "g AS (SELECT b.doc_id, b.simhash, b.band, b.key "
        "FROM bands b JOIN buckets USING (band, key)), "
        "pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        "FROM g a JOIN g b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id)"
    ) + (
        f" SELECT doc_a, doc_b, hamming FROM pr "
        f"WHERE hamming <= {SIMHASH_MAX_HAMMING}"
    )


def er_sorted_neighborhood_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (operators/linkage.py
    sorted_neighborhood_pairs) over the standard ER fixture (customer
    + typo'd clones): window 12 covers the up-to-10 records that sort
    between a clone (8-digit prefix) and its source; coarse key =
    name digits 1..5 (order-consistent prefix)."""
    from ..operators.linkage import sorted_neighborhood_pairs
    from .registry_extensions import _er_records

    return sorted_neighborhood_pairs(
        _er_records(spark, sf_dir), "rid", "name",
        coarse_start=10, coarse_len=5,
    )


def _sql_er_sorted_neighborhood() -> str:
    from ..operators.linkage import SN_WINDOW
    from .registry_extensions import _SQL_ER_RECS

    return (
        "WITH " + _SQL_ER_RECS + ", "
        "p AS (SELECT rid, nm, CAST(row_number() OVER "
        "(ORDER BY nm, rid) AS BIGINT) AS p FROM recs) "
        "SELECT a.rid AS id_a, b.rid AS id_b, "
        "CAST(b.p - a.p AS INTEGER) AS gap, "
        "CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist "
        f"FROM p a JOIN p b ON b.p > a.p AND b.p <= a.p + {SN_WINDOW - 1}"
    )


def vocab_zipf_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent fit over the top-64 vocabulary
    (operators/textstats.py vocab_zipf_fit): exact fixed-point log-log
    OLS, one row."""
    from ..operators.textstats import vocab_zipf_fit

    return vocab_zipf_fit(_docs(spark, sf_dir))


def _sql_vocab_zipf() -> str:
    from ..operators.textstats import ZIPF_SCALE, ZIPF_V

    return rf"""
WITH toks AS (SELECT doc_id, u.term FROM documents,
  UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '')) AS u(term)),
vc AS (SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
       FROM toks GROUP BY term),
v AS (SELECT term, n_occurrences,
        CAST(row_number() OVER (ORDER BY n_occurrences DESC, term ASC)
             AS INTEGER) AS vrank
      FROM vc ORDER BY n_occurrences DESC, term ASC LIMIT {ZIPF_V}),
q AS (SELECT
        CAST(floor(ln(CAST(vrank AS DOUBLE)) * {float(ZIPF_SCALE)})
             AS BIGINT) AS xq,
        CAST(floor(ln(CAST(n_occurrences AS DOUBLE)) * {float(ZIPF_SCALE)})
             AS BIGINT) AS yq
      FROM v),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
             CAST(sum(xq * yq) AS BIGINT) AS sxy,
             CAST(sum(xq * xq) AS BIGINT) AS sxx
      FROM q)
SELECT n_terms,
  (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
  ((CAST(sy AS DOUBLE)
    - ((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      * CAST(sx AS DOUBLE)) / CAST(n_terms AS DOUBLE))
    / {float(ZIPF_SCALE)} AS intercept
FROM a
"""


EXT_ROUND14_QUERIES.update(
    {
        "dedup_simhash_pairs": (dedup_simhash_pairs_q, _sql_simhash_pairs()),
        "er_sorted_neighborhood": (
            er_sorted_neighborhood_q,
            _sql_er_sorted_neighborhood(),
        ),
        "vocab_zipf_fit": (vocab_zipf_fit_q, _sql_vocab_zipf()),
    }
)


# =========================================================================
# Round-14 fourth batch: G² collocations (Dunning's original use),
# Benford first-digit DQ profile
# =========================================================================

def collocations_g2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by Dunning's G²
    (operators/textstats.py collocations_g2) — the statistic's
    original application, on collocations_pmi's position space."""
    from ..operators.textstats import collocations_g2

    return collocations_g2(_t(spark, sf_dir, "documents"))


def _sql_collocations_g2(min_count: int = 5, k: int = 50) -> str:
    def term(o: str, row: str, col: str) -> str:
        return (
            f"CASE WHEN {o} > 0 THEN CAST({o} AS DOUBLE) * "
            f"ln((CAST({o} AS DOUBLE) * CAST(nbi AS DOUBLE)) "
            f"/ (CAST({row} AS DOUBLE) * CAST({col} AS DOUBLE))) "
            "ELSE 0.0 END"
        )

    g2 = (
        "2.0 * ("
        + term("a", "a + b", "a + c") + " + "
        + term("b", "a + b", "b + d") + " + "
        + term("c", "c + d", "a + c") + " + "
        + term("d", "c + d", "b + d") + ")"
    )
    return f"""
WITH w AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM w, UNNEST(range(1, len(ws))) AS t(i)),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_cnt
       FROM bg GROUP BY w1, w2),
lc AS (SELECT w1, CAST(sum(pair_cnt) AS BIGINT) AS lcnt
       FROM bc GROUP BY w1),
rc AS (SELECT w2, CAST(sum(pair_cnt) AS BIGINT) AS rcnt
       FROM bc GROUP BY w2),
nb AS (SELECT CAST(sum(pair_cnt) AS BIGINT) AS nbi FROM bc),
cells AS (
  SELECT w1, w2, pair_cnt,
         pair_cnt AS a, lcnt - pair_cnt AS b, rcnt - pair_cnt AS c,
         nbi - pair_cnt - (lcnt - pair_cnt) - (rcnt - pair_cnt) AS d,
         nbi
  FROM bc JOIN lc USING (w1) JOIN rc USING (w2), nb
  WHERE pair_cnt >= {int(min_count)})
SELECT w1, w2, pair_cnt, {g2} AS g2
FROM cells
ORDER BY g2 DESC, w1 ASC, w2 ASC
LIMIT {int(k)}
"""


def dq_benford_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of the event values
    (operators/warehouse.py dq_benford): digit from the cents integer
    rendered as a string, so no log10 boundary flakiness."""
    from ..operators.warehouse import dq_benford

    return dq_benford(_events(spark, sf_dir))


SQL_DQ_BENFORD = """
WITH c AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
        AS digit
      FROM c WHERE cents > 0),
a AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM a)
SELECT digit, n,
  CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS observed_p,
  ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS expected_p
FROM a, t
"""


EXT_ROUND14_QUERIES.update(
    {
        "collocations_g2": (collocations_g2_q, _sql_collocations_g2()),
        "dq_benford": (dq_benford_q, SQL_DQ_BENFORD),
    }
)


# =========================================================================
# Round-14 fifth batch: feature-store point-in-time join, ranking
# window completion (percent_rank / cume_dist)
# =========================================================================

def pipeline_feature_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store POINT-IN-TIME enrichment (two chained
    operators/asof.py asof_join calls — the composition every online
    feature platform runs at training-set build time): each event
    pulls, as of its timestamp, (a) the user's latest order total and
    (b) the user's cumulative order count. Order dates shift +29
    years into the event window so the as-of cut genuinely varies per
    event (unshifted, every order predates every event and the cut is
    trivially the per-user max). Returns (event_id, user_id,
    asof_last_total, asof_order_cnt).

    Scale shape: each asof_join is one union-merge window per key —
    two shuffles total on the user key; feature tables pre-aggregate
    to unique (key, ts) (max total on same-day ties; cumulative count
    via a per-user window over the per-user-bounded order relation).
    Training-set PIT correctness (no feature leakage from the future)
    is exactly the right.ts <= left.ts contract asof_join certifies."""
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.expr("o_orderdate + INTERVAL 29 YEARS").alias("fts"),
        "o_totalprice",
    )
    f1 = orders.groupBy("user_id", "fts").agg(
        F.max("o_totalprice").alias("last_total")
    )
    from pyspark.sql import Window as W

    wc = (
        W.partitionBy("user_id")
        .orderBy("fts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    f2 = f1.select(
        "user_id",
        "fts",
        F.count("*").over(wc).cast("long").alias("order_cnt"),
    )
    step1 = asof_join(
        ev, f1.withColumnRenamed("fts", "ts"), "user_id", "ts",
        ["last_total"],
    )
    step2 = asof_join(
        step1, f2.withColumnRenamed("fts", "ts"), "user_id", "ts",
        ["order_cnt"],
    )
    return step2.select(
        "event_id", "user_id",
        F.col("asof_last_total").alias("asof_last_total"),
        F.col("asof_order_cnt").alias("asof_order_cnt"),
    )


SQL_PIPELINE_FEATURE_STORE = """
WITH o AS (SELECT o_custkey AS user_id,
                  o_orderdate + INTERVAL 29 YEAR AS fts,
                  o_totalprice
           FROM orders),
f1 AS (SELECT user_id, fts, max(o_totalprice) AS last_total
       FROM o GROUP BY user_id, fts),
f2 AS (SELECT user_id, fts,
              CAST(count(*) OVER (PARTITION BY user_id ORDER BY fts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS order_cnt
       FROM f1),
e AS (SELECT event_id, user_id, ts FROM events),
s1 AS (SELECT e.event_id, e.user_id, e.ts, f1.last_total
       FROM e ASOF LEFT JOIN f1
         ON e.user_id = f1.user_id AND f1.fts <= e.ts),
s2 AS (SELECT s1.event_id, s1.user_id, s1.last_total, f2.order_cnt
       FROM s1 ASOF LEFT JOIN f2
         ON s1.user_id = f2.user_id AND f2.fts <= s1.ts)
SELECT event_id, user_id, last_total AS asof_last_total,
       order_cnt AS asof_order_cnt
FROM s2
"""


def window_cume_dist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window completion: percent_rank and cume_dist of
    l_quantity per (l_returnflag, l_linestatus), under a TOTAL order
    (quantity, orderkey, linenumber) so neither engine sees ties.

    Scale note: a ranking window sorts each partition — fine for
    group keys of reasonable cardinality; a GLOBAL CDF at 100 TB uses
    the two-level cumsum instead (ks_two_sample)."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag", "l_linestatus").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


SQL_WINDOW_CUME_DIST = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity,
  percent_rank() OVER (PARTITION BY l_returnflag, l_linestatus
    ORDER BY l_quantity, l_orderkey, l_linenumber) AS prank,
  cume_dist() OVER (PARTITION BY l_returnflag, l_linestatus
    ORDER BY l_quantity, l_orderkey, l_linenumber) AS cdist
FROM lineitem
"""


EXT_ROUND14_QUERIES.update(
    {
        "pipeline_feature_store": (
            pipeline_feature_store_q,
            SQL_PIPELINE_FEATURE_STORE,
        ),
        "window_cume_dist": (window_cume_dist_q, SQL_WINDOW_CUME_DIST),
    }
)
