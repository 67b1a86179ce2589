"""Round-12 extension entries: trigram stupid-backoff LM, sentence
segmentation stats, URL canonicalization dedup.

Registered by registry_extensions.py after the round-11 batches, so
these sit at the registry tail for the round-13 certification window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textstats as tx
from ..streaming.urls import _messy_url, url_screen_stream
from .ext_common import _docs


def lm_stupid_backoff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff scoring (operators/textstats.py
    lm_stupid_backoff_score): trained on the doc_id % 10 == 0 split,
    scored over every document, so all three backoff levels fire."""
    return tx.lm_stupid_backoff_score(_docs(spark, sf_dir))


SQL_LM_STUPID_BACKOFF = r"""
WITH b AS (
  SELECT doc_id, doc_id % 10 = 0 AS train,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS arr
  FROM documents
),
tris AS (SELECT doc_id, train, arr[i] AS w1, arr[i+1] AS w2,
                arr[i+2] AS w3
         FROM b, UNNEST(range(1, len(arr) - 1)) AS r(i)),
tfb AS (SELECT doc_id, train, w1, w2, w3,
               CAST(count(*) AS BIGINT) AS tf
        FROM tris GROUP BY doc_id, train, w1, w2, w3),
c123 AS (SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS c123
         FROM tfb WHERE train GROUP BY w1, w2, w3),
c12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
        FROM c123 GROUP BY w1, w2),
c23 AS (SELECT w2, w3, CAST(sum(c123) AS BIGINT) AS c23
        FROM c123 GROUP BY w2, w3),
c2 AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS c2 FROM c23 GROUP BY w2),
c3 AS (SELECT w3, CAST(sum(c23) AS BIGINT) AS c3 FROM c23 GROUP BY w3),
tv AS (SELECT CAST(COALESCE(sum(c123), 0) AS BIGINT) AS t,
              CAST(count(DISTINCT w3) AS BIGINT) AS v
       FROM c123),
scored AS (
  SELECT tfb.doc_id, tfb.tf,
         CASE WHEN c123.c123 IS NOT NULL THEN 0
              WHEN c23.c23 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
         CASE
           WHEN c123.c123 IS NOT NULL THEN
             CAST(c123.c123 AS DOUBLE) / CAST(c12.c12 AS DOUBLE)
           WHEN c23.c23 IS NOT NULL THEN
             (CAST(4 AS DOUBLE) / CAST(10 AS DOUBLE))
               * (CAST(c23.c23 AS DOUBLE) / CAST(c2.c2 AS DOUBLE))
           ELSE
             (CAST(4 AS DOUBLE) / CAST(10 AS DOUBLE))
               * (CAST(4 AS DOUBLE) / CAST(10 AS DOUBLE))
               * ((CAST(COALESCE(c3.c3, 0) AS DOUBLE) + 1.0)
                  / (CAST(tv.t AS DOUBLE) + CAST(tv.v AS DOUBLE) + 1.0))
         END AS s
  FROM tfb
  LEFT JOIN c123 USING (w1, w2, w3)
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN c23 USING (w2, w3)
  LEFT JOIN c2 USING (w2)
  LEFT JOIN c3 USING (w3)
  CROSS JOIN tv),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
              CAST(sum(CASE WHEN lvl = 1 THEN tf ELSE 0 END) AS BIGINT)
                AS n_bo1,
              CAST(sum(CASE WHEN lvl = 2 THEN tf ELSE 0 END) AS BIGINT)
                AS n_bo2,
              sum(CAST(tf AS DOUBLE) * ln(s)) AS s
       FROM scored GROUP BY doc_id)
SELECT doc_id, n_trigrams, n_bo1, n_bo2,
       s / CAST(n_trigrams AS DOUBLE) AS avg_logprob
FROM pd
"""


def sentence_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (operators/textstats.py
    sentence_stats) over documents."""
    return tx.sentence_stats(_docs(spark, sf_dir))


SQL_SENTENCE_STATS = r"""
WITH f AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_split_to_array(text, '[.!?]+'),
                          x -> trim(x)),
           x -> x <> '') AS frags
  FROM documents),
l AS (
  SELECT doc_id,
         list_transform(frags, x -> CAST(length(x) AS BIGINT)) AS lens
  FROM f),
s AS (
  SELECT doc_id,
         CAST(len(lens) AS BIGINT) AS n_sentences,
         CAST(list_sum(lens) AS BIGINT) AS total_chars,
         CAST(list_max(lens) AS BIGINT) AS max_sentence_chars
  FROM l)
SELECT doc_id, n_sentences, total_chars,
       CAST(total_chars AS DOUBLE) / CAST(n_sentences AS DOUBLE)
         AS avg_sentence_chars,
       max_sentence_chars
FROM s WHERE n_sentences > 0
"""


EXT_ROUND12_QUERIES: dict = {
    "lm_stupid_backoff": (lm_stupid_backoff_q, SQL_LM_STUPID_BACKOFF),
    "sentence_stats": (sentence_stats_q, SQL_SENTENCE_STATS),
}


def dedup_url_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (operators/curation.py
    canonicalize_url + dedup_url_groups): six messy variants of the
    same logical page are synthesized per doc_id — scheme/host case,
    www., explicit :443, fragment, trailing slash, utm_*/tracking
    params, shuffled query order — three consecutive doc_ids share a
    page. The ORACLE states the expected canonical string directly
    from the fixture formula (it never runs the canonicalizer), so
    hash equality certifies every normalization rule at once."""
    from ..operators.curation import dedup_url_groups

    pages = _docs(spark, sf_dir).select(
        "doc_id", _messy_url("doc_id").alias("url")
    )
    return dedup_url_groups(pages)


SQL_DEDUP_URL_CANONICAL = """
WITH d AS (SELECT doc_id, doc_id % 6 AS m, doc_id // 3 AS pg
           FROM documents),
c AS (SELECT doc_id,
             'https://example.com/docs/p' || CAST(pg AS VARCHAR)
               || CASE WHEN m IN (4, 5) THEN '?a=1&b=2' ELSE '' END
               AS canon_url
      FROM d)
SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM c GROUP BY canon_url HAVING count(*) >= 2
"""


EXT_ROUND12_QUERIES.update(
    {
        "dedup_url_canonical": (
            dedup_url_canonical_q,
            SQL_DEDUP_URL_CANONICAL,
        ),
    }
)


def image_thumbnail_decoded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4x4 block-mean thumbnail over REAL decoded pixels
    (operators/multimodal.py image_thumbnail_decoded): per document
    a real PNG is synthesized (dimensions / color type / channel
    values are SQL-stateable functions of doc_id, scanline filters
    cycle all five types) and decoded through the pure-stdlib
    zlib-inflate + unfilter path; the oracle computes ground-truth
    block means directly from the fixture formulas — it never sees
    the PNG bytes — so equality certifies decoder AND resize."""
    from ..operators import multimodal as mm

    media = mm.synth_media(_docs(spark, sf_dir), mm.synth_png)
    return mm.image_thumbnail_decoded(media)


def _sql_image_thumbnail() -> str:
    from ..operators import multimodal as mm

    t = mm.THUMB_T
    return f"""
WITH dims AS (SELECT doc_id,
                     {mm.PNG_W_BASE} + doc_id % {mm.PNG_W_MOD} AS w,
                     {mm.PNG_H_BASE} + doc_id % {mm.PNG_H_MOD} AS h,
                     doc_id % 3 AS ctsel
              FROM documents),
g AS (SELECT doc_id, w, h, ctsel, rr.r AS r, cc.c AS c
      FROM dims, UNNEST(range(h)) rr(r), UNNEST(range(w)) cc(c)),
px AS (SELECT doc_id, w, h,
              (r * {t}) // h AS bi, (c * {t}) // w AS bj,
              CASE WHEN ctsel = 0
                THEN (doc_id*7 + r*13 + c*31) % 256
                ELSE (299*((doc_id*5 + r*11 + c*17) % 256)
                    + 587*((doc_id*3 + r*7 + c*19) % 256)
                    + 114*((doc_id*13 + r*3 + c*23) % 256)) // 1000
              END AS gray
       FROM g),
cells AS (SELECT doc_id, w, h, bi, bj,
                 CAST(sum(gray) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS m
          FROM px GROUP BY doc_id, w, h, bi, bj)
SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       string_agg(CAST(m AS VARCHAR), ',' ORDER BY bi, bj) AS thumb
FROM cells GROUP BY doc_id, w, h
"""


EXT_ROUND12_QUERIES.update(
    {
        "image_thumbnail_decoded": (
            image_thumbnail_decoded_q,
            _sql_image_thumbnail(),
        ),
    }
)


def audio_downsample_decoded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean audio decimation over REAL decoded WAV PCM
    (operators/multimodal.py audio_downsample): every output sample
    certified against ground truth computed from the synth formula —
    the oracle never sees the WAV bytes."""
    from ..operators import multimodal as mm

    return mm.audio_downsample(_docs(spark, sf_dir))


def _sql_audio_downsample() -> str:
    from ..operators import multimodal as mm

    k = mm.AUDIO_DS_FACTOR
    fr = mm.AUDIO_FRAME
    return f"""
WITH d AS (SELECT doc_id, (5 + doc_id % 5) * {fr} AS n FROM documents),
idxs AS (SELECT doc_id, o.out_idx
         FROM d, UNNEST(range(n // {k})) o(out_idx)),
sums AS (SELECT doc_id, out_idx,
                CAST(sum(((doc_id * 31 + (out_idx * {k} + kk.k) * 17)
                          % 4001) - 2000) AS BIGINT) AS s
         FROM idxs, UNNEST(range({k})) kk(k)
         GROUP BY doc_id, out_idx)
SELECT doc_id, CAST(out_idx AS BIGINT) AS out_idx,
       CASE WHEN s >= 0 THEN s // {k}
            ELSE -((-s) // {k}) END AS v
FROM sums
"""


EXT_ROUND12_QUERIES.update(
    {
        "audio_downsample_decoded": (
            audio_downsample_decoded_q,
            _sql_audio_downsample(),
        ),
    }
)


SQL_STREAM_URL_SCREEN = """
WITH c AS (
  SELECT doc_id,
         'https://example.com/docs/p' || CAST(doc_id // 3 AS VARCHAR)
           || CASE WHEN doc_id % 6 IN (4, 5) THEN '?a=1&b=2'
                   ELSE '' END AS canon_url
  FROM documents),
known AS (SELECT DISTINCT canon_url FROM c WHERE doc_id % 2 = 0)
SELECT c.doc_id, c.canon_url,
       c.canon_url IN (SELECT canon_url FROM known) AS is_known
FROM c
"""


def dq_freshness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit (operators/warehouse.py
    dq_freshness) over events."""
    from ..operators.warehouse import dq_freshness
    from .ext_common import _events

    return dq_freshness(_events(spark, sf_dir))


SQL_DQ_FRESHNESS = """
WITH per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(epoch_us(ts) // CAST(86400000000 AS BIGINT))
           AS BIGINT) AS last_day
  FROM events GROUP BY event_type),
mx AS (SELECT CAST(max(last_day) AS BIGINT) AS m FROM per)
SELECT event_type, n_events, last_day,
       CAST((SELECT m FROM mx) - last_day AS BIGINT) AS staleness_days
FROM per
"""


EXT_ROUND12_QUERIES.update(
    {
        "stream_url_screen": (url_screen_stream, SQL_STREAM_URL_SCREEN),
        "dq_freshness": (dq_freshness_q, SQL_DQ_FRESHNESS),
    }
)


ER_LSH_NAME_LEN = 12
ER_LSH_MOD = 7  # every 7th record gets a dirty clone


def er_blocking_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked ER candidates (operators/linkage.py
    blocking_pairs_lsh) over hashed pseudo-names: nm =
    md5(custkey)[:12] (12 hex chars — real name entropy, the
    regime LSH blocking is FOR; the serial-number c_name fixture
    belongs to the equality strategies and is documented as such in
    the operator), with a last-char-dropped clone of every 7th
    record (Levenshtein distance exactly 1). Random 12-hex names
    are never within edit distance 2 of each other, so the expected
    output is exactly the planted clone pairs — recovered through
    real char-3-gram MinHash banding, not equality keys."""
    from ..operators.linkage import blocking_pairs_lsh
    from ..sources.readers import scan_parquet

    cust = scan_parquet(spark, sf_dir, "customer")
    nm = F.substring(
        F.md5(F.col("c_custkey").cast("string")), 1, ER_LSH_NAME_LEN
    )
    base = cust.select(
        F.col("c_custkey").alias("rid"), nm.alias("name")
    )
    dirty = cust.filter(F.col("c_custkey") % ER_LSH_MOD == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("rid"),
        F.substring(
            F.md5(F.col("c_custkey").cast("string")),
            1,
            ER_LSH_NAME_LEN - 1,
        ).alias("name"),
    )
    return blocking_pairs_lsh(
        base.unionByName(dirty), "rid", "name", max_edit=2
    )


def _sql_er_lsh_ctes() -> str:
    """CTE chain ending in pr(id_a, id_b, dist) — shared by the
    pair and cluster oracles."""
    from ..operators.dedup import _MOD, NUM_BANDS, NUM_HASHES, hash_params
    from .oracle_common import sql_md5_hash32

    rows = NUM_HASHES // NUM_BANDS
    params = hash_params(NUM_HASHES)
    sig_cols = ", ".join(
        f"min(({a} * b32 + {b}) % {_MOD}) AS h{s}"
        for s, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        "SELECT rid, nm, "
        + f"{b} AS band, "
        + " || '_' || ".join(
            f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + " AS key FROM sg"
        for b in range(NUM_BANDS)
    )
    return f"""recs AS (
  SELECT c_custkey AS rid,
         substring(md5(CAST(c_custkey AS VARCHAR)), 1,
                   {ER_LSH_NAME_LEN}) AS nm
  FROM customer
  UNION ALL
  SELECT c_custkey + 10000000,
         substring(md5(CAST(c_custkey AS VARCHAR)), 1,
                   {ER_LSH_NAME_LEN - 1})
  FROM customer WHERE c_custkey % {ER_LSH_MOD} = 0),
g AS (SELECT DISTINCT rid, substring(nm, CAST(i AS INTEGER), 3) AS sh
      FROM recs, UNNEST(range(1, len(nm) - 1)) t(i)),
hb AS (SELECT rid, {sql_md5_hash32('sh')} AS b32 FROM g),
sg0 AS (SELECT rid, {sig_cols} FROM hb GROUP BY rid),
sg AS (SELECT sg0.*, recs.nm FROM sg0 JOIN recs USING (rid)),
bands AS ({band_selects}),
sz AS (SELECT band, key FROM bands GROUP BY band, key
       HAVING count(*) >= 2 AND count(*) <= 1000),
cand AS (
  SELECT DISTINCT a.rid AS id_a, b.rid AS id_b,
                  a.nm AS na, b.nm AS nb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.rid < b.rid
  JOIN sz ON sz.band = a.band AND sz.key = a.key),
pr AS (SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
       FROM cand WHERE levenshtein(na, nb) <= 2)"""


EXT_ROUND12_QUERIES.update(
    {
        "er_blocking_lsh": (
            er_blocking_lsh_q,
            "WITH " + _sql_er_lsh_ctes()
            + " SELECT id_a, id_b, dist FROM pr",
        ),
    }
)


def lm_jm_bigram_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM
    (operators/textstats.py lm_jm_bigram_score): trained on the
    doc_id % 10 == 0 split, scored everywhere, so both arms of the
    interpolation fire."""
    return tx.lm_jm_bigram_score(_docs(spark, sf_dir))


def _sql_lm_jm() -> str:
    lam = tx.JM_LAMBDA
    one_minus = 1.0 - tx.JM_LAMBDA  # embed the exact double both ways
    return rf"""
WITH b AS (
  SELECT doc_id, doc_id % 10 = 0 AS train,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS arr
  FROM documents
),
pairs AS (SELECT doc_id, train, arr[i] AS w1, arr[i+1] AS w2
          FROM b, UNNEST(range(1, len(arr))) AS r(i)),
tfb AS (SELECT doc_id, train, w1, w2, CAST(count(*) AS BIGINT) AS tf
        FROM pairs GROUP BY doc_id, train, w1, w2),
c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
        FROM tfb WHERE train GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2),
tv AS (SELECT CAST(COALESCE(sum(c12), 0) AS BIGINT) AS t,
              CAST(count(DISTINCT w2) AS BIGINT) AS v
       FROM c12),
scored AS (
  SELECT tfb.doc_id, tfb.tf, c12.c12,
         CASE WHEN c12.c12 IS NOT NULL
              THEN {lam!r} * (CAST(c12.c12 AS DOUBLE)
                              / CAST(c1.c1 AS DOUBLE))
              ELSE 0.0 END
         + {one_minus!r}
           * ((CAST(COALESCE(c2.c2, 0) AS DOUBLE) + 1.0)
              / (CAST(tv.t AS DOUBLE) + CAST(tv.v AS DOUBLE) + 1.0))
           AS s
  FROM tfb
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  LEFT JOIN c2 USING (w2)
  CROSS JOIN tv),
pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
              CAST(sum(CASE WHEN c12 IS NULL THEN tf ELSE 0 END)
                AS BIGINT) AS n_unseen,
              sum(CAST(tf AS DOUBLE) * ln(s)) AS s
       FROM scored GROUP BY doc_id)
SELECT doc_id, n_bigrams, n_unseen,
       s / CAST(n_bigrams AS DOUBLE) AS avg_logprob
FROM pd
"""


EXT_ROUND12_QUERIES.update(
    {
        "lm_jm_bigram_score": (lm_jm_bigram_score_q, _sql_lm_jm()),
    }
)


def er_clusters_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship clusters over the LSH-blocked match graph
    (operators/linkage.py blocking_pairs_lsh -> match_clusters):
    the pairs-to-canonical-id composition on the hashed-pseudo-name
    fixture, with the singleton union so the output is a TOTAL map
    over the input ids. Oracle = recursive-CTE transitive closure
    over the same pair chain + singleton union."""
    from ..operators.linkage import blocking_pairs_lsh, match_clusters
    from ..sources.readers import scan_parquet

    cust = scan_parquet(spark, sf_dir, "customer")
    nm = F.substring(
        F.md5(F.col("c_custkey").cast("string")), 1, ER_LSH_NAME_LEN
    )
    base = cust.select(
        F.col("c_custkey").alias("rid"), nm.alias("name")
    )
    dirty = cust.filter(F.col("c_custkey") % ER_LSH_MOD == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("rid"),
        F.substring(
            F.md5(F.col("c_custkey").cast("string")),
            1,
            ER_LSH_NAME_LEN - 1,
        ).alias("name"),
    )
    recs = base.unionByName(dirty)
    pairs = blocking_pairs_lsh(recs, "rid", "name", max_edit=2)
    return match_clusters(pairs, records=recs, id_col="rid")


def _sql_er_clusters_lsh() -> str:
    return (
        "WITH RECURSIVE "
        + _sql_er_lsh_ctes()
        + """,
edges AS (SELECT id_a AS src, id_b AS dst FROM pr
          UNION SELECT id_b, id_a FROM pr),
reach(src, dst) AS (SELECT src, dst FROM edges
                    UNION SELECT r.src, e.dst FROM reach r
                    JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS entity_id,
                least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src)
SELECT entity_id, cluster_id FROM comp
UNION ALL
SELECT rid, rid FROM recs
WHERE rid NOT IN (SELECT entity_id FROM comp)
"""
    )


EXT_ROUND12_QUERIES.update(
    {
        "er_clusters_lsh": (er_clusters_lsh_q, _sql_er_clusters_lsh()),
    }
)
