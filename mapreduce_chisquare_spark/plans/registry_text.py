"""queries()/oracle_sql() registry — text + χ² surface (SURVEY.md §2).

Each entry pairs a Spark DataFrame builder `(spark, sf_dir) -> DF` with
the equivalent DuckDB SQL. Column names/aliases are identical on both
sides (the driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import (
    DELIM_REGEX,
    MAX_TOKEN_LEN,
    MIN_TOKEN_LEN,
    STOPWORDS,
    TOP_K,
)
from ..functions.text import nonempty_documents, tokens_relation
from ..operators.contingency import (
    cat_counts,
    chi_square_relation,
    term_cat_counts,
    term_counts,
    total_count,
)
from ..operators.report import format_report, merged_dict
from ..operators.topk import topk_per_group
from ..plans.chisquare import chi_square_top_terms
from ..sources.readers import (
    literal_relation,
    reviews_from_documents,
    scan_parquet,
)
from .oracle_common import (
    CHI2_CTES,
    COUNTS_CTES,
    SQL_DELIM,
    SQL_STOPWORDS,
    TOPK_CTES,
    sql_md5_hash32,
    with_text_ctes,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4-filtered fixture-A docs: (doc_id, category, text[lowercased])."""
    d = scan_parquet(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang AS category", "text"
    )
    return nonempty_documents(d).withColumn("text", F.lower(F.col("text")))


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = scan_parquet(spark, sf_dir, "documents").selectExpr(
        "doc_id", "text", "lang AS category"
    )
    return tokens_relation(d, STOPWORDS)


def _raw_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 only: lowercase, split, drop empties — with multiplicity,
    before stopword/length/dedup steps."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "category",
        F.explode(F.split(F.col("text"), DELIM_REGEX)).alias("term"),
    ).filter(F.col("term") != "")


_RAW_TERMS_CTE = (
    "raw AS (SELECT docs.doc_id, docs.category, u.term "
    f"FROM docs, UNNEST(regexp_split_to_array(docs.text, '{SQL_DELIM}')) AS u(term) "
    "WHERE u.term <> '')"
)


# --- S/F/X: scans, filters, scalar text ops -------------------------------

def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: early projection of the two used fields (chi_square.py:32-33)."""
    return reviews_from_documents(scan_parquet(spark, sf_dir, "documents"))


SQL_PROJECT = "SELECT doc_id, text AS reviewText, lang AS category FROM documents"


def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2: schema-pinned PERMISSIVE scan of real NDJSON bytes (the
    documents table serialized one object per line with malformed and
    missing-field lines injected). The F4 filter drops the null rows
    the bad lines parse to — oracle parity against the parquet source
    proves exactly the injected lines were rejected."""
    from ..sources.readers import scan_json_documents

    df = scan_json_documents(spark, sf_dir)
    return df.filter(
        F.col("reviewText").isNotNull()
        & (F.col("reviewText") != "")
        & F.col("category").isNotNull()
        & (F.col("category") != "")
    )


SQL_SCAN_JSON = (
    "SELECT doc_id, text AS reviewText, lang AS category FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''"
)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (JSON-in-column flavour): parse events.props with a real JSON
    path, not string hacks (reference parses whole-line JSON,
    chi_square.py:31)."""
    ev = scan_parquet(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


SQL_JSON_EXTRACT = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events"
)


def q_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 with ordinality: posexplode keeps each term's position in
    the document — the building block for phrase/ngram features."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), DELIM_REGEX)).alias(
            "pos", "term"
        ),
    ).filter(F.col("term") != "")


SQL_TOKENIZE_POSITIONS = (
    "WITH docs AS (SELECT doc_id, "
    f"regexp_split_to_array(lower(text), '{SQL_DELIM}') AS arr FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> '') "
    "SELECT doc_id, CAST(r.i - 1 AS INTEGER) AS pos, arr[CAST(r.i AS INTEGER)] AS term "
    "FROM docs, UNNEST(range(1, len(arr) + 1)) AS r(i) "
    "WHERE arr[CAST(r.i AS INTEGER)] <> ''"
)


def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: first number in the text + digit count."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_extract("text", "([0-9]+)", 1).alias("first_num"),
        F.regexp_count("text", F.lit("[0-9]")).cast("long").alias("n_digits"),
    )


SQL_REGEXP_EXTRACT = (
    "SELECT doc_id, "
    "coalesce(regexp_extract(lower(text), '([0-9]+)', 1), '') AS first_num, "
    "CAST(len(regexp_extract_all(lower(text), '[0-9]')) AS BIGINT) AS n_digits "
    "FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''"
)


def q_nonempty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: doc ids surviving the null/empty text+category filter."""
    return _docs(spark, sf_dir).select("doc_id", "category")


SQL_NONEMPTY_FILTER = "WITH " + ", ".join(
    [
        "docs AS (SELECT doc_id, lang AS category FROM documents "
        "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> '')"
    ]
) + " SELECT doc_id, category FROM docs"


def q_casefold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: casefold-first semantics (run_chi:66, quirk Q1)."""
    return _docs(spark, sf_dir).select("doc_id", F.col("text").alias("text_lc"))


SQL_CASEFOLD = (
    "SELECT doc_id, lower(text) AS text_lc FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''"
)


def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: delimiter-class split; term frequencies with multiplicity."""
    return _raw_terms(spark, sf_dir).groupBy("term").agg(
        F.count("*").alias("tf")
    )


SQL_TOKENIZE = (
    "WITH "
    + "docs AS (SELECT doc_id, lang AS category, lower(text) AS text FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''), "
    + _RAW_TERMS_CTE
    + " SELECT term, CAST(count(*) AS BIGINT) AS tf FROM raw GROUP BY term"
)


def q_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 via array_except (set-minus form, chi_square.py:37)."""
    return (
        _raw_terms(spark, sf_dir)
        .filter(~F.col("term").isin(*STOPWORDS))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )


SQL_STOPWORD_FILTER = (
    "WITH "
    + "docs AS (SELECT doc_id, lang AS category, lower(text) AS text FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''), "
    + _RAW_TERMS_CTE
    + f" SELECT term, CAST(count(*) AS BIGINT) AS tf FROM raw WHERE term NOT IN ({SQL_STOPWORDS}) GROUP BY term"
)


def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: 1 < len(term) < 50 (run_chi:67, quirk Q3)."""
    return (
        _raw_terms(spark, sf_dir)
        .filter(
            (F.length("term") >= MIN_TOKEN_LEN)
            & (F.length("term") <= MAX_TOKEN_LEN)
        )
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )


SQL_LENGTH_FILTER = (
    "WITH "
    + "docs AS (SELECT doc_id, lang AS category, lower(text) AS text FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''), "
    + _RAW_TERMS_CTE
    + f" SELECT term, CAST(count(*) AS BIGINT) AS tf FROM raw "
    f"WHERE length(term) >= {MIN_TOKEN_LEN} AND length(term) <= {MAX_TOKEN_LEN} GROUP BY term"
)


def q_dedup_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: per-document distinct → document frequency (chi_square.py:37)."""
    return _toks(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_terms")
    )


SQL_DEDUP_TERMS = with_text_ctes() + (
    " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_terms "
    "FROM toks GROUP BY doc_id"
)


def q_anti_join_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: stopword removal as an explicit broadcast left-anti join —
    the alternative physical form of F2."""
    spark_stop = literal_relation(
        spark, [(s,) for s in STOPWORDS], "term string"
    )
    return (
        _raw_terms(spark, sf_dir)
        .join(F.broadcast(spark_stop), "term", "left_anti")
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )


# --- A: aggregations -------------------------------------------------------

def q_count_term_cat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: df_tc."""
    return term_cat_counts(_toks(spark, sf_dir))


SQL_COUNT_TERM_CAT = with_text_ctes() + (
    " SELECT term, category, CAST(count(*) AS BIGINT) AS df_tc "
    "FROM toks GROUP BY term, category"
)


def q_count_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: df_t (re-aggregated from A1, chi_square.py:61)."""
    return term_counts(term_cat_counts(_toks(spark, sf_dir)))


SQL_COUNT_TERM = with_text_ctes() + (
    " SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM toks GROUP BY term"
)


def q_count_cat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: df_c."""
    return cat_counts(_docs(spark, sf_dir))


SQL_COUNT_CAT = (
    "SELECT lang AS category, CAST(count(*) AS BIGINT) AS df_c FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> '' "
    "GROUP BY lang"
)


def q_count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: N."""
    return total_count(_docs(spark, sf_dir))


SQL_COUNT_TOTAL = (
    "SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> ''"
)


# --- J: joins --------------------------------------------------------------

def q_join_term_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: df_tc enriched with df_t — here as the window-sum rewrite
    (reuses the A1 shuffle; SURVEY.md §2.5 J1)."""
    df_tc = term_cat_counts(_toks(spark, sf_dir))
    return df_tc.withColumn(
        "df_t", F.sum("df_tc").over(Window.partitionBy("term"))
    )


SQL_JOIN_TERM_TOTALS = with_text_ctes(COUNTS_CTES.split(", df_c")[0]) + (
    " SELECT tc.term, tc.category, tc.df_tc, t.df_t "
    "FROM df_tc tc JOIN df_t t USING (term)"
)


def q_join_cat_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast hash join against the tiny category dimension."""
    df_tc = term_cat_counts(_toks(spark, sf_dir))
    return df_tc.join(F.broadcast(cat_counts(_docs(spark, sf_dir))), "category").select(
        "term", "category", "df_tc", "df_c"
    )


SQL_JOIN_CAT_TOTALS = with_text_ctes(COUNTS_CTES) + (
    " SELECT tc.term, tc.category, tc.df_tc, c.df_c "
    "FROM df_tc tc JOIN df_c c USING (category)"
)


# --- chi² / top-k / report -------------------------------------------------

def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X5: full (category, term, chi2) relation."""
    return chi_square_relation(_toks(spark, sf_dir), _docs(spark, sf_dir))


SQL_CHI_SQUARE = with_text_ctes(CHI2_CTES) + (
    " SELECT category, term, chi2 FROM chi"
)


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: top-75 per category, total order (chi2 DESC, term ASC)."""
    docs = scan_parquet(spark, sf_dir, "documents")
    return chi_square_top_terms(reviews_from_documents(docs), STOPWORDS, TOP_K)


SQL_TOPK_PER_GROUP = with_text_ctes(TOPK_CTES) + (
    f" SELECT category, term, chi2, rank FROM ranked WHERE rank <= {TOP_K}"
)


def q_format_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/T2: the reference's per-category report lines."""
    return format_report(q_topk_per_group(spark, sf_dir))


SQL_FORMAT_REPORT = with_text_ctes(TOPK_CTES) + (
    f" SELECT concat(category, ' ', string_agg(printf('%s:%.4f', term, chi2), ' ' ORDER BY rank)) AS line "
    f"FROM ranked WHERE rank <= {TOP_K} GROUP BY category ORDER BY category"
)


def q_merged_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/T3: merged dictionary line (chi_square.py:99-103)."""
    return merged_dict(q_topk_per_group(spark, sf_dir))


SQL_MERGED_DICT = with_text_ctes(TOPK_CTES) + (
    f" SELECT string_agg(DISTINCT term, ' ' ORDER BY term) AS line "
    f"FROM ranked WHERE rank <= {TOP_K}"
)


def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 end to end: write the report with the value-only text sink,
    read the files back, return the lines — oracle parity proves the
    sink preserves content byte-for-byte. The sink overwrites one
    directory per SF, so a frame returned by an earlier call reads
    files the next call replaces."""
    from pathlib import Path

    from ..sources.fixtures import _CACHE
    from ..sources.sinks import write_text

    out = str(_CACHE / f"sink_report_{Path(sf_dir).name}")
    write_text(q_format_report(spark, sf_dir), out)
    return spark.read.text(out).select(F.col("value").alias("line"))


# =========================================================================
# Count-Min sketch heavy hitters
# =========================================================================

# d x w Count-Min sketch over term document frequencies. Each of the d
# rows hashes the term with its OWN 32-bit slice of one md5 (hex chars
# [8d+1, 8d+8]) — genuinely independent hash functions, so min-over-rows
# actually cancels collisions. Round 1 derived all rows from one 32-bit
# hash via (a_d*h + b_d) % P % w, but a_d*h + b_d < 2^52 < P made the
# mod-P a no-op and bucket_d a function of h mod w alone: two terms
# collided in one row iff they collided in ALL rows, degenerating the
# d x w sketch to a single w-bucket row (tests/test_extensions.py pins
# the fix). w = 512 divides 2^32, so slice % w is exactly uniform.
_CMS_D = 3
_CMS_W = 512
_CMS_TOPK = 20


def countmin_estimates(
    tf: DataFrame,
    depth: int = _CMS_D,
    width: int = _CMS_W,
    topk: int = _CMS_TOPK,
) -> DataFrame:
    """Core CMS pass over a (term, df_exact) relation: build the
    depth x width sketch, then report (term, df_exact, df_est) for the
    exact top-k terms, df_est = min over the depth rows (factored out
    so tests can run it on planted-collision fixtures)."""
    hashed = tf.select(
        "term",
        "df_exact",
        *[
            (
                F.conv(
                    F.substring(F.md5(F.col("term")), 1 + 8 * r, 8), 16, 10
                ).cast("long")
                % F.lit(width)
            ).alias(f"b{r}")
            for r in range(depth)
        ],
    )
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"), F.col(f"b{r}").alias("bkt")
                )
                for r in range(depth)
            ]
        )
    ).alias("e")
    cms = (
        hashed.select(cells, "df_exact")
        .select("e.r", "e.bkt", "df_exact")
        .groupBy("r", "bkt")
        .agg(F.sum("df_exact").alias("cnt"))
    )
    top = hashed.orderBy(
        F.col("df_exact").desc(), F.col("term").asc()
    ).limit(topk)
    return (
        top.select("term", "df_exact", cells)
        .select("term", "df_exact", "e.r", "e.bkt")
        .join(F.broadcast(cms), ["r", "bkt"])
        .groupBy("term", "df_exact")
        .agg(F.min("cnt").alias("df_est"))
        .select("term", "df_exact", "df_est")
    )


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: estimate the document frequency
    of the exact top-20 terms from a d=3 x w=512 integer sketch, exact
    df alongside so the overcount bias is visible. The sketch is the
    streaming/mergeable frequency primitive (per-partition sketches
    merge by cell-wise +) that replaces a full term->count table at
    100 TB; CMS guarantees df_est >= df_exact. md5-slice hashes give
    exact oracle parity. Mirrors the reference's A2 term-count surface
    (run_chi:98-105) as a bounded-memory sketch."""
    tf = (
        _toks(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df_exact"))
    )
    return countmin_estimates(tf)


SQL_SKETCH_COUNTMIN = with_text_ctes(
    "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS df_exact "
    "FROM toks GROUP BY term), "
    "hb AS (SELECT term, df_exact, "
    + ", ".join(
        f"{sql_md5_hash32('term', offset=1 + 8 * d)} % {_CMS_W} AS b{d}"
        for d in range(_CMS_D)
    )
    + " FROM tf), "
    "cells AS ("
    + " UNION ALL ".join(
        f"SELECT {d} AS r, b{d} AS bkt, df_exact FROM hb"
        for d in range(_CMS_D)
    )
    + "), "
    "cms AS (SELECT r, bkt, CAST(sum(df_exact) AS BIGINT) AS cnt "
    "FROM cells GROUP BY r, bkt), "
    f"top AS (SELECT * FROM hb ORDER BY df_exact DESC, term ASC LIMIT {_CMS_TOPK}), "
    "te AS ("
    + " UNION ALL ".join(
        f"SELECT term, df_exact, {d} AS r, b{d} AS bkt FROM top"
        for d in range(_CMS_D)
    )
    + ")"
) + (
    " SELECT te.term, te.df_exact, CAST(min(c.cnt) AS BIGINT) AS df_est "
    "FROM te JOIN cms c ON c.r = te.r AND c.bkt = te.bkt "
    "GROUP BY te.term, te.df_exact"
)


def q_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (schema-pinned flavour): from_json with an explicit struct
    schema — the scalable form when the JSON shape is known (parsed
    once into typed columns; get_json_object re-parses per path).
    Corrupt/absent fields become typed nulls, the same tolerant
    semantics as the PERMISSIVE line scan."""
    from pyspark.sql import functions as F

    ev = scan_parquet(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k BIGINT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.col("p").isNotNull().alias("parsed_ok"),
    )


SQL_JSON_SCHEMA_PARSE = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, "
    "json_valid(props) AS parsed_ok FROM events"
)


def q_map_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column round trip: build a map from entry arrays,
    transform values, explode back to rows (maps returned as columns
    don't hash portably across engines, so the comparable surface is
    the exploded relation). All map_* built-ins, map-side only."""
    from pyspark.sql import functions as F

    ev = scan_parquet(spark, sf_dir, "events").filter(
        F.col("event_id") < 200
    )
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("type").alias("key"), F.col("event_type").alias("value")),
            F.struct(
                F.lit("user").alias("key"),
                F.col("user_id").cast("string").alias("value"),
            ),
        )
    )
    with_m = ev.select(
        "event_id",
        F.map_filter(m, lambda k, v: v.isNotNull()).alias("m"),
    )
    return with_m.select(
        "event_id", F.explode(F.col("m")).alias("key", "val")
    )


SQL_MAP_SCALARS = """
SELECT event_id, u.key, u.val FROM (
  SELECT event_id, unnest([
      struct_pack(key := 'type', val := event_type),
      struct_pack(key := 'user', val := CAST(user_id AS VARCHAR))
    ]) AS u
  FROM events WHERE event_id < 200) t
WHERE u.val IS NOT NULL
"""


TEXT_QUERIES = {
    "json_schema_parse": (q_json_schema_parse, SQL_JSON_SCHEMA_PARSE),
    "map_scalars": (q_map_scalars, SQL_MAP_SCALARS),
    "project": (q_project, SQL_PROJECT),
    "scan_json": (q_scan_json, SQL_SCAN_JSON),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "nonempty_filter": (q_nonempty_filter, SQL_NONEMPTY_FILTER),
    "casefold": (q_casefold, SQL_CASEFOLD),
    "tokenize": (q_tokenize, SQL_TOKENIZE),
    "tokenize_positions": (q_tokenize_positions, SQL_TOKENIZE_POSITIONS),
    "regexp_extract": (q_regexp_extract, SQL_REGEXP_EXTRACT),
    "stopword_filter": (q_stopword_filter, SQL_STOPWORD_FILTER),
    "length_filter": (q_length_filter, SQL_LENGTH_FILTER),
    "dedup_terms": (q_dedup_terms, SQL_DEDUP_TERMS),
    "anti_join_stopwords": (q_anti_join_stopwords, SQL_STOPWORD_FILTER),
    "count_term_cat": (q_count_term_cat, SQL_COUNT_TERM_CAT),
    "count_term": (q_count_term, SQL_COUNT_TERM),
    "count_cat": (q_count_cat, SQL_COUNT_CAT),
    "count_total": (q_count_total, SQL_COUNT_TOTAL),
    "join_term_totals": (q_join_term_totals, SQL_JOIN_TERM_TOTALS),
    "join_cat_totals": (q_join_cat_totals, SQL_JOIN_CAT_TOTALS),
    "chi_square": (q_chi_square, SQL_CHI_SQUARE),
    "topk_per_group": (q_topk_per_group, SQL_TOPK_PER_GROUP),
    "format_report": (q_format_report, SQL_FORMAT_REPORT),
    "sink_roundtrip": (q_sink_roundtrip, SQL_FORMAT_REPORT),
    "merged_dict": (q_merged_dict, SQL_MERGED_DICT),
    "sketch_countmin": (q_sketch_countmin, SQL_SKETCH_COUNTMIN),
}
