"""Shared DuckDB-oracle SQL fragments.

Every oracle re-states the engine's canonical semantics (constants.py)
in ANSI SQL so the driver's side-by-side compare is meaningful. The
tokenizer regex is valid in both Java regex (Spark) and RE2 (DuckDB);
equality of the tokenized relation is asserted in tests.

Cross-engine hash-stability rules applied throughout the registries:
- cast DuckDB aggregates to the Spark result type (sum(int)→HUGEINT in
  DuckDB, so always CAST(... AS BIGINT)); row_number → INTEGER.
- never compare raw double→string renderings; pin printf formats.
- double arithmetic written in the same left-to-right order on both
  sides so IEEE-754 results are bit-identical.
"""

from __future__ import annotations

from ..constants import DELIM_REGEX, MAX_TOKEN_LEN, MIN_TOKEN_LEN, STOPWORDS
from ..operators import imagehash as ih
from ..operators.multimodal import PERTURB_SAMPLE_C, PERTURB_SAMPLE_R

SQL_DELIM = DELIM_REGEX.replace("'", "''")
SQL_STOPWORDS = ", ".join("'" + s + "'" for s in STOPWORDS)

# F4-filtered documents mapped through the fixture-A rename
# (documents.text → reviewText-equivalent, lang → category).
DOCS_CTE = (
    "docs AS (SELECT doc_id, lang AS category, lower(text) AS text "
    "FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND lang IS NOT NULL AND lang <> '')"
)

# Canonical tokens relation: casefold → split → stopword filter →
# length bounds → per-doc distinct (quirks Q1-Q3).
TOKS_CTE = (
    "toks AS (SELECT DISTINCT docs.doc_id, docs.category, u.term "
    f"FROM docs, UNNEST(regexp_split_to_array(docs.text, '{SQL_DELIM}')) AS u(term) "
    f"WHERE length(u.term) >= {MIN_TOKEN_LEN} AND length(u.term) <= {MAX_TOKEN_LEN} "
    f"AND u.term NOT IN ({SQL_STOPWORDS}))"
)

# Contingency counts (SURVEY.md §2.4 A1-A4).
COUNTS_CTES = (
    "df_tc AS (SELECT term, category, CAST(count(*) AS BIGINT) AS df_tc FROM toks GROUP BY term, category), "
    "df_t AS (SELECT term, CAST(sum(df_tc) AS BIGINT) AS df_t FROM df_tc GROUP BY term), "
    "df_c AS (SELECT category, CAST(count(*) AS BIGINT) AS df_c FROM docs GROUP BY category), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs)"
)

# χ² relation; double casts/order mirror functions/stats.py exactly.
CHI2_CTES = (
    COUNTS_CTES + ", "
    "cells AS (SELECT tc.category, tc.term, tc.df_tc AS a, "
    "t.df_t - tc.df_tc AS b, c.df_c - tc.df_tc AS c, "
    "n.n_docs - tc.df_tc - (t.df_t - tc.df_tc) - (c.df_c - tc.df_tc) AS d, "
    "n.n_docs AS n_docs "
    "FROM df_tc tc JOIN df_t t USING (term) JOIN df_c c USING (category) CROSS JOIN n), "
    "chi AS (SELECT category, term, "
    "CASE WHEN CAST(a+b AS DOUBLE) * CAST(a+c AS DOUBLE) * CAST(b+d AS DOUBLE) * CAST(c+d AS DOUBLE) = 0.0 THEN 0.0 "
    "ELSE CAST(n_docs AS DOUBLE) "
    "* (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) "
    "* (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) "
    "/ (CAST(a+b AS DOUBLE) * CAST(a+c AS DOUBLE) * CAST(b+d AS DOUBLE) * CAST(c+d AS DOUBLE)) END AS chi2 "
    "FROM cells)"
)

TOPK_CTES = (
    CHI2_CTES + ", "
    "ranked AS (SELECT category, term, chi2, "
    "CAST(row_number() OVER (PARTITION BY category ORDER BY chi2 DESC, term ASC) AS INTEGER) AS rank "
    "FROM chi)"
)


def with_text_ctes(*extra: str) -> str:
    """WITH clause covering docs+toks plus any extra CTE strings."""
    return "WITH " + ", ".join([DOCS_CTE, TOKS_CTE, *extra])


def sql_md5_hash32(expr: str, offset: int = 1) -> str:
    """DuckDB twin of Spark `conv(substring(md5(expr), offset, 8), 16, 10)`:
    a uniform 32-bit integer from 8 hex chars of md5 starting at 1-based
    `offset` (DuckDB has no conv(); expand the hex digit sum). Distinct
    offsets give independent hash functions from one md5 — the md5 output
    bits are uncorrelated across slices."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({expr}), {offset + i}, 1)) - 1)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )
        + ")"
    )


# dHash twins (operators/imagehash.py): the sampled pixel grid, the
# 64-bit band lattice and the hex phash, stated in SQL. The media
# twins pass their own per-pixel gray formula; nothing here calls the
# Spark-side fixture encoders.


def sql_grid_px_cols(
    gray: str, id_col: str = "doc_id", perturb: str | None = None
) -> str:
    """px0..px71 of a decoded w x h grid: `gray` is the per-pixel gray
    expression, a template over {id} (id_col) and the sample position
    {pr}, {pc} on multimodal.gray_grid_samples' lattice
    (r*(h-1) // (GRID_R-1), c*(w-1) // GRID_C). Where the SQL
    condition `perturb` holds, sample (PERTURB_SAMPLE_R,
    PERTURB_SAMPLE_C) takes the clone corpora's far-away value:
    > 60 -> 1, else 120."""
    outs = []
    for i in range(ih.N_PIX):
        r, c = divmod(i, ih.GRID_C + 1)
        g = gray.format(
            id=id_col,
            pr=f"(({r} * (h - 1)) // {ih.GRID_R - 1})",
            pc=f"(({c} * (w - 1)) // {ih.GRID_C})",
        )
        if perturb and (r, c) == (PERTURB_SAMPLE_R, PERTURB_SAMPLE_C):
            g = (
                f"CASE WHEN {perturb} THEN "
                f"(CASE WHEN ({g}) > 60 THEN 1 ELSE 120 END) "
                f"ELSE ({g}) END"
            )
        outs.append(f"CAST({g} AS INTEGER) AS px{i}")
    return ", ".join(outs)


def sql_band_cols() -> str:
    """DuckDB twin of imagehash.band_exprs: identical bit lattice."""
    outs = []
    for j in range(ih.N_BANDS):
        terms = []
        for s in range(ih.BAND_BITS):
            b = j * ih.BAND_BITS + s
            r, c = divmod(b, ih.GRID_C)
            a_i = r * (ih.GRID_C + 1) + c
            terms.append(
                f"CASE WHEN px{a_i} < px{a_i + 1} THEN {1 << s} ELSE 0 END"
            )
        outs.append(
            "CAST(" + " + ".join(terms) + f" AS BIGINT) AS b{j}"
        )
    return ", ".join(outs)


def sql_phash_hex(indent: int = 7) -> str:
    """The 16-hex-digit phash of bands b0..b3, its second line
    indented by `indent` spaces."""
    return (
        "lpad(hex(b0), 4, '0') || lpad(hex(b1), 4, '0')\n"
        + " " * indent
        + "|| lpad(hex(b2), 4, '0') || lpad(hex(b3), 4, '0')"
    )
