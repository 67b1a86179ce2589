"""Canonical constants for the engine.

Semantics are pinned to the reference's majority/most-correct variant
(SURVEY.md §2.10 quirks Q1-Q3):

- tokenizer delimiter class: the `run_chi` superset regex
  (reference run_chi:55-57, chi_square.py:36, multi_jobs_hdfs.py:74),
  expressed once, selecting the same characters in Java regex (Spark),
  RE2 (DuckDB) and Python `re`.
- casefold FIRST, then stopword filter, then length filter, then
  per-document distinct (run_chi:66-68, multi_jobs_hdfs.py:74-78).
- token length bounds: 1 < len(term) < 50 (run_chi:67).
- top-k per category: k = 75 (chi_square.py:89, run_chi:158-159).
- tie-break: (chi2 DESC, term ASC) — our deterministic addition (Q6).
"""

from __future__ import annotations

# Delimiter character class: 46 code points, each spelled out, so Java
# (Spark `split`), RE2 (DuckDB `regexp_split_to_array`) and Python `re`
# select the same set. `\s`/`\d` would not: RE2's `\s` lacks U+000B and
# Python's are Unicode-aware (719 code points). Java compiles the class
# to one bitmap plus `€`.
#   space \t \n \v \f \r, digits, ()[]{} .!?,;:+=/_ quotes backtick
#   ~#@&*% €$§ backslash -
DELIM_REGEX = "[ \\t\\n\\x0B\\f\\r0123456789()\\[\\]{}.!?,;:+=/_\"'`~#@&*%€$§\\\\-]+"

MIN_TOKEN_LEN = 2  # keep len(t) > 1
MAX_TOKEN_LEN = 49  # keep len(t) < 50
TOP_K = 75

# Default stopword list (reference ships stopwords as a runtime side
# file, chi_square.py:21-28; we bake a canonical English list so the
# engine and the DuckDB oracle agree byte-for-byte).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with",
)

# Driver table names (TESTDATA.md / FIXTURES.md fixture D).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"
