"""The flagship tokenizer against plain Python.

`DELIM_REGEX` must select the same characters in Spark (Java regex),
the DuckDB twins (RE2) and the Python reference models, and the token
relations must keep the canonical semantics: casefold → split →
stopword and length filter → per-document distinct.
"""

from __future__ import annotations

import re
from collections import Counter

import duckdb
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.constants import (
    DELIM_REGEX,
    MAX_TOKEN_LEN,
    MIN_TOKEN_LEN,
    STOPWORDS,
)
from mapreduce_chisquare_spark.functions.text import (
    terms_with_multiplicity,
    tokens_relation,
)
from mapreduce_chisquare_spark.plans.oracle_common import SQL_DELIM

# The 46 delimiters, one by one: whitespace as Java's `\s` has it
# (with U+000B, without NBSP), ASCII digits, punctuation, €$§.
DELIMS = frozenset(" \t\n\x0b\f\r0123456789()[]{}.!?,;:+=/_\"'`~#@&*%€$§\\-")
SURROGATES = range(0xD800, 0xE000)
N_CODE_POINTS = 0x110000


def test_delimiter_class_is_the_same_in_spark_duckdb_and_python(spark):
    # Each code point as a one-character string; UTF-32 with a leading
    # BOM so that U+FEFF itself is not read as one.
    chars = spark.range(N_CODE_POINTS).where(
        f"id < {SURROGATES.start} OR id >= {SURROGATES.stop}"
    ).select(
        "id",
        F.expr(
            "decode(unhex(concat('0000FEFF', lpad(hex(id), 8, '0'))), 'UTF-32')"
        ).alias("ch"),
    )
    assert chars.where("char_length(ch) != 1").count() == 0
    java = {
        r.id for r in chars.where(F.col("ch").rlike(DELIM_REGEX)).select("id").collect()
    }
    re2 = {
        r[0]
        for r in duckdb.sql(
            "SELECT i FROM (SELECT range FROM range({s}) UNION ALL "
            "SELECT range FROM range({e}, {n})) t(i) "
            "WHERE regexp_matches(chr(i::INTEGER), '{d}')".format(
                s=SURROGATES.start, e=SURROGATES.stop, n=N_CODE_POINTS, d=SQL_DELIM
            )
        ).fetchall()
    }
    python = {
        c
        for c in range(N_CODE_POINTS)
        if c not in SURROGATES and re.search(DELIM_REGEX, chr(c))
    }
    assert java == re2 == python == {ord(c) for c in DELIMS}


def _split(text: str) -> list[str]:
    terms, cur = [], []
    for ch in text:
        if ch in DELIMS:
            terms.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    terms.append("".join(cur))
    return terms


def _reference_terms(text: str) -> list[str]:
    return [
        t
        for t in _split(text.lower())
        if t not in STOPWORDS and MIN_TOKEN_LEN <= len(t) <= MAX_TOKEN_LEN
    ]


DOCS = [
    (1, "Apple apple APPLE\x0bbanana\x0bBanana", "X"),
    (2, "caf\u00a0noir x ab \u00a0ab", "X"),
    (3, "price€10§rent $5 to THE moon", "Y"),
    (4, "a" * 49 + " " + "b" * 50 + " q zz", "Y"),
    (5, "  (lead) Hello, hello! 42nd--street\\back", "X"),
    (6, "The And IS it", "Y"),
    (7, "", "Y"),
    (8, "orphan", ""),
    (9, None, "X"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, category string")


def _expected(distinct: bool) -> Counter:
    out = Counter()
    for doc_id, text, cat in DOCS:
        if not text or not cat:
            continue
        terms = _reference_terms(text)
        for t in dict.fromkeys(terms) if distinct else terms:
            out[(doc_id, cat, t)] += 1
    return out


def _got(df) -> Counter:
    return Counter((r.doc_id, r.category, r.term) for r in df.collect())


def test_tokens_relation_matches_reference(spark):
    expected = _expected(distinct=True)
    assert (4, "Y", "a" * 49) in expected
    assert (4, "Y", "b" * 50) not in expected
    assert (2, "X", "caf\u00a0noir") in expected
    assert (2, "X", "\u00a0ab") in expected
    assert {k[2] for k in expected if k[0] == 3} == {"price", "rent", "moon"}
    assert _got(tokens_relation(_docs(spark), STOPWORDS)) == expected


def test_terms_with_multiplicity_matches_reference(spark):
    expected = _expected(distinct=False)
    assert expected[(1, "X", "apple")] == 3
    assert _got(terms_with_multiplicity(_docs(spark), STOPWORDS)) == expected
