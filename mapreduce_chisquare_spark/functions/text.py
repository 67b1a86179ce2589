"""Text scalar functions (SURVEY.md §2.2-2.3: F1-F4, X1-X3).

All pure Catalyst column expressions — no Python UDFs — and no lambda
higher-order functions (`filter`, `transform`, …) on the token path:
a lambda is a `CodegenFallback` expression, and one inside the
exploded array drops the whole `Generate` out of whole-stage codegen.
The token filters therefore run as one `Filter` on the exploded term,
so scan, `Generate`, token filter and the consumer's partial aggregate
compile to one generated stage.

Canonical semantics (quirk Q1, SURVEY.md §2.10): lowercase → tokenize →
drop empties → stopword filter → length filter → per-doc distinct.
This is the run_chi:66-68 / multi_jobs_hdfs.py:74-78 semantics (true
document frequency), not the single-job variant's dedup-before-casefold
bug (chi_square.py:37-38). `tokens_relation` dedups each document's
casefolded terms before the explode and filters after it; the filters
look at one term at a time, so the kept multiset is the same.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import DELIM_REGEX, MAX_TOKEN_LEN, MIN_TOKEN_LEN


def nonempty_documents(df: DataFrame, text_col: str = "text", cat_col: str = "category") -> DataFrame:
    """F4: skip records with null/empty text or category
    (multi_jobs_hdfs.py:70-71, run_chi:64-65)."""
    return df.filter(
        F.col(text_col).isNotNull()
        & (F.col(text_col) != "")
        & F.col(cat_col).isNotNull()
        & (F.col(cat_col) != "")
    )


def _terms(
    docs: DataFrame,
    stopwords: Sequence[str],
    id_col: str,
    text_col: str,
    cat_col: str,
    *,
    per_doc_distinct: bool,
) -> DataFrame:
    """The one token path. X1+X2 (casefold, split) build the array,
    X3 (per-doc distinct) dedups it, and after the explode one Filter
    applies F3+F2: the reference's 1 < len < 50 bound (run_chi:67,
    quirks Q2/Q3; it also drops the empty strings a leading delimiter
    leaves) and the stopword set-minus (chi_square.py:37), whose IN
    list Catalyst turns into an `InSet` built once per plan."""
    toks = F.split(F.lower(F.col(text_col)), DELIM_REGEX)
    if per_doc_distinct:
        toks = F.array_distinct(toks)
    term = F.col("term")
    keep = F.length(term).between(MIN_TOKEN_LEN, MAX_TOKEN_LEN)
    if stopwords:
        keep = keep & ~term.isin(*stopwords)
    return (
        nonempty_documents(docs, text_col, cat_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(cat_col).alias("category"),
            F.explode(toks).alias("term"),
        )
        .filter(keep)
    )


def terms_with_multiplicity(
    docs: DataFrame,
    stopwords: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    cat_col: str = "category",
) -> DataFrame:
    """X1+X2+F2+F3 WITHOUT the per-doc distinct (X3): the term stream
    with multiplicity, for tf-style scores (TF-IDF) where in-document
    counts matter. Same canonical filter order otherwise."""
    return _terms(docs, stopwords, id_col, text_col, cat_col, per_doc_distinct=False)


def tokens_relation(
    docs: DataFrame,
    stopwords: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    cat_col: str = "category",
) -> DataFrame:
    """Exploded tokens(doc_id, category, term) — the engine's canonical
    post-tokenization relation (SURVEY.md §1.2).

    Round-15 measurement note: a spread_for_kernel parallelism floor
    was TRIED here and reverted — tokenize+explode over the 5k-doc
    fixture costs ~0.2 s single-core, less than the added exchange +
    stage overhead, and spreading the map side multiplies the
    partial-aggregate rows every token consumer ships (32 partial
    vocabularies instead of 1). The floor stays only on paths whose
    per-row kernel cost dominates (media synth/decode, k-hash
    MinHash)."""
    return _terms(docs, stopwords, id_col, text_col, cat_col, per_doc_distinct=True)
