"""Flagship plan: the reference's entire program as one DataFrame
pipeline (SURVEY.md §2.9).

Reference lifecycles replaced (SURVEY.md §3): single-step mrjob with
its everything-to-one-reducer combiner (chi_square.py:46-47), the
4-round MR chain (run_chi:192-213), and the sequential dict pipeline
(multi_jobs_hdfs.py:185-215) all collapse into one Catalyst plan. Its
token lineage shuffles three times: groupBy(term, category), the term
partition of the df_t window sum, and the category partition of the
top-k window; the category counts add one more aggregate of the
documents, shared with N through exchange reuse
(tests/test_plans.py::test_flagship_shuffle_budget). Stopwords and the
category/total counts travel as broadcasts, not through a single
reducer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..constants import STOPWORDS, TOP_K
from ..functions.text import nonempty_documents, tokens_relation
from ..operators.contingency import chi_square_relation
from ..operators.report import full_report
from ..operators.topk import topk_per_group


def chi_square_top_terms(
    reviews: DataFrame,
    stopwords: Sequence[str] = STOPWORDS,
    k: int = TOP_K,
) -> DataFrame:
    """(category, term, chi2, rank): top-k discriminative terms per
    category by χ² over document frequencies.

    `reviews` needs columns (doc_id, reviewText, category) — the
    reference's native field names (chi_square.py:32-33); use
    sources.readers.reviews_from_documents for the driver tables.
    """
    reviews = reviews.selectExpr("doc_id", "reviewText AS text", "category")
    docs = nonempty_documents(reviews)
    tokens = tokens_relation(docs, stopwords)
    chi2 = chi_square_relation(tokens, docs)
    return topk_per_group(chi2, "category", "chi2", "term", k)


def chi_square_report(
    reviews: DataFrame,
    stopwords: Sequence[str] = STOPWORDS,
    k: int = TOP_K,
) -> DataFrame:
    """The reference's exact sink payload: per-category report lines +
    merged-dictionary line (chi_square.py:94-103)."""
    return full_report(chi_square_top_terms(reviews, stopwords, k))
