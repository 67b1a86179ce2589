"""Contingency-table aggregations + joins (SURVEY.md §2.4 A1-A4, §2.5 J1-J3).

The reference simulates these joins by funnelling every count through
ONE reducer (chi_square.py:46-62 — quirk Q5, the single-node memory
ceiling) or by fragile metadata re-keying (run_chi:95-131). Here each
count is a distributed hash aggregate with automatic map-side partial
aggregation, and the "joins" are:

- df_t  (J1): a window sum over the term partition. Its exchange,
  hashpartitioning(term), is separate from the groupBy(term, category)
  one, but it ships the aggregated (term, category) counts, not the
  tokens.
- df_c  (J2): broadcast hash join (category cardinality is tiny).
- N     (J3): broadcast cross join with a 1-row aggregate.

Two shuffles on the token lineage (the counts and the term window),
plus the df_c aggregate that N reuses; scales linearly in tokens with
no single-partition funnel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import chi2_expr


def term_cat_counts(tokens: DataFrame) -> DataFrame:
    """A1: df_tc — docs per (term, category). Input tokens are already
    distinct per doc (X3), so count(*) is a document frequency
    (chi_square.py:40-41,61-62)."""
    return tokens.groupBy("term", "category").agg(F.count("*").alias("df_tc"))


def term_counts(term_cat: DataFrame) -> DataFrame:
    """A2: df_t — re-aggregate A1 rather than re-scan tokens
    (chi_square.py:61: term totals are summed from pair counts)."""
    return term_cat.groupBy("term").agg(F.sum("df_tc").alias("df_t"))


def cat_counts(docs: DataFrame, cat_col: str = "category") -> DataFrame:
    """A3: df_c — docs per category (chi_square.py:44)."""
    return docs.groupBy(F.col(cat_col).alias("category")).agg(
        F.count("*").alias("df_c")
    )


def total_count(docs: DataFrame) -> DataFrame:
    """A4: N as a 1-row DataFrame (kept lazy; broadcast-cross-joined
    instead of collected, so the plan is one job)."""
    return docs.agg(F.count("*").alias("n_docs"))


def chi_square_from_counts(
    df_tc: DataFrame, df_c: DataFrame, n_docs_df: DataFrame
) -> DataFrame:
    """X4/X5 from pre-aggregated counts — df_tc(term, category, df_tc),
    df_c(category, df_c), n_docs_df one row (n_docs). Used both by the
    one-shot batch plan and by the incremental streaming plan (where
    the inputs are merged per-batch partials).

    J1 is a window sum over term (one exchange of the aggregated
    counts), J2/J3 are broadcasts — no single-partition funnel
    anywhere.
    """
    df_tc = df_tc.withColumn(
        "df_t", F.sum("df_tc").over(Window.partitionBy("term"))
    )
    enriched = df_tc.join(F.broadcast(df_c), "category").join(
        F.broadcast(n_docs_df)
    )
    a = F.col("df_tc")
    b = F.col("df_t") - a
    c = F.col("df_c") - a
    d = F.col("n_docs") - a - b - c
    return enriched.select(
        "category",
        "term",
        chi2_expr(a, b, c, d, F.col("n_docs")).alias("chi2"),
    )


def cat_and_total_counts(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A3+A4 fused on ONE corpus pass: df_c is the per-category hash
    aggregate, and N derives from df_c ITSELF — a sum over the tiny
    category relation — not from a second corpus aggregate. The N
    branch replans the identical scan→partial-agg→exchange subtree,
    so AQE stage reuse serves both consumers from one physical
    exchange (the corpus — including the wide text column its
    nonempty filter reads — is scanned once; plan-asserted in
    tests/test_plans.py).

    This replaced the round 1-3 rollup("category") + grouping()
    discriminator: its two filtered consumers planned an Expand and
    TWO full corpus branches that did not canonicalize to one stage
    (the round-4 PLANS.md audit showed three parquet scans of
    documents in the flagship). Deriving N downstream makes the
    sharing structural instead of hoping the optimizer dedupes.

    NULL categories stay correct with no discriminator at all: a NULL
    key forms its own df_c group and is included in the sum; the
    coalesce keeps N = 0 (one row) on an empty corpus."""
    df_c = docs.groupBy("category").agg(F.count("*").alias("df_c"))
    n_docs_df = df_c.agg(
        F.coalesce(F.sum("df_c"), F.lit(0).cast("long")).alias("n_docs")
    )
    return df_c, n_docs_df


def chi_square_relation(tokens: DataFrame, docs: DataFrame) -> DataFrame:
    """A1+J1+J2+J3+X4/X5 → (category, term, chi2).

    `docs` must be the same filtered document set `tokens` came from
    (one row per doc, with a `category` column).
    """
    df_c, n_docs_df = cat_and_total_counts(docs)
    return chi_square_from_counts(term_cat_counts(tokens), df_c, n_docs_df)


def g2_from_counts(
    df_tc: DataFrame, df_c: DataFrame, n_docs_df: DataFrame
) -> DataFrame:
    """(category, term, g2) — Dunning's log-likelihood ratio from the
    SAME pre-aggregated counts chi_square_from_counts consumes (one
    window sum over term + two broadcasts; identical shuffle budget,
    different statistic). The G² score stays
    calibrated at small expected counts where Pearson χ² overshoots —
    the standard alternative feature-selection statistic."""
    from ..functions.stats import g2_expr

    df_tc = df_tc.withColumn(
        "df_t", F.sum("df_tc").over(Window.partitionBy("term"))
    )
    enriched = df_tc.join(F.broadcast(df_c), "category").join(
        F.broadcast(n_docs_df)
    )
    a = F.col("df_tc")
    b = F.col("df_t") - a
    c = F.col("df_c") - a
    d = F.col("n_docs") - a - b - c
    return enriched.select(
        "category",
        "term",
        g2_expr(a, b, c, d, F.col("n_docs")).alias("g2"),
    )


def g2_relation(tokens: DataFrame, docs: DataFrame) -> DataFrame:
    """chi_square_relation's twin for the G² statistic."""
    df_c, n_docs_df = cat_and_total_counts(docs)
    return g2_from_counts(term_cat_counts(tokens), df_c, n_docs_df)
