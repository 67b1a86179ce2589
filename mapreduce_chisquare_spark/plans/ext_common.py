"""Shared table loaders + imports for the ext_* registry part modules.

Split from registry_extensions.py (round 12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DELIM_REGEX, MAX_TOKEN_LEN, MIN_TOKEN_LEN, STOPWORDS
from ..operators import curation as cu
from ..operators import dedup as dd
from ..operators import simsearch as ss
from ..operators import textstats as tx
from ..operators.asof import asof_from_tagged, asof_join
from ..operators.multimodal import (
    binarize_documents,
    decode_documents,
    sample_frames,
)
from ..sources.readers import scan_parquet
from .oracle_common import CHI2_CTES, SQL_DELIM, SQL_STOPWORDS, with_text_ctes


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, sf_dir, "documents")


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_relation

    d = _docs(spark, sf_dir).selectExpr("doc_id", "text", "lang AS category")
    return tokens_relation(d, STOPWORDS)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-15 measurement note: a blanket spread_for_kernel floor
    # here was TRIED and reverted — the 2000-row embeddings table's
    # per-query vector math is tens of ms, below the exchange+probe
    # overhead, and the shared feeder charged that overhead to ~20
    # queries. The floor lives inside the genuinely CPU-bound
    # consumers instead (kmeans fit / semantic_dedup /
    # embed_power_iteration).
    return scan_parquet(spark, sf_dir, "embeddings")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, sf_dir, "events")

