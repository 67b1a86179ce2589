"""The benchmark's workloads: which operations a pass runs, on which
data, and the DuckDB result each operation must reproduce.

The engine is reached only through its public entry points: the query
registry, the source readers and the flagship χ² report.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import duckdb

import gen

# Per-family sample of registry queries whose time is mostly fixed
# per-query cost: Python build, Catalyst planning and job scheduling.
# graph_kcore stands for the iterative builders: it checkpoints every
# round, so its Spark jobs run inside the builder call.
QUERY_MIX = (
    "topk_per_group",
    "q3_shipping_priority",
    "window_session",
    "dedup_exact",
    "simsearch_topk",
    "sketch_countmin",
    "ts_changepoint",
    "tfidf",
    "zonemap_prune",
    "sink_partitioned",
    "graph_kcore",
)


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark configuration."""

    registry_sf: float  # base tables of query_mix
    corpus_sf: float  # documents base of chi2_corpus
    corpus_factor: int  # replicas of that base


FULL = Scale(registry_sf=0.01, corpus_sf=0.1, corpus_factor=5)
TINY = Scale(registry_sf=0.001, corpus_sf=0.001, corpus_factor=1)


@dataclass
class Op:
    name: str
    build: Callable  # spark -> DataFrame, the builder call itself
    expected: tuple[list[str], list[tuple]]  # (columns, rows) of the twin


@dataclass
class Workload:
    name: str
    data_dir: Path
    ops: list[Op]
    tables: tuple[str, ...]  # tables the workload reads


def _twin(con, sqls: list[str]) -> tuple[list[str], list[tuple]]:
    cols, rows = None, []
    for sql in sqls:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows += res.fetchall()
    return cols, rows


def _twins(d: Path, sqls: dict[str, list[str]]) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each operation's DuckDB result over directory ``d``. Results are
    kept beside the data, keyed by the SQL text, so later runs on the same
    inputs skip the DuckDB work and a changed twin is recomputed."""
    key = hashlib.sha1(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    cache = d / f"twins-{key}.pkl"
    if cache.exists():
        return pickle.loads(cache.read_bytes())  # written below by this module
    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d / t}.parquet')")
        out = {name: _twin(con, s) for name, s in sqls.items()}
    finally:
        con.close()
    tmp = cache.with_name(f"{cache.name}.tmp{os.getpid()}")
    tmp.write_bytes(pickle.dumps(out))
    os.replace(tmp, cache)
    return out


def build(name: str, seed: int, scale: Scale, data_root: Path, engine) -> Workload:
    """Generate (or reuse) the workload's data and compute every twin.

    ``engine`` is the namespace of public engine functions the caller
    imported, so that import stays inside the caller's timed set-up.
    """
    if name == "chi2_corpus":
        d = gen.chi2_corpus(data_root, seed, scale.corpus_factor, scale.corpus_sf)
        names, tables = ["chi_square_report"], ("documents",)
    else:
        d = gen.base_tables(data_root, scale.registry_sf)
        names, tables = list(QUERY_MIX), gen.TABLES

    builders, sqls = {}, {}
    for n in names:
        if n == "chi_square_report":
            builders[n] = _report_builder(engine, str(d))
            sqls[n] = [engine.REGISTRY["format_report"][1], engine.REGISTRY["merged_dict"][1]]
        else:
            builders[n] = _registry_builder(engine.REGISTRY[n][0], str(d))
            sqls[n] = [engine.REGISTRY[n][1]]
    expected = _twins(d, sqls)
    return Workload(name, d, [Op(n, builders[n], expected[n]) for n in names], tables)


def _registry_builder(fn, sf_dir: str):
    return lambda spark: fn(spark, sf_dir)


def _report_builder(engine, sf_dir: str):
    def fn(spark):
        docs = engine.scan_parquet(spark, sf_dir, "documents")
        return engine.chi_square_report(engine.reviews_from_documents(docs))

    return fn


def chi2_chain(engine, spark, sf_dir: str):
    """The flagship pipeline as its prefixes, built from the same public
    functions ``chi_square_report`` composes: documents, tokens, the χ²
    relation, the per-category top-k and the report."""
    reviews = engine.reviews_from_documents(engine.scan_parquet(spark, sf_dir, "documents"))
    docs = engine.nonempty_documents(
        reviews.selectExpr("doc_id", "reviewText AS text", "category")
    )
    tokens = engine.tokens_relation(docs, engine.STOPWORDS)
    chi2 = engine.chi_square_relation(tokens, docs)
    top = engine.topk_per_group(chi2, "category", "chi2", "term", engine.TOP_K)
    return [
        ("sources.documents", docs),
        ("functions.text.tokens", tokens),
        ("operators.contingency.chi2", chi2),
        ("operators.topk.topk", top),
        ("operators.report.report", engine.full_report(top)),
    ]
