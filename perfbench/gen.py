"""Deterministic input tables for the benchmark.

Two kinds of data directory, each laid out like the engine's table
directories (one ``<table>.parquet`` per table, the schemas of
``mapreduce_chisquare_spark.schemas``), so registry builders and their
DuckDB twins read them unchanged:

* ``base_tables(root, sf)``: all ten tables at scale factor ``sf``,
  uniform-random TPC-H-like rows plus the ``events``, ``documents``
  and ``embeddings`` side tables. They come from a fixed seed, so
  every run of a workload reads the same bytes and ``--seed`` only
  reorders the operations.
* ``chi2_corpus(root, seed, factor, sf)``: the documents table of the
  ``sf`` base replicated ``factor`` times. Each replica gets
  offset ``doc_id``s, a seeded row order and a seeded share of
  rewritten tokens, so vocabulary and term x category cardinality grow
  with the corpus. The other tables are hard-linked beside it.

A directory is built under a temporary name and renamed into place, so
an interrupted build is never reused.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_SEED = 20240101
REWRITE_SHARE = 0.3
VARIANTS_PER_REPLICA = 64
ROW_GROUP_ROWS = 4096

VOCAB = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
ADJ = ("small", "red", "blue", "hot", "old", "large", "cold", "new")
NOUN = ("ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil")
US_PER_DAY = 86_400_000_000


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> list[str]:
    return list(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a 32-word vocabulary, 10-99 words each; 5% of
    the documents copy an earlier one and append ' dup', giving the
    dedup queries exact and near duplicates to find."""
    vocab = np.asarray(VOCAB)
    lengths = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(15_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 105_000),
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
            "event_type": _pick(rng, ["click", "view", "signup", "purchase", "error"], n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
    }
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def _publish(dst: Path, build) -> Path:
    if dst.exists():
        return dst
    tmp = dst.with_name(f"{dst.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    os.replace(tmp, dst)
    return dst


def base_tables(root: Path, sf: float) -> Path:
    """Directory holding all ten tables at scale factor ``sf``."""

    def build(d: Path) -> None:
        for name, table in _tables(sf).items():
            pq.write_table(table, d / f"{name}.parquet", row_group_size=ROW_GROUP_ROWS)

    return _publish(root / f"base-sf{sf}", build)


def _suffix(i: int) -> str:
    s = "z"
    while True:
        i, r = divmod(i, 26)
        s += chr(97 + r)
        if i == 0:
            return s


def _replica_texts(rng, texts: list[str], replica: int) -> list[str]:
    """Append a replica-specific letter suffix to a seeded share of the
    tokens (digits would split a token, so the suffix is letters only)."""
    out = []
    variants = [_suffix(replica * VARIANTS_PER_REPLICA + u) for u in range(VARIANTS_PER_REPLICA)]
    for text in texts:
        toks = text.split(" ")
        hit = rng.random(len(toks)) < REWRITE_SHARE
        pick = rng.integers(0, VARIANTS_PER_REPLICA, len(toks))
        out.append(" ".join(t + variants[p] if h else t for t, h, p in zip(toks, hit, pick)))
    return out


def chi2_corpus(root: Path, seed: int, factor: int, sf: float) -> Path:
    """Directory whose documents table is the ``sf`` base replicated
    ``factor`` times under ``seed``; the other base tables are linked."""
    base = base_tables(root, sf)

    def build(d: Path) -> None:
        rng = np.random.default_rng([seed, factor])
        docs = pq.read_table(base / "documents.parquet")
        n = docs.num_rows
        texts = docs.column("text").to_pylist()
        parts = []
        for r in range(factor):
            order = rng.permutation(n)
            rep = docs.take(pa.array(order))
            new = _replica_texts(rng, [texts[i] for i in order], r)
            parts.append(pa.table({
                "doc_id": pa.array(np.asarray(rep.column("doc_id")) + r * n, pa.int64()),
                "text": pa.array(new, pa.string()),
                "lang": rep.column("lang"),
                "source": rep.column("source"),
                "n_chars": pa.array([len(t) for t in new], pa.int64()),
            }))
        corpus = pa.concat_tables(parts)
        pq.write_table(corpus, d / "documents.parquet", row_group_size=ROW_GROUP_ROWS)
        words = {w for t in corpus.column("text").to_pylist() for w in t.split(" ")}
        (d / "stats.json").write_text(json.dumps({
            "documents": corpus.num_rows,
            "bytes": (d / "documents.parquet").stat().st_size,
            "distinct_words": len(words),
        }))
        for name in TABLES:
            if name != "documents":
                os.link(base / f"{name}.parquet", d / f"{name}.parquet")

    return _publish(root / f"chi2-sf{sf}-s{seed}-x{factor}", build)
