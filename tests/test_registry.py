"""Every registered query runs at sf0.001 and (where an oracle exists)
matches DuckDB — the same gate the driver applies at sf0.01."""

from __future__ import annotations

import importlib.util
import pathlib

import duckdb
import pytest

import __spark_entry__ as entry_mod
from mapreduce_chisquare_spark.constants import TABLES


def _check_oracle():
    """The oracle gate's own module, so the test canonicalizes rows
    exactly as scripts/check_oracle.py does."""
    path = pathlib.Path(__file__).parent.parent / "scripts" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


row_multiset = _check_oracle().row_multiset


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["category", "term", "chi2", "rank"]


_DEFAULT_TIER = (
    "simsearch_", "similarity_join", "graph_", "basket_rules",
    "lm_", "collocations_", "ngram_counts", "ngram_novelty",
    "quality_perplexity_buckets",
    "stream_tumbling", "stream_dedup", "stream_sessionize",
    "stream_chi_square", "stream_static_join", "stream_anomaly_screen",
    "stream_gopher_screen", "stream_toxicity_screen", "stream_cdc_screen",
    "stream_er_screen", "stream_bloom_screen",
    "image_phash_decoded", "image_phash_gif", "image_phash_jpeg",
    "image_phash_palette", "image_neardup_decoded",
    "image_thumbnail_decoded", "video_frame_phash", "video_neardup",
    "video_shot_boundaries", "audio_fingerprint", "audio_energy_segments",
    "audio_downsample_decoded", "multimodal_av_probe",
)


def _oracle_param(name):
    """The similarity-search family (simsearch_*, similarity_join*),
    the graph family (graph_*, basket_rules), the text n-gram family
    (lm_*, collocations_*, ngram_counts, ngram_novelty,
    quality_perplexity_buckets), one streaming entry per
    run-to-completion shape (complete mode, stateful, foreachBatch,
    stream-static joins, stateless screens) and the 13 synthesized-
    media entries (image_*_decoded/gif/jpeg/palette, video_*,
    audio_*, multimodal_av_probe) run in the default tier;
    the rest of the ~9 min registry sweep is `slow` (full tier:
    pytest -m ""), as scripts/check_oracle covers the same ground."""
    if name.startswith(_DEFAULT_TIER):
        return name
    return pytest.param(name, marks=pytest.mark.slow)


@pytest.mark.parametrize(
    "name", [_oracle_param(n) for n in sorted(entry_mod.queries())]
)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    fn = entry_mod.queries()[name]
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(srows) >= 0  # rows-only check, mirrors the driver
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert row_multiset(sdf.columns, srows) == row_multiset(ocols, orows)


def test_readme_query_count_in_sync():
    """Registry-derived doc counts are generated (scripts/sync_docs.py)
    — this guard keeps every cited count (README, COVERAGE) from
    drifting from len(REGISTRY), via the script's own --check mode so
    new doc targets are covered automatically."""
    import subprocess
    import sys

    root = pathlib.Path(__file__).parent.parent
    proc = subprocess.run(
        [sys.executable, str(root / "scripts" / "sync_docs.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_certification_window_leads_registry_order():
    """The driver certifies the FIRST 50 registry entries per round;
    the rotation splice must actually put the declared window there —
    a silent ordering bug would burn a whole round's certification
    budget on already-green entries."""
    from mapreduce_chisquare_spark.plans.registry import (
        _CERTIFY_WINDOW,
        REGISTRY,
    )

    assert len(_CERTIFY_WINDOW) == 50
    head = list(REGISTRY)[: len(_CERTIFY_WINDOW)]
    assert head == [k for k in _CERTIFY_WINDOW if k in REGISTRY]
    missing = [k for k in _CERTIFY_WINDOW if k not in REGISTRY]
    assert not missing, f"window names absent from registry: {missing}"


@pytest.mark.slow  # 10s+ reference/brute-force sweep; full tier
def test_oracle_sql_never_widens_to_hugeint(duck):
    """DuckDB widens sum(BIGINT) — including windowed sums — to
    HUGEINT (int128), which the driver's canonicalizer hashes
    differently from Spark's int64 even when values agree. This class
    cost a red row two rounds running (embed_quantize r3,
    window_moving_sum r4): every oracle SQL must CAST such aggregates
    so no output column binds to HUGEINT. Binding is enough to get
    types — nothing is executed."""
    offenders = []
    for name, sql in entry_mod.oracle_sql().items():
        rel = duck.sql(sql)
        wide = [
            (col, str(typ))
            for col, typ in zip(rel.columns, rel.types)
            if "HUGEINT" in str(typ).upper()
        ]
        if wide:
            offenders.append((name, wide))
    assert not offenders, f"uncast DuckDB-widened outputs: {offenders}"


def test_bench_output_lines_survive_tail_truncation():
    """BENCH_r07.json recorded "parsed": null because the one-line
    75-query JSON overflowed the driver's ~2 KB stdout tail capture.
    Pin the round-8 contract: every emitted line is standalone JSON
    carrying the headline total, every line is short enough that a
    1 KB-or-larger tail window always holds at least one complete
    line, and the LAST line is the compact summary."""
    import json as _json

    import bench

    results = {f"query_name_of_typical_length_{i:03d}": i / 7.0 for i in range(90)}
    total = round(sum(results.values()), 3)
    sentinel = {
        "quiet_sec": 0.13,
        "threshold_sec": 0.4,
        "max_seen_sec": 0.2,
        "hot_discards": 0,
        "hot_queries": [],
    }
    lines = bench._emit(results, total, 0.1, sentinel)
    recovered = {}
    for line in lines:
        obj = _json.loads(line)  # each line parses on its own
        assert obj["value"] == total
        assert obj["metric"] == "headline_queries_total_wall_clock"
        assert len(line.encode()) < 1000, f"line too long: {len(line)}"
        recovered.update(obj.get("queries", {}))
    assert recovered == results  # chunk lines re-supply every median
    last = _json.loads(lines[-1])
    assert last["n_queries"] == len(results)
    assert last["sentinel"]["hot_discards"] == 0
    assert last["sentinel"]["n_hot_queries"] == 0
    assert len(lines[-1].encode()) < 500  # summary always fits a tail

    # Pathological contention: every query flagged hot must NOT grow
    # the summary line back past the tail window (the sentinel keeps
    # a count + 3 exemplars; the full list lives in BENCH_FULL.json)
    hot_sent = {**sentinel, "hot_queries": sorted(results)}
    hot_lines = bench._emit(results, total, 0.1, hot_sent)
    hot_last = _json.loads(hot_lines[-1])
    assert hot_last["sentinel"]["n_hot_queries"] == len(results)
    assert len(hot_last["sentinel"]["hot_queries"]) == 4  # 3 + marker
    assert len(hot_lines[-1].encode()) < 700

    # empty-results edge (registry miss on every name) still emits
    # parseable lines with a summary
    empty = bench._emit({}, 0.0, 0.1, sentinel)
    assert all(_json.loads(line) for line in empty)
    assert _json.loads(empty[-1])["n_queries"] == 0


def test_bench_headline_names_exist():
    """bench.py silently skips HEADLINE names missing from REGISTRY
    (REGISTRY.get -> continue) — a typo would silently shrink the
    benchmark instead of failing. Pin every name."""
    import bench

    from mapreduce_chisquare_spark.plans.registry import REGISTRY

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench HEADLINE names absent from registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
