"""The session factory's working-set settings, and the registry entries
that leave state behind: files under the fixture cache and tables in
the session catalog."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from mapreduce_chisquare_spark.plans.registry import REGISTRY
from mapreduce_chisquare_spark.sources.fixtures import _CACHE

ROOT = Path(__file__).resolve().parent.parent

# five entries whose generated classes together exceed Spark's default
# cache cap of 100
_MIX = (
    "topk_per_group",
    "format_report",
    "graph_kcore",
    "tfidf",
    "q3_shipping_priority",
)

_TWO_PASSES = """
import json, sys
sys.path.insert(0, {root!r})
from mapreduce_chisquare_spark.plans.registry import REGISTRY
from mapreduce_chisquare_spark.session import get_spark

spark = get_spark("codegen_cache")
jvm = spark.sparkContext._jvm
compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
counts = []
for _ in range(2):
    before = compiles.getCount()
    for name in {mix!r}:
        REGISTRY[name][0](spark, {sf!r}).collect()
    counts.append(compiles.getCount() - before)
print(json.dumps(counts))
"""


def test_codegen_cache_holds_a_repeated_mix(sf_dir):
    """A second pass over the same queries compiles no class. The pass
    runs in a fresh process: the codegen cache is JVM-wide, so on the
    shared test session earlier tests would already hold these
    classes and pass 1 would not show the working set's size."""
    script = _TWO_PASSES.format(root=str(ROOT), mix=_MIX, sf=sf_dir)
    env = dict(os.environ, SPARK_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first > 100  # more than Spark's default cap holds
    assert second == 0


def _children() -> set[str]:
    return {p.name for p in _CACHE.iterdir()} if _CACHE.exists() else set()


def test_cache_writing_entries_reuse_one_directory(spark, sf_dir):
    """Each entry that writes under the fixture cache writes one fixed
    directory per SF, and the stream recomputes on every call instead
    of resuming from the previous call's checkpoint."""
    tag = Path(sf_dir).name
    dirs = {
        "sink_roundtrip": f"sink_report_{tag}",
        "stream_chi_square": f"chi_run_{tag}",
    }
    partials = _CACHE / dirs["stream_chi_square"] / "partials"
    before = _children()
    results, stores = {}, []
    for _ in range(2):
        for name in dirs:
            rows = REGISTRY[name][0](spark, sf_dir).collect()
            results.setdefault(name, []).append(sorted(map(tuple, rows)))
        stores.append({p.name for p in partials.glob("*.parquet")})
    assert _children() - before <= set(dirs.values())
    assert set(dirs.values()) <= _children()
    for name, (a, b) in results.items():
        assert a and a == b, name
    # one file per micro-batch, written anew by the second call
    assert len(stores[0]) == len(stores[1]) == 2
    assert not stores[0] & stores[1]


def test_stream_entries_replace_their_sink_table(spark, sf_dir):
    """A second call of a memory-sink entry replaces that entry's table
    in the session catalog instead of adding one, and a frame returned
    by the first call still reads its own rows."""
    names = ("stream_gopher_screen", "stream_tumbling")
    first = {name: REGISTRY[name][0](spark, sf_dir) for name in names}
    rows = {name: sorted(map(tuple, df.collect())) for name, df in first.items()}
    tables = {t.name for t in spark.catalog.listTables()}
    for name in names:
        REGISTRY[name][0](spark, sf_dir).collect()
    assert {t.name for t in spark.catalog.listTables()} <= tables
    for name, df in first.items():
        assert rows[name] and sorted(map(tuple, df.collect())) == rows[name], name
