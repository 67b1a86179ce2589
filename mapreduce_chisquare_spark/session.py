"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster: AQE on (runtime partition coalescing +
skew-join splitting), Arrow for any Python exchange, UTC session time
zone so timestamp semantics match the DuckDB oracle.

The engine runs a fixed mix of queries again and again in one
long-lived session (bench reps, the oracle and fingerprint sweeps, the
test tier), so the whole-stage codegen cache is sized to hold that
working set: `CODEGEN_CACHE_ENTRIES` compiled classes instead of
Spark's default 100. At 100 the cache thrashes: one `query_mix` pass
(perfbench) generates about 210 distinct classes, so every class is
evicted before its next use and Janino recompiles about 205 on every
pass. One pass over the 191 headline queries at sf0.01 compiles 2,755
distinct classes (mean bytecode 3.1 KB, p95 10 KB). Guava splits the
cap over 4 LRU segments, so 4096 leaves each segment ~1,024 slots for
~690 expected entries. The price is JVM metaspace: holding all 2,755
classes took it from 77 MB to 203 MB. Only compiled classes are kept;
every run still reads its input and computes its result.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# static conf: read once, when the JVM first generates code
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "mapreduce_chisquare_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
