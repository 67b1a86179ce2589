"""Sources: parquet/NDJSON scans and side-file loads (SURVEY.md §2.1).

Replaces the reference's three input paths — mrjob stdin framing
(chi_square.py:30), `hadoop fs -cat` subprocess (multi_jobs_hdfs.py:23-37),
and local open() — with Spark's native readers, which speak local, HDFS,
and object-store URIs uniformly and push column pruning / predicate
filters into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..constants import STOPWORDS


def ts_unit(path: str) -> str:
    """Physical unit of the `ts` column of the parquet file at `path`,
    read from its footer (a driver-side metadata read, no data
    scanned). The test generator has shipped both timestamp[ns] and
    timestamp[us] events, so scans must adapt instead of assuming one.
    A plain (non-timestamp) INT64 ts is by convention raw epoch NANOS
    → "ns". Local-filesystem paths only: the footer read goes through
    pyarrow, not the Hadoop FS layer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    field = pq.read_schema(path).field("ts")
    if pa.types.is_timestamp(field.type):
        return field.type.unit
    return "ns"


# events with ts read as its raw int64 epoch nanos: Spark's
# TimestampType (micros) reader rejects parquet timestamp[ns]
RAW_EVENTS = T.StructType(
    [
        T.StructField("ts", T.LongType()) if f.name == "ts" else f
        for f in schemas.EVENTS.fields
    ]
)


def ts_from_nanos(df: DataFrame) -> DataFrame:
    """Raw int64 nanos ts → Spark micros timestamp by INTEGER division
    (`div`): a double division would lose precision at ~1.7e18 ns.
    Truncation toward zero matches DuckDB's ns→micros cast for
    post-epoch data."""
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def scan_parquet(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """S6: schema-pinned parquet scan of a driver table. events.ts in
    parquet timestamp[ns] is read as raw nanos (RAW_EVENTS) and
    converted by ts_from_nanos; timestamp[us] (Spark's native unit) is
    read directly.
    """
    path = f"{sf_dir}/{table}.parquet"
    if table == "events" and ts_unit(path) == "ns":
        return ts_from_nanos(spark.read.schema(RAW_EVENTS).parquet(path))
    return spark.read.schema(schemas.TABLE_SCHEMAS[table]).parquet(path)


def scan_json_reviews(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2: NDJSON scan of the reference's native reviews input.

    PERMISSIVE mode skips malformed lines (the tolerant reference
    behaviour, multi_jobs_hdfs.py:92-94) instead of crashing like the
    strict variant (chi_square.py:31-32). Schema is supplied, never
    inferred, so extra JSON fields are pruned at parse time — the
    reference's "early projection" (chi_square.py:32-33) for free.
    """
    return (
        spark.read.schema(schemas.REVIEWS)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


REVIEWS_WITH_ID = T.StructType(
    [T.StructField("doc_id", T.LongType()), *schemas.REVIEWS.fields]
)


DOCUMENTS_CSV = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def scan_csv_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV twin of scan_json_documents: schema-pinned PERMISSIVE scan
    of the documents table as headerless CSV with malformed rows
    injected (sources.fixtures.csv_documents). Bad rows parse to
    nulls (non-numeric doc_id, truncated columns); the caller's
    null filter drops exactly those. Unlike multiLine CSV (one
    whole-file record stream), line-delimited CSV splits like any
    text source, so the scan parallelizes at 100 TB."""
    from .fixtures import csv_documents

    path = csv_documents(sf_dir)
    return (
        spark.read.schema(DOCUMENTS_CSV)
        .option("mode", "PERMISSIVE")
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def scan_json_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2 against real NDJSON bytes: the documents table serialized
    one JSON object per line with malformed / missing-field lines
    injected (sources.fixtures). PERMISSIVE parse turns bad lines into
    null rows; the caller's F4 filter drops them — the tolerant
    reference path (multi_jobs_hdfs.py:92-94) end to end."""
    from .fixtures import ndjson_documents

    path = ndjson_documents(sf_dir)
    return (
        spark.read.schema(REVIEWS_WITH_ID)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def reviews_from_documents(documents: DataFrame) -> DataFrame:
    """FIXTURES.md fixture-A mapping: documents(text, lang) → reviews."""
    return documents.selectExpr(
        "doc_id", "text AS reviewText", "lang AS category"
    )


def load_stopwords(spark: SparkSession, path: str | None = None) -> list[str]:
    """S3: side-file load (chi_square.py:21-28). Driver-side read of a
    provably-tiny relation; callers broadcast it (literal array or
    broadcast anti-join) — never a shuffle."""
    if path is None:
        return list(STOPWORDS)
    return [r.value.strip() for r in spark.read.text(path).collect() if r.value.strip()]


def scan_warc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-style response-archive scan (ISO 28500 surface, round
    13): the documents table serialized as CRLF-headed WARC records
    with Content-Length framing and pathological records injected
    (sources.fixtures.warc_documents), recovered to (doc_id, text,
    lang) entirely with Catalyst expressions:

      * records split by the custom lineSep 'WARC/1.0\\r\\n' — a
        SPLITTABLE text read (Hadoop line records honor multi-char
        delimiters), so a 100 TB archive scans partition-parallel;
        the fixture's text/plain payloads cannot contain the
        boundary (disclosed precondition — binary payloads need a
        Content-Length-framed reader, out of scope);
      * header block / body split on the FIRST blank line
        (instr/substr — never a split-array index);
      * headers parsed with str_to_map; Content-Length via try_cast
        (a malformed length must drop the record, not throw);
      * tolerant validation drops the pathologies: non-response
        records, missing/mismatched Content-Length (octet_length of
        the body must equal the declared length), unparseable URIs.
    """
    from .fixtures import warc_documents

    return scan_warc_path(spark, warc_documents(sf_dir))


def scan_warc_path(spark: SparkSession, path: str) -> DataFrame:
    """The WARC recovery plan over any archive path — extracted so
    the multi-hundred-MB executed-stress fixture (tests/
    test_scale_stress.py) drives the identical code path the
    registry entry certifies; semantics documented above."""
    raw = spark.read.option("lineSep", "WARC/1.0\r\n").text(path)
    sep = F.instr(F.col("value"), "\r\n\r\n")
    rec = raw.filter(F.length("value") > 0).select(
        F.when(sep > 0, F.substring(F.col("value"), F.lit(1), sep - 1))
        .alias("__hdr"),
        F.when(
            sep > 0,
            F.regexp_replace(
                F.substr(F.col("value"), sep + F.lit(4)),
                "\r\n\r\n$",
                "",
            ),
        ).alias("text"),
    )
    hdrs = F.expr("str_to_map(__hdr, '\r\n', ': ')")
    parsed = rec.select(
        hdrs.getItem("WARC-Type").alias("__type"),
        hdrs.getItem("WARC-Target-URI").alias("__uri"),
        hdrs.getItem("WARC-Lang").alias("lang"),
        F.expr(
            "try_cast(str_to_map(__hdr, '\r\n', ': ')"
            "['Content-Length'] AS BIGINT)"
        ).alias("__cl"),
        "text",
    )
    return parsed.filter(
        (F.col("__type") == "response")
        & F.col("__cl").isNotNull()
        & (F.col("__cl") == F.octet_length("text"))
    ).select(
        F.expr(
            r"try_cast(regexp_extract(__uri, 'p(\\d+)$', 1) AS BIGINT)"
        ).alias("doc_id"),
        "text",
        "lang",
    ).filter(F.col("doc_id").isNotNull())
