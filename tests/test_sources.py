"""Driver-side literal relations: `literal_relation` returns its rows
exactly, as a `LocalTableScan`, and the engine builds no relation with
`createDataFrame` (whose rows go through Python workers on every run
of the plan)."""

from __future__ import annotations

import math
import re
from pathlib import Path

from mapreduce_chisquare_spark.sources.readers import literal_relation

PKG = Path(__file__).resolve().parent.parent / "mapreduce_chisquare_spark"

_SCHEMA = "s string, b bigint, d double, f boolean, i int"
_ROWS = [
    ("it's", 2**63 - 1, 0.1, True, 2**31 - 1),
    ("back\\slash", -(2**63 - 1), 1e-310, False, -(2**31)),
    ("new\nline\t\r\x00 -- /* */", -(2**63), -0.0, True, 0),
    ("100% a_b", 0, math.nan, False, 7),
    ("naïve 漢字 😀", 1, math.inf, True, -7),
    ("", -1, -math.inf, False, 1),
    (None, None, None, None, None),
    ("\\'\\\\''", 42, 2.5, None, None),
]


def _exact(v):
    """A value key under which two floats are equal only when their
    bits are (NaN equal to NaN, -0.0 unequal to 0.0)."""
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else v.hex())
    return (type(v).__name__, v)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_literal_relation_round_trips_exactly(spark):
    df = literal_relation(spark, _ROWS, _SCHEMA)
    assert df.schema.simpleString() == (
        "struct<s:string,b:bigint,d:double,f:boolean,i:int>"
    )
    got = [tuple(map(_exact, r)) for r in df.collect()]
    assert sorted(got, key=repr) == sorted(
        (tuple(map(_exact, r)) for r in _ROWS), key=repr
    )
    plan = _plan(df)
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_literal_relation_without_rows_keeps_its_schema(spark):
    df = literal_relation(spark, [], _SCHEMA)
    assert df.collect() == []
    assert df.schema.simpleString() == (
        "struct<s:string,b:bigint,d:double,f:boolean,i:int>"
    )
    assert _plan(df).startswith("LocalTableScan")


def test_engine_builds_no_relation_with_create_dataframe():
    hits = [
        f"{p.relative_to(PKG)}:{n}"
        for p in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert not hits, hits
