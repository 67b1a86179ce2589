"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin
side by side on the same sf dir, comparing row count, sorted column
names, and an order-insensitive value multiset (floats rounded to 9
significant digits; exact-equality also reported so float drift is
visible before it bites).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402
from mapreduce_chisquare_spark.constants import TABLES  # noqa: E402
from mapreduce_chisquare_spark.session import get_spark  # noqa: E402


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        return round(v, 9 - 1 - int(math.floor(math.log10(abs(v))))) if abs(v) > 1e-300 else 0.0
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(get_spark("check_oracle"), sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sm, om = row_multiset(scols, srows), row_multiset(ocols, orows)
            if sm != om:
                diff = (sm - om) + (om - sm)
                problems.append(
                    f"values differ ({sum(diff.values())} rows); e.g. {list(diff)[:2]}"
                )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
