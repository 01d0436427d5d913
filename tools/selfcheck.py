"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at a given SF,
runs the matching ``oracle_sql()`` through DuckDB over the same parquet
files, and compares: row count, column names, and values (rows sorted,
columns sorted by name).  Reports EXACT (bitwise, the standard to aim
for) and APPROX (rtol 1e-9, diagnosing float-summation-order noise —
fix by rounding both sides).  Oracle results fetched through Arrow so
dtype traps (DuckDB HUGEINT/uint64, which the driver hashes differently
from Spark's int64) fail loudly instead of being coerced by pandas.

Usage: python tools/selfcheck.py [--extra] [sf_dir] [query ...]
  --extra   also run the library-tier EXTRA_QUERIES (not driver-visible)
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod
from currency_market_pulse_spark.oracle import (
    check_against_oracle, check_within_bound, duck_con,
)
from currency_market_pulse_spark.queries.registry import (
    EXTRA_ORACLES, EXTRA_QUERIES, EXTRA_RTOL,
)
from currency_market_pulse_spark.session import get_spark


def main() -> int:
    args = [a for a in sys.argv[1:]]
    extra = "--extra" in args
    args = [a for a in args if a != "--extra"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(shuffle_partitions=8)
    con = duck_con(sf_dir)
    queries = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    if extra:
        queries.update(EXTRA_QUERIES)
        oracles.update(EXTRA_ORACLES)
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sql = oracles.get(name)
        try:
            if sql is None:
                n = len(fn(spark, sf_dir).toPandas())
                print(f"rows-only  {name}: {n} rows  ({time.time()-t0:.1f}s)")
                continue
            if name in EXTRA_RTOL:
                verdict, n = check_within_bound(
                    spark, con, fn, sql, sf_dir, rtol=EXTRA_RTOL[name])
            else:
                verdict, n = check_against_oracle(spark, con, fn, sql, sf_dir)
        except Exception as e:
            print(f"FAIL  {name}: error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        ok = verdict in ("EXACT", "APPROX", "WITHIN-BOUND")
        print(f"{'ok   ' if ok else 'FAIL '} {name}: {verdict}  rows={n}  "
              f"({time.time()-t0:.1f}s)")
        if not ok:
            failures += 1
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
