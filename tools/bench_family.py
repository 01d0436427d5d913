"""Time a subset of registered queries under the same protocol as
bench.py (warmup at sf0.001, timed at $SPARK_GRAFT_SF_DIR) — the
iteration loop for targeted perf work without a full 50-query run.

Usage: python tools/bench_family.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod
from currency_market_pulse_spark.session import get_spark


def run_query(fn, spark, sf_dir: str) -> float:
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="cmp-bench-family")
    queries = dict(entrymod.queries())
    # library-tier queries are timeable too
    from currency_market_pulse_spark.queries.registry import EXTRA_QUERIES
    queries.update(EXTRA_QUERIES)
    for n in names:
        try:
            run_query(queries[n], spark, "/root/testdata/sf0.001")
        except Exception:
            pass
    timings = {n: round(run_query(queries[n], spark, sf_dir), 3)
               for n in names}
    timings["__total__"] = round(sum(timings.values()), 3)
    print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
