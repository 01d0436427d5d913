"""Per-query structural profiler (VERDICT r17 "Next round" item 1):
for each registered query it records wall time, Spark JOB count via
job-group tracking, stage count, and the ``.explain("formatted")``
physical plan.

Job/stage counts are LOAD-INDEPENDENT: on a host whose wall-clock
throughput is bimodal (2x drift on identical code, BENCH_ANCHOR
history), the job count is the signal that survives — each job is a
driver round-trip (~70-120 ms of fixed overhead at sf0.1), so "jobs
30 -> 20" is a real structural claim where "3.1 s -> 2.4 s" may be
noise.

For each selected query (default: all registered), runs the identical
bench protocol (construct -> noop write) after the same prepare_indexes
warm-up bench.py performs, and records:

- construct_sec: DataFrame build time (Catalyst analysis happens lazily,
  so this is mostly Python-side plan assembly + any driver ACTIONS the
  query path triggers, e.g. adaptive-sizing counts)
- exec_sec: the noop write
- n_jobs / n_stages: Spark jobs/stages launched during construct+exec
- plan file: plans/<round>/<name>_<tag>.txt

Usage:
  python tools/profile_queries.py [--tag TAG] [--round RN] [--sf DIR] [name ...]

  --tag    suffix for plan files / the output JSON (default "before";
           use "after" when profiling the optimized tree)
  --round  plans/<round>/ directory + PROFILE_<round>_<tag>.json
           (default "r18")
  --sf     data directory (default $SPARK_GRAFT_SF_DIR or
           /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

import __spark_entry__ as entrymod
from currency_market_pulse_spark.session import get_spark


def _pop_opt(args: list[str], flag: str, default: str) -> str:
    if flag in args:
        i = args.index(flag)
        val = args[i + 1]
        del args[i:i + 2]
        return val
    return default


def main() -> None:
    args = [a for a in sys.argv[1:]]
    tag = _pop_opt(args, "--tag", "before")
    rnd = _pop_opt(args, "--round", "r18")
    sf_dir = _pop_opt(
        args, "--sf",
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

    spark = get_spark(app_name=f"cmp-profile-{rnd}")
    sc = spark.sparkContext
    queries = entrymod.queries()
    names = args or list(queries)

    # same warm-up protocol as bench.py: one warm pass at sf0.001
    # (codegen/JIT), catalog metadata, then the offline index build
    for fn in queries.values():
        try:
            fn(spark, "/root/testdata/sf0.001").write.format(
                "noop").mode("overwrite").save()
        except Exception:
            pass
    from currency_market_pulse_spark.sources.catalog import (
        TABLES, load_table,
    )
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t)
        except Exception:
            pass
    from currency_market_pulse_spark.plans.prepare import prepare_indexes
    prep = prepare_indexes(spark, sf_dir)

    plans_dir = os.path.join(_HERE, "plans", rnd)
    os.makedirs(plans_dir, exist_ok=True)

    tracker = sc.statusTracker()
    out: dict[str, dict] = {"_prepare": prep, "_sf_dir": sf_dir}
    for name in names:
        fn = queries[name]
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        sc.setJobDescription(f"profile: {name}")
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as e:
            out[name] = {"err": f"{type(e).__name__}: {str(e)[:200]}"}
            continue
        finally:
            sc.setJobGroup(None, None)
            sc.setJobDescription(None)
        jobs = tracker.getJobIdsForGroup(group)
        n_stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                n_stages += len(info.stageIds)
        out[name] = {
            "construct_sec": round(t1 - t0, 3),
            "exec_sec": round(t2 - t1, 3),
            "total_sec": round(t2 - t0, 3),
            "n_jobs": len(jobs),
            "n_stages": n_stages,
        }
        try:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"),
                      "w") as f:
                f.write(plan)
        except Exception as e:
            out[name]["plan_err"] = str(e)[:120]
        print(f"{out[name].get('total_sec', -1):7.3f}s "
              f"jobs={out[name].get('n_jobs', '?'):>3} "
              f"stages={out[name].get('n_stages', '?'):>3} "
              f"(construct {out[name].get('construct_sec', -1):.3f}) "
              f"{name}", flush=True)

    total_jobs = sum(v.get("n_jobs", 0) for k, v in out.items()
                     if not k.startswith("_"))
    out["_total_jobs"] = total_jobs
    print(f"total jobs across {len(names)} queries: {total_jobs}")
    with open(os.path.join(_HERE, f"PROFILE_{rnd}_{tag}.json"),
              "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
