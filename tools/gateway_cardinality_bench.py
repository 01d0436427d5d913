"""Gateway stateful-op benchmark across USER-KEY CARDINALITY
(VERDICT r12 directive 1).

Every r12 streaming number — the ~670 ms applyInPandasWithState
framework floor, the HDFS-vs-RocksDB store A/B, the width sweep — was
measured at a toy 50-user key space (trades_source.py DEFAULT_USERS),
while the reference limiter keys per userId at production
cardinalities (consumer/ratelimit/ratelimit.go:38-47).  This harness
re-runs the SOLO import leg (the exact pipeline.py query-1 wiring:
trades_gen -> ingest projection -> rate-limit gateway -> normalize ->
write-once txn sink) with the key axis exposed:

    python tools/gateway_cardinality_bench.py --matrix
    python tools/gateway_cardinality_bench.py --users 100000 \
        --window-ms 60000 --state-store rocksdb

Key-count physics this measures: the gateway's standing key count is
NOT the user universe — it is (arrival rate x state TTL) distinct
users, because the ProcessingTimeTimeout (= window_ms, the Redis
Expire twin) evicts idle keys.  At the reference's 1 s window, a
100 k-user universe holds only ~2-4 k standing keys; to hold a
100 k-class standing state the matrix also runs a 60 s window, where
~70 k keys stand after the first minute.  The artifact separates
warmup from steady state (second-half percentiles) and records the
store's own numRowsTotal per trigger as evidence of the standing key
count actually reached.

Scenario matrix (--matrix), each the solo import leg:

    base50        users=50      window=1s   hdfs    width 8  (r12 anchor)
    hi_1s         users=100000  window=1s   hdfs    width 8
    hi_60s        users=100000  window=60s  hdfs    width 8
    hi_60s_rocks  users=100000  window=60s  rocksdb width 8
    hi_60s_w32    users=100000  window=60s  hdfs    width 32
    hi_60s_triv   users=100000  window=60s  hdfs    width 8  trivial fold

The trivial fold is the framework-floor probe: an
applyInPandasWithState with the SAME schemas and state-store
interaction shape (one tiny state write + timeout per key) but no
rate-limit math — whatever it costs is python-runner round trips +
state store load/commit, not the fold.

Output: STREAM_BENCH_cardinality.json (repo root), cited by SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TOOLS)
sys.path.insert(0, _REPO)

_ROCKSDB = ("org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
_HDFS = ("org.apache.spark.sql.execution.streaming.state."
         "HDFSBackedStateStoreProvider")


def _pct(xs, p):
    if not xs:
        return None
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))]


def _trivial_gateway(requests, window_ms):
    """Pass-through twin of rate_limit_gateway: identical output
    schema and state-store interaction shape (get, one small update,
    processing-time timeout), NO admission math — the framework-floor
    probe (SCALE.md Round 12's trivial-fold A/B, now cardinality-aware).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )
    from currency_market_pulse_spark.streaming.ratelimiter import (
        GATEWAY_OUTPUT_SCHEMA, STATE_SCHEMA,
    )

    def fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        _ = state.get if state.exists else None   # same store read
        rows = pd.concat(list(pdfs))
        out = pd.DataFrame({
            "user_id": rows["user_id"],
            "event_id": rows["event_id"],
            "ts_ms": rows["ts_ms"],
            "n_in_window": 1,
            "admitted": True,
            "retry_after_ms": pd.array([None] * len(rows),
                                       dtype="Int64"),
            "payload": rows["payload"],
        })
        state.update(([int(rows["ts_ms"].iloc[-1])],))  # same store write
        state.setTimeoutDuration(window_ms)
        yield out

    return (requests.groupBy("user_id")
            .applyInPandasWithState(
                fold, outputStructType=GATEWAY_OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA, outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


def run_scenario(spark, name: str, *, users: int, window_ms: int,
                 limit: int, rows_per_batch: int, duration: int,
                 width: int, state_store: str, fold: str,
                 buckets: int = 128) -> dict:
    """One solo-import-leg run; returns the scenario's summary dict."""
    from pyspark.sql import functions as F

    from currency_market_pulse_spark.functions.normalize import (
        normalize_trades, parse_ingest_json, parse_time_placed,
    )
    from currency_market_pulse_spark.sources.trades_source import (
        TradesGenDataSource,
    )
    from currency_market_pulse_spark.streaming.txn_sink import (
        TxnParquetTradesSink,
    )
    from currency_market_pulse_spark.streaming.ratelimiter import (
        rate_limit_gateway,
    )

    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", str(width))
    sess.conf.set("spark.sql.streaming.stateStore.providerClass",
                  _ROCKSDB if state_store == "rocksdb" else _HDFS)
    sess.dataSource.register(TradesGenDataSource)

    work = tempfile.mkdtemp(prefix=f"gwcard_{name}_")
    trades_path = os.path.join(work, "trades")
    dead_path = os.path.join(work, "dead")
    os.makedirs(trades_path)
    os.makedirs(dead_path)

    raw = (sess.readStream.format("trades_gen")
           .option("rowsPerBatch", str(rows_per_batch))
           .option("users", str(users)).load())
    # identical ingest projection to streaming/pipeline.py query 1
    requests = raw.select(
        F.col("userId").alias("user_id"),
        (F.unix_timestamp(parse_time_placed(F.col("timePlaced"))) * 1000)
        .alias("ts_ms"),
        F.to_json(F.struct(*raw.columns)).alias("payload"),
    ).withColumn("event_id", F.xxhash64("payload")) \
     .filter(F.col("ts_ms").isNotNull())
    if fold == "trivial":
        decisions = _trivial_gateway(requests, window_ms)
    elif fold == "bucketed":
        from currency_market_pulse_spark.streaming.ratelimiter import (
            rate_limit_gateway_bucketed,
        )
        decisions = rate_limit_gateway_bucketed(
            requests, window_ms, limit, buckets=buckets)
    else:
        decisions = rate_limit_gateway(requests, window_ms, limit)
    sink = TxnParquetTradesSink(trades_path)

    def import_batch(batch, batch_id):
        batch = batch.persist()
        try:
            admitted = batch.filter(F.col("admitted"))
            trades = normalize_trades(
                parse_ingest_json(admitted.select("payload"), "payload"))
            sink.write(trades.filter(F.col("time_placed").isNotNull()),
                       batch_id)
            rejects = batch.filter(~F.col("admitted"))
            if not rejects.isEmpty():
                (rejects.select("user_id", "event_id", "ts_ms",
                                "n_in_window", "retry_after_ms")
                 .withColumn("batch_id", F.lit(batch_id).cast("long"))
                 .repartition(1).write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id").parquet(dead_path))
        finally:
            batch.unpersist()

    q = (decisions.writeStream
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .outputMode("append").foreachBatch(import_batch)
         .trigger(processingTime="1 second").start())
    t0 = time.time()
    try:
        time.sleep(duration)
        if q.exception() is not None:
            raise q.exception()
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in q.recentProgress]
    finally:
        q.stop()
    wall = time.time() - t0
    sink_rows = sess.read.parquet(trades_path).count()

    data = [p for p in progress if int(p.get("numInputRows", 0))]
    # steady state = the second half of the recorded triggers (the
    # 60 s-window scenarios spend the first minute FILLING the store)
    steady = data[len(data) // 2:]

    def walls(ps):
        return [p["durationMs"]["triggerExecution"] for p in ps]

    def state_series(key):
        return [p["stateOperators"][0][key] for p in steady
                if p.get("stateOperators")
                and key in p["stateOperators"][0]]

    out = {
        "config": {"users": users, "window_ms": window_ms,
                   "limit": limit, "rows_per_batch": rows_per_batch,
                   "duration_sec": duration, "width": width,
                   "state_store": state_store, "fold": fold,
                   **({"buckets": buckets}
                      if fold == "bucketed" else {})},
        "triggers": len(data),
        "trigger_wall_ms": {
            "all_p50": _pct(walls(data), 50),
            "steady_p50": _pct(walls(steady), 50),
            "steady_p95": _pct(walls(steady), 95),
            "max": max(walls(data), default=None)},
        "standing_keys": {
            "final_numRowsTotal": (state_series("numRowsTotal") or
                                   [None])[-1],
            "max_numRowsTotal": max(state_series("numRowsTotal"),
                                    default=None)},
        "state_task_ms_sums_steady": {
            k: {"p50": _pct(state_series(k), 50),
                "p95": _pct(state_series(k), 95)}
            for k in ("allUpdatesTimeMs", "commitTimeMs",
                      "allRemovalsTimeMs")
            if state_series(k)},
        "state_memory_bytes_max": max(
            state_series("memoryUsedBytes"), default=None),
        "state_memory_bytes_steady": {
            "p50": _pct(state_series("memoryUsedBytes"), 50),
            "p95": _pct(state_series("memoryUsedBytes"), 95)},
        "wall_breakdown_ms_steady": {
            k: {"p50": _pct([p["durationMs"][k] for p in steady
                             if k in p.get("durationMs", {})], 50)}
            for k in ("addBatch", "walCommit", "commitOffsets",
                      "queryPlanning", "latestOffset")},
        "sink_rows": sink_rows,
        "achieved_rows_per_sec": round(sink_rows / wall, 1),
    }
    shutil.rmtree(work, ignore_errors=True)
    return out


MATRIX = [
    ("base50", dict(users=50, window_ms=1000, width=8,
                    state_store="hdfs", fold="normal")),
    ("hi_1s", dict(users=100_000, window_ms=1000, width=8,
                   state_store="hdfs", fold="normal")),
    ("hi_60s", dict(users=100_000, window_ms=60_000, width=8,
                    state_store="hdfs", fold="normal")),
    ("hi_60s_rocks", dict(users=100_000, window_ms=60_000, width=8,
                          state_store="rocksdb", fold="normal")),
    ("hi_60s_w32", dict(users=100_000, window_ms=60_000, width=32,
                        state_store="hdfs", fold="normal")),
    ("hi_60s_triv", dict(users=100_000, window_ms=60_000, width=8,
                         state_store="hdfs", fold="trivial")),
    # the shipped cardinality answer: hash-slot bucketed state caps
    # groups-per-trigger at 1024 (ratelimiter.rate_limit_gateway_bucketed)
    ("hi_1s_bkt", dict(users=100_000, window_ms=1000, width=8,
                       state_store="hdfs", fold="bucketed")),
    ("hi_60s_bkt", dict(users=100_000, window_ms=60_000, width=8,
                        state_store="hdfs", fold="bucketed")),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--matrix", action="store_true",
                    help="run the standard 6-scenario matrix")
    ap.add_argument("--users", type=int, default=100_000)
    ap.add_argument("--window-ms", type=int, default=60_000)
    ap.add_argument("--limit", type=int, default=100)
    ap.add_argument("--rows-per-batch", type=int, default=2000)
    ap.add_argument("--duration", type=int, default=150,
                    help="per-scenario seconds (60 s-window scenarios "
                         "need > 2x the TTL to reach steady state)")
    ap.add_argument("--width", type=int, default=8)
    ap.add_argument("--state-store", choices=["hdfs", "rocksdb"],
                    default="hdfs")
    ap.add_argument("--fold",
                    choices=["normal", "trivial", "bucketed"],
                    default="normal")
    ap.add_argument("--buckets", default="128",
                    help="hash-slot count for --fold bucketed (an "
                         "int, or 'auto' = ratelimiter.auto_buckets "
                         "from rows-per-batch and 4x width); must be "
                         "well below rows-per-batch to actually cap "
                         "groups-per-trigger (2,000 draws into 1,024 "
                         "slots still touch ~880 of them)")
    ap.add_argument("--out", default=os.path.join(
        _REPO, "STREAM_BENCH_cardinality.json"))
    args = ap.parse_args()

    from currency_market_pulse_spark.session import get_spark
    from currency_market_pulse_spark.streaming.ratelimiter import (
        auto_buckets,
    )

    args.buckets = (auto_buckets(args.rows_per_batch,
                                 min_parallelism=4 * args.width)
                    if args.buckets == "auto" else int(args.buckets))
    spark = get_spark(app_name="gateway-cardinality-bench")
    spark.sparkContext.setLogLevel("ERROR")

    scenarios = (MATRIX if args.matrix else
                 [("custom", dict(users=args.users,
                                  window_ms=args.window_ms,
                                  width=args.width,
                                  state_store=args.state_store,
                                  fold=args.fold))])
    results = {}
    for name, cfg in scenarios:
        print(f"--- scenario {name}: {cfg}", flush=True)
        results[name] = run_scenario(
            spark, name, limit=args.limit,
            rows_per_batch=args.rows_per_batch,
            duration=args.duration, buckets=args.buckets, **cfg)
        print(json.dumps({name: results[name]["trigger_wall_ms"] |
                          results[name]["standing_keys"]}), flush=True)
    artifact = {"offered_rows_per_sec": args.rows_per_batch,
                "per_scenario_duration_sec": args.duration,
                "scenarios": results}
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=2)
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
