"""Sliding-window rate limiter: the pure fold math, and the snapshot
gate (streaming/ratelimiter.py) against a sequential ``admit_fold``
replay — static multi-batch runs and real streams through
``foreachBatch``."""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import functions as F

from currency_market_pulse_spark.streaming.ratelimiter import (
    RateLimitGate, admit_fold,
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


# ---------------------------------------------------------------------
# the sequential reference
# ---------------------------------------------------------------------

def _replay(batches, window_ms, limit):
    """``admit_fold`` over each batch in (ts_ms, event_id) order, then
    the gate's eviction (users whose newest entry is more than two
    windows behind the batch's newest event).  Returns ({event_id:
    (n, admitted, retry)}, [per-batch {user: entries in insertion
    order}], counters of the cases the scenario exercised)."""
    state: dict[str, list[int]] = {}
    decisions, snaps = {}, []
    seen = {"ties": 0, "regressions": 0, "evictions": 0, "rejects": 0}
    for rows in batches:
        last: dict[str, int] = {}
        for u, eid, ts in sorted(rows, key=lambda r: (r[2], r[1])):
            if last.get(u) == ts:
                seen["ties"] += 1
            if u not in last and state.get(u) and ts < max(state[u]):
                seen["regressions"] += 1
            last[u] = ts
            rec, n, ok, retry = admit_fold(state.get(u, []), ts,
                                           window_ms, limit)
            state[u] = rec
            decisions[eid] = (n, ok, retry)
            seen["rejects"] += not ok
        if rows:
            floor = max(r[2] for r in rows) - 2 * window_ms
            kept = {u: r for u, r in state.items() if max(r) >= floor}
            seen["evictions"] += len(state) - len(kept)
            state = kept
        snaps.append({u: list(r) for u, r in state.items()})
    return decisions, snaps, seen


def _frame(spark, rows):
    return (spark.createDataFrame(
        rows, "user_id string, event_id long, ts_ms long")
        .withColumn("payload", F.concat(F.lit("p"),
                                        F.col("event_id").cast("string"))))


def _snapshot(spark, gate, snap_id):
    out: dict[str, list[int]] = {}
    for r in gate.read_snapshot(spark, snap_id).orderBy(
            "user_id", "seq").collect():
        out.setdefault(r.user_id, []).append(r.ts_ms)
    return out


def _run_gate(spark, gate, batches, first_id=0):
    got = {}
    for b, rows in enumerate(batches, start=first_id):
        with gate.decide(_frame(spark, rows), b) as gb:
            for r in gb.decisions.collect():
                assert r.payload == f"p{r.event_id}"
                got[r.event_id] = (r.n_in_window, r.admitted,
                                   r.retry_after_ms)
            gate.publish(gb)
    return got


def _scenario(seed, n_batches=8, window_ms=1000):
    """Six users, 0-25 requests per batch on a 500 ms grid (ties), each
    batch up to 1.5 s either side of a base that advances by 0, 0.5,
    1 or 3 s — regressions across batches, and jumps past window +
    allowance that evict idle users."""
    rng = random.Random(seed)
    users = [f"u{i}" for i in range(6)]
    eid, base, batches = 0, 100_000, []
    for _ in range(n_batches):
        rows = []
        for _ in range(rng.randint(0, 25)):
            ts = base + rng.randint(-3, 3) * 500
            rows.append((rng.choice(users), eid, ts))
            eid += 1
        base += rng.choice([0, 500, 1000, 3000])
        batches.append(rows)
    return batches


def test_gate_matches_sequential_replay(spark, tmp_path):
    """Seeded multi-batch equality: every decision AND every published
    snapshot equal a sequential admit_fold replay — over timestamp
    ties, users far over the limit, cross-batch regressions and
    evictions (the counters prove each case occurred)."""
    W, limit = 1000, 3
    totals = {"ties": 0, "regressions": 0, "evictions": 0, "rejects": 0}
    for seed in range(3):
        batches = _scenario(seed, window_ms=W)
        want, snaps, seen = _replay(batches, W, limit)
        gate = RateLimitGate(str(tmp_path / f"s{seed}"), W, limit)
        got = {}
        for b, rows in enumerate(batches):
            got.update(_run_gate(spark, gate, [rows], first_id=b))
            assert _snapshot(spark, gate, b) == snaps[b], (seed, b)
        assert got == want, seed
        for k in totals:
            totals[k] += seen[k]
    assert all(v > 0 for v in totals.values()), totals


def test_gate_replay_is_idempotent(spark, tmp_path):
    """A replayed batch reads the same predecessor snapshot (never its
    own earlier publish), so it recomputes identical decisions and
    publishes a byte-equal snapshot.  Retention keeps exactly the
    snapshot the newest batch read plus its own; a stray name under
    the prefix is ignored."""
    W, limit = 1000, 3
    batches = _scenario(7, n_batches=3, window_ms=W)
    gate = RateLimitGate(str(tmp_path / "state"), W, limit)
    first = _run_gate(spark, gate, batches)
    part = os.path.join(gate.state_path, "batch_id=2", "part-00000.parquet")
    with open(part, "rb") as f:
        before = f.read()
    os.makedirs(os.path.join(gate.state_path, "batch_id=5 (1)"))

    assert gate.snapshot_ids() == [1, 2]
    again = _run_gate(spark, gate, batches[2:], first_id=2)
    assert again == {k: v for k, v in first.items()
                     if k in {r[1] for r in batches[2]}}
    with open(part, "rb") as f:
        assert f.read() == before
    assert gate.snapshot_ids() == [1, 2]
    assert sorted(os.listdir(os.path.join(gate.state_path,
                                          "batch_id=2"))) == [
        "part-00000.parquet"]


def test_gate_disabled_is_pass_through(spark, tmp_path):
    """limit <= 0 or window <= 0: everything admitted, no snapshot
    (ratelimit.go:15-19 — T4)."""
    for w, lim in ((1000, 0), (0, 3)):
        gate = RateLimitGate(str(tmp_path / f"off{w}{lim}"), w, lim)
        got = _run_gate(spark, gate, [[("u", 0, 1), ("u", 1, 1)]])
        assert got == {0: (1, True, None), 1: (1, True, None)}
        assert gate.snapshot_ids() == []


# ---------------------------------------------------------------------
# the gate on a real stream (one file = one micro-batch)
# ---------------------------------------------------------------------

def _stream_through_gate(spark, tmp_path, batches, window_ms, limit):
    src = tmp_path / "in"
    src.mkdir()
    for b, rows in enumerate(batches):
        p = src / f"f{b}.json"
        with open(p, "w") as f:
            for u, eid, ts in rows:
                f.write(json.dumps({"user_id": u, "event_id": eid,
                                    "ts_ms": ts, "payload": f"p{eid}"})
                        + "\n")
        os.utime(p, (1_000_000 + b * 100,) * 2)
    gate = RateLimitGate(str(tmp_path / "gateway_state"), window_ms, limit)
    got = {}

    def each(batch, batch_id):
        with gate.decide(batch, batch_id) as gb:
            for r in gb.decisions.collect():
                got[r.event_id] = r
            gate.publish(gb)

    q = (spark.readStream
         .schema("user_id string, event_id long, ts_ms long, "
                 "payload string")
         .option("maxFilesPerTrigger", "1").json(str(src))
         .writeStream.foreachBatch(each)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    try:
        # no timeout batches: an availableNow run terminates
        assert q.awaitTermination(120), "availableNow run never ended"
        assert q.exception() is None
        assert all(not p["stateOperators"] for p in q.recentProgress)
    finally:
        q.stop()
    assert gate.snapshot_ids()[-1] == len(batches) - 1
    return got


def test_rate_limit_stream_end_to_end(spark, tmp_path):
    events = ([("hot", i, 1000 + i * 10) for i in range(5)]
              + [("cold", 100, 1000)])
    rows = _stream_through_gate(spark, tmp_path, [events],
                                window_ms=1000, limit=3)

    assert len(rows) == 6
    # hot user: first 3 admitted, then rejected with reference retry-after
    assert [rows[i].admitted for i in range(5)] == [True] * 3 + [False] * 2
    assert rows[3].retry_after_ms == 1000 + 1000 - 1030
    assert rows[100].admitted  # cold user unaffected


def test_gateway_decisions_match_batch_replay(spark, tmp_path):
    """The gate must produce the same (n_in_window, admitted,
    retry_after_ms) per event as the batch sliding-window replay
    operator — including state carried across micro-batches through
    the snapshot — and carry each payload through."""
    import datetime as dt

    from currency_market_pulse_spark.operators.sessions import (
        sliding_window_admission,
    )

    events = ([("hot", i, 1000 + i * 300) for i in range(6)]
              + [("cold", 100, 1500)])
    f1 = [e for e in events if e[1] < 3]
    f2 = [e for e in events if e[1] >= 3]
    rows = _stream_through_gate(spark, tmp_path, [f1, f2],
                                window_ms=1000, limit=2)
    live = {eid: (r.n_in_window, r.admitted, r.retry_after_ms, r.payload)
            for eid, r in rows.items()}

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


def test_gateway_late_data_matches_admit_fold(spark, tmp_path):
    """Late / event-time-regressing requests against the snapshot's
    eviction (floor = batch max - window - one-window allowance, keyed
    on each user's NEWEST entry): a late user is not evicted by
    another user's advance, a regressing user keeps its newer entry,
    and the n_in_window counts downstream of both match the
    per-user fold."""
    W = 60_000
    batches = [
        # (user, event_id, ts_ms)
        [("late", 0, 100_000), ("late", 1, 110_000),
         ("ahead", 2, 120_000), ("reg", 3, 180_000)],
        # ahead advances the horizon; reg REGRESSES (its entries are
        # no longer ts-ordered)
        [("ahead", 4, 200_000), ("reg", 5, 130_000)],
        # late returns 35 s behind the batch max (inside the
        # allowance): its [100k, 110k] entries still count -> n=3
        [("late", 6, 145_000), ("ahead", 7, 260_000)],
        # reg returns: trims to [180k] -> n=2 admitted; eviction keyed
        # on the last-appended entry (130k, below the 140k floor of
        # the previous batch) would have dropped it
        [("reg", 8, 195_000)],
    ]
    rows = _stream_through_gate(spark, tmp_path, batches,
                                window_ms=W, limit=2)
    want, _, _ = _replay(batches, W, 2)
    got = {eid: (r.n_in_window, r.admitted, r.retry_after_ms)
           for eid, r in rows.items()}
    assert got == want
    # the late return was genuinely rejected against standing entries
    assert got[6] == (3, False, 15_000)
    # the regressing user's final request counts its standing 180k
    # entry (n=2), which only survives newest-keyed eviction
    assert got[8] == (2, True, None)
