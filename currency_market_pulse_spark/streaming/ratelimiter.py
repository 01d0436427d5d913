"""Stateful sliding-window rate limiter — the streaming twin of
operators/sessions.py:sliding_window_admission, and the engine's one
genuinely stateful custom operator (SURVEY §2.4 T3).

Reference (consumer/ratelimit/ratelimit.go:38-62): per user, a Redis
ZSET of request timestamps; each request atomically trims entries older
than now-duration, adds itself, counts, and rejects with
retry-after = oldest + duration - now when count > limit.  State expiry
mirrors Expire(duration) (ratelimit.go:46).

Spark mapping: applyInPandasWithState keyed by user_id; state = the
in-window timestamp list (exactly the ZSET contents); a processing-time
timeout drops idle users' state like Redis key expiry.  Partitioning by
user_id spreads hot keys across executors; state size is bounded by the
per-user request rate inside one window.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_WINDOW_MS = 1_000  # --ratelimit.duration 1s (compose.yml:6)
DEFAULT_LIMIT = 100        # --ratelimit.limit 100  (compose.yml:6)

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.StringType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("n_in_window", T.IntegerType()),
    T.StructField("admitted", T.BooleanType()),
    T.StructField("retry_after_ms", T.LongType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("recent_ms", T.ArrayType(T.LongType())),
])

#: Gateway variant: admission decision + the opaque request payload
#: carried through, so admitted requests continue down the pipeline
#: with their full content — the reference consumer's shape (rate-limit
#: the HTTP request, forward the body to Kafka on admit).
GATEWAY_OUTPUT_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("payload", T.StringType())])


def admit_fold(recent: list[int], ts_ms: int, window_ms: int,
               limit: int) -> tuple[list[int], int, bool, int | None]:
    """One request through the limiter: trim -> add -> count -> decide.
    Pure function = unit-testable without Spark; identical math to
    ratelimit.go:43-60."""
    floor = ts_ms - window_ms
    recent = [t for t in recent if t >= floor]   # ZRemRangeByScore
    recent.append(ts_ms)                         # ZAdd
    n = len(recent)                              # ZRangeWithScores count
    if n <= limit:
        return recent, n, True, None
    return recent, n, False, recent[0] + window_ms - ts_ms


def _make_fold(window_ms: int, limit: int, with_payload: bool = False):
    # Per-GROUP cost is the scaling axis at realistic user
    # cardinality: a 2,000-row trigger at 100k users is ~2,000
    # single-row groups, so this closure runs ~2,000 times per batch
    # and every avoidable pandas call in it multiplies (measured:
    # gateway trigger p50 2.08 s at 100k users vs 0.96 s at 50,
    # STREAM_BENCH_cardinality.json).  Hence the shape below: no
    # pd.concat for the common single-chunk group, no sort for
    # single-row groups, column numpy views instead of itertuples.
    def fold(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (recent,) = state.get if state.exists else ([],)
        recent = list(recent)
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        if len(rows) > 1:
            rows = rows.sort_values(["ts_ms", "event_id"])
        ts_a = rows["ts_ms"].to_numpy()
        n_out = [0] * len(ts_a)
        ok_out = [False] * len(ts_a)
        retry_out: list = [None] * len(ts_a)
        for j in range(len(ts_a)):
            recent, n, ok, retry = admit_fold(
                recent, int(ts_a[j]), window_ms, limit)
            n_out[j], ok_out[j], retry_out[j] = n, ok, retry
        out = {"user_id": key[0],
               "event_id": rows["event_id"].to_numpy(),
               "ts_ms": ts_a,
               "n_in_window": pd.array(n_out, dtype="int32"),
               "admitted": ok_out,
               "retry_after_ms": pd.array(retry_out, dtype="Int64")}
        if with_payload:
            out["payload"] = rows["payload"].to_numpy()
        state.update((recent,))
        state.setTimeoutDuration(window_ms)  # Redis Expire(duration)
        yield pd.DataFrame(out)

    return fold


def rate_limit_stream(events: DataFrame,
                      window_ms: int = DEFAULT_WINDOW_MS,
                      limit: int = DEFAULT_LIMIT) -> DataFrame:
    """Apply the limiter to a stream with columns
    (user_id string, event_id long, ts_ms long).  Emits one admission
    decision per event.  limit <= 0 or window <= 0 disables limiting
    entirely (no state, pure pass-through — ratelimit.go:15-19 T4)."""
    if limit <= 0 or window_ms <= 0:
        from pyspark.sql import functions as F
        return events.select(
            "user_id", "event_id", "ts_ms",
            F.lit(1).alias("n_in_window"),
            F.lit(True).alias("admitted"),
            F.lit(None).cast("long").alias("retry_after_ms"))
    return (events.groupBy("user_id")
            .applyInPandasWithState(
                _make_fold(window_ms, limit),
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


def rate_limit_gateway(requests: DataFrame,
                       window_ms: int = DEFAULT_WINDOW_MS,
                       limit: int = DEFAULT_LIMIT) -> DataFrame:
    """Gateway form of the limiter: input carries (user_id, event_id,
    ts_ms, payload string); output is every request's admission
    decision WITH its payload, so admitted requests flow onward intact
    — the reference consumer's exact shape (ratelimit.go gate in front
    of the Kafka produce).  Same state machine as rate_limit_stream;
    limit/window <= 0 is the no-op pass-through (T4)."""
    if limit <= 0 or window_ms <= 0:
        from pyspark.sql import functions as F
        return requests.select(
            "user_id", "event_id", "ts_ms",
            F.lit(1).alias("n_in_window"),
            F.lit(True).alias("admitted"),
            F.lit(None).cast("long").alias("retry_after_ms"),
            "payload")
    return (requests.groupBy("user_id")
            .applyInPandasWithState(
                _make_fold(window_ms, limit, with_payload=True),
                outputStructType=GATEWAY_OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


# ---- bucketed gateway: the cardinality-scale variant ----------------

#: bucket-keyed state: the in-window timestamp lists of EVERY user in
#: the bucket, as parallel arrays (a map encoded the way the state
#: encoder likes).
BUCKET_STATE_SCHEMA = T.StructType([
    T.StructField("users", T.ArrayType(T.StringType())),
    T.StructField("recents",
                  T.ArrayType(T.ArrayType(T.LongType()))),
])

#: sized for ~2,000-row triggers: groups-per-trigger must drop WELL
#: below the row count to pay (2,000 md5-uniform draws into 1,024
#: slots still touch ~880 — measured as NO win; into 128 they touch
#: all 128 and the per-group framework cost divides by ~15).  Scale
#: with offered rows-per-trigger x executor count, not user count.
DEFAULT_GATEWAY_BUCKETS = 128


def auto_buckets(rows_per_trigger: int, min_parallelism: int = 32,
                 target_rows_per_group: int = 16,
                 max_buckets: int = 65_536) -> int:
    """Bucket count for ``rate_limit_gateway_bucketed`` from the
    measured physics (STREAM_BENCH_cardinality.json / SCALE.md Round
    13): the stateful op's cost scales with GROUPS per trigger, so
    buckets must sit well below the offered rows-per-trigger for the
    per-group framework cost to amortize — ~``target_rows_per_group``
    rows per bucket per trigger reproduces the measured sweet spot
    (2,000-row triggers -> 128 buckets ~= 15.6 rows/group, which
    erased the 100k-user penalty; 1,024 buckets at the same rate was
    measured as NO win because 2,000 uniform draws still touch ~880
    groups).  Clamped below by ``min_parallelism`` (buckets are also
    the operator's parallelism — size it >= ~4x the state-store
    partition count so every executor core has work) and above by
    ``max_buckets`` (beyond which per-trigger state serialization,
    ~users-in-window/buckets rows per bucket, stops shrinking).
    """
    if rows_per_trigger <= 0:
        return min_parallelism
    want = -(-rows_per_trigger // target_rows_per_group)
    n = 1 << max(0, int(want - 1).bit_length())   # next pow2
    return max(min(n, max_buckets), min_parallelism)


#: offered rows per trigger above which the bucketed gateway is worth
#: its value-serialization cost — the measured regime where per-user
#: GROUPS per trigger pace the stateful op (SCALE.md Round 13/14:
#: 2,000-row triggers at 100k+ users ran ~2x faster bucketed; at
#: <=100-ish active users or low rates the per-user fold wins because
#: the bucketed fold only adds map-value serialization).
PROMOTION_ROWS_PER_TRIGGER = 1_000


def select_gateway_buckets(rows_per_trigger: int | None,
                           min_parallelism: int = 32) -> int | None:
    """The gateway promotion criterion, as code (VERDICT r14
    directive 4): returns None (run the per-user gateway) below
    ``PROMOTION_ROWS_PER_TRIGGER`` offered rows per trigger, else the
    ``auto_buckets``-sized bucket count.  Callers pass
    ``gateway_buckets="auto"`` + the expected offered rate to
    ``run_composed_pipeline`` and this rule picks the state layout;
    decisions are identical either way (oracle-proven every round by
    ``rate_limit_replay_bucketed``)."""
    if not rows_per_trigger or rows_per_trigger < \
            PROMOTION_ROWS_PER_TRIGGER:
        return None
    return auto_buckets(rows_per_trigger,
                        min_parallelism=min_parallelism)


def _make_bucket_fold(window_ms: int, limit: int,
                      late_allowance_ms: int):
    def fold(key, pdfs, state) -> "pd.DataFrame":
        if state.hasTimedOut:
            state.remove()
            return
        users, recents = (state.get if state.exists else ([], []))
        m = dict(zip(users, (list(r) for r in recents)))
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        if len(rows) > 1:
            rows = rows.sort_values(["ts_ms", "event_id"])
        uid_a = rows["user_id"].to_numpy()
        ts_a = rows["ts_ms"].to_numpy()
        n_out = [0] * len(ts_a)
        ok_out = [False] * len(ts_a)
        retry_out: list = [None] * len(ts_a)
        for j in range(len(ts_a)):
            rec, n, ok, retry = admit_fold(
                m.get(uid_a[j], []), int(ts_a[j]), window_ms, limit)
            m[uid_a[j]] = rec
            n_out[j], ok_out[j], retry_out[j] = n, ok, retry
        # state hygiene: drop users whose NEWEST entry (max, not the
        # last appended — entries are unsorted under cross-batch
        # event-time regression, ADVICE r13) has fallen
        # ``late_allowance_ms`` beyond the in-window horizon of the
        # bucket's max observed event time — the bucketed analogue of
        # the per-user ProcessingTimeTimeout (there the engine expired
        # idle USERS by processing time; here the bucket stays live
        # under steady traffic, so idle users inside it are evicted by
        # watermarked event time instead).  The allowance is the
        # late-data guard: a user's next request carrying an event
        # time up to ``late_allowance_ms`` behind a co-bucketed
        # user's max still finds its state intact, so decisions match
        # the per-user operator for any stream whose per-bucket
        # event-time lateness stays within the allowance
        # (test-pinned, test_bucketed_gateway_late_data_*).  Beyond
        # it the two variants legitimately diverge — in the same way
        # the per-user engine timeout itself forgets state across a
        # window_ms processing-time idle gap.
        if len(ts_a):
            floor = int(ts_a.max()) - window_ms - late_allowance_ms
            m = {u: r for u, r in m.items() if r and max(r) >= floor}
        out = {"user_id": uid_a,
               "event_id": rows["event_id"].to_numpy(),
               "ts_ms": ts_a,
               "n_in_window": pd.array(n_out, dtype="int32"),
               "admitted": ok_out,
               "retry_after_ms": pd.array(retry_out, dtype="Int64"),
               "payload": rows["payload"].to_numpy()}
        state.update((list(m.keys()), list(m.values())))
        state.setTimeoutDuration(window_ms)
        yield pd.DataFrame(out)

    return fold


def rate_limit_gateway_bucketed(
        requests: DataFrame,
        window_ms: int = DEFAULT_WINDOW_MS,
        limit: int = DEFAULT_LIMIT,
        buckets: int = DEFAULT_GATEWAY_BUCKETS,
        late_allowance_ms: int | None = None) -> DataFrame:
    """The gateway keyed by ``xxhash64(user_id) % buckets`` instead of
    by raw user_id — Redis-Cluster hash slots in Spark terms.

    Why: applyInPandasWithState invokes the Python fold once per
    GROUP, and at realistic cardinality a 2,000-row trigger is ~2,000
    single-row groups — the measured scaling axis of the gateway
    (STREAM_BENCH_cardinality.json: trigger p50 0.92 s at 50 users
    vs 1.7-1.9 s at 100k, with a trivial fold costing the same, so
    the cost is per-group framework overhead, not the admission
    math).  Bucketing caps groups-per-trigger at ``buckets`` while
    the per-user trim->add->count->decide math stays IDENTICAL
    (equality with the per-user operator is test-pinned,
    tests/test_ratelimit_stream.py).

    Scale shape: state per bucket = the in-window (+ allowance)
    entries of its users (~users/buckets per bucket, md5-uniform user
    ids keep buckets balanced); size ``buckets`` with the offered
    rows-per-trigger x executor count — ``auto_buckets`` encodes the
    measured rule — it is the parallelism knob exactly like the
    near-dup index's bucket count.  Semantic delta vs per-user:
    idle-user state is evicted by EVENT time inside the fold (floor =
    bucket max event time - window - ``late_allowance_ms``, default
    one extra window) rather than by the engine's processing-time
    timeout (the bucket itself stays hot).  Admission decisions match
    the per-user operator whenever per-bucket event-time lateness
    stays within the allowance; a request later than that may be
    over-admitted where the per-user variant would still have counted
    the evicted entries (mirror image: the per-user engine timeout
    forgets state across a window_ms processing-time idle gap, which
    this variant does not).  Raise the allowance for streams with
    deeper disorder — state grows linearly in it.

    Reference: consumer/ratelimit/ratelimit.go:38-47 keys a shared
    Redis per user — a hash-slot CLUSTER of that Redis is this exact
    layout."""
    from pyspark.sql import functions as F

    if late_allowance_ms is None:
        late_allowance_ms = window_ms
    if limit <= 0 or window_ms <= 0:
        return requests.select(
            "user_id", "event_id", "ts_ms",
            F.lit(1).alias("n_in_window"),
            F.lit(True).alias("admitted"),
            F.lit(None).cast("long").alias("retry_after_ms"),
            "payload")
    keyed = requests.withColumn(
        "_bucket", F.pmod(F.xxhash64("user_id"),
                          F.lit(buckets)).cast("int"))
    return (keyed.groupBy("_bucket")
            .applyInPandasWithState(
                _make_bucket_fold(window_ms, limit, late_allowance_ms),
                outputStructType=GATEWAY_OUTPUT_SCHEMA,
                stateStructType=BUCKET_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))
