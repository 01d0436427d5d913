"""Sessionization + rate-limit-replay queries over ``events``
(operators/sessions.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from currency_market_pulse_spark.materialize import shared

from currency_market_pulse_spark.operators import sessions as S
from currency_market_pulse_spark.queries.registry import extra_query, query
from currency_market_pulse_spark.sources.catalog import ORACLE_EVENTS_CTE, load_table


@query(
    "events_sessionize",
    oracle=f"""
WITH {ORACLE_EVENTS_CTE},
seq AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events_n),
flagged AS (
  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS new_sess
  FROM seq),
sessions AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       min(ms) AS session_start_ms, max(ms) AS session_end_ms,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap)."""
    return S.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


@extra_query(
    "events_session_window_native",
    oracle=f"""
WITH {ORACLE_EVENTS_CTE},
seq AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events_n),
flagged AS (
  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS new_sess
  FROM seq),
sessions AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged)
SELECT user_id, min(ms) AS session_start_ms,
       max(ms) + 1800000 AS session_close_ms,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_seq
ORDER BY user_id, session_start_ms
""",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (30-min gap), verified
    against an INDEPENDENT formulation: the oracle derives sessions via
    lag + cumulative-sum, so this differential-checks Spark's
    session-window merge semantics themselves (window.end = last event
    + gap).  In streaming mode the same expression works with a
    watermark — the engine's session operator is mode-agnostic."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id",
                   F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id",
                F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
                F.unix_millis(F.col("sw.end")).alias("session_close_ms"),
                "n_events")
        .orderBy("user_id", "session_start_ms")
    )


@query(
    "user_conversion_funnel",
    oracle=f"""
WITH {ORACLE_EVENTS_CTE},
first_signup AS (
  SELECT user_id, min(epoch_ms(ts)) AS fs_ms FROM events_n
  WHERE event_type = 'signup' GROUP BY user_id),
first_purchase AS (
  SELECT e.user_id, min(epoch_ms(e.ts)) AS fp_ms
  FROM events_n e JOIN first_signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s.fs_ms
  GROUP BY e.user_id)
SELECT count(*) AS n_signed_up,
       count(fp_ms) AS n_converted,
       round(CAST(count(fp_ms) AS DOUBLE) / count(*), 6) AS conversion_rate,
       round(avg((fp_ms - fs_ms) / 1000.0), 3) AS avg_seconds_to_convert
FROM first_signup LEFT JOIN first_purchase USING (user_id)
""",
)
def user_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral funnel: users who signed up, the subset that later
    purchased, and mean time-to-convert — conditional sequential
    aggregation (two aggregations + one join; no per-user iteration)."""
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    # r17 (guide §3.3 materialize shared intermediates): fs feeds BOTH
    # fp's join and the final outer join — as a plain plan subtree it
    # was re-evaluated per reference, so the events table was scanned
    # SIX times in one query (plan audit: 6 Scan parquet nodes).  A
    # lazy localCheckpoint turns the duplication into RDD-level
    # sharing: the signup aggregate computes once and both joins read
    # its blocks; events is now scanned twice (once per event-type
    # filter), which is the minimum this two-stage funnel needs.
    # Per-invocation (recomputed every run); (user_id, first_ms) rows
    # only — far smaller than the event log at any scale.
    fs = shared(ev.filter(F.col("event_type") == "signup")
                .groupBy("user_id").agg(F.min(ms).alias("fs_ms")))
    fp = (ev.filter(F.col("event_type") == "purchase")
          .withColumn("ms", ms)
          .join(fs, "user_id")
          .filter(F.col("ms") >= F.col("fs_ms"))
          .groupBy("user_id").agg(F.min("ms").alias("fp_ms")))
    return (
        fs.join(fp, "user_id", "left")
        .agg(F.count("*").alias("n_signed_up"),
             F.count("fp_ms").alias("n_converted"),
             F.round(F.count("fp_ms") / F.count("*"), 6).alias("conversion_rate"),
             F.round(F.avg((F.col("fp_ms") - F.col("fs_ms")) / 1000.0), 3)
              .alias("avg_seconds_to_convert"))
    )


#: shared by the batch replay and its streaming gateway twin
#: (the two engines must agree with the SAME oracle; no per-user
#: timestamp ties exist in the events fixtures, so the RANGE-frame
#: count equals the sequential fold's count).
_RATE_LIMIT_REPLAY_ORACLE = f"""
WITH {ORACLE_EVENTS_CTE},
framed AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         count(*) OVER w AS n_in_window,
         min(epoch_ms(ts)) OVER w AS oldest_ms
  FROM events_n
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, ts_ms, n_in_window,
       n_in_window <= 3 AS admitted,
       CASE WHEN n_in_window > 3
            THEN oldest_ms + 86400000 - ts_ms END AS retry_after_ms
FROM framed ORDER BY event_id
"""


@query("rate_limit_replay", oracle=_RATE_LIMIT_REPLAY_ORACLE)
def rate_limit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the reference's sliding-window rate limiter
    (consumer/ratelimit/ratelimit.go:38-62): 24 h window, limit 3,
    retry-after = oldest + window - now for rejected requests."""
    return S.sliding_window_admission(
        load_table(spark, sf_dir, "events"),
        window_ms=86_400_000, limit=3)


@extra_query("rate_limit_replay_gateway",
             oracle=_RATE_LIMIT_REPLAY_ORACLE)
def rate_limit_replay_gateway(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The STREAMING gateway (streaming/ratelimiter.py:RateLimitGate)
    replaying the events log under the SAME DuckDB oracle as the batch
    ``rate_limit_replay`` — so the gate's decisions are differentially
    proven every round, not only by pytest.  The events are staged as
    two normalized parquet files split at the median event time and
    streamed through the gate's ``foreachBatch`` one file per
    micro-batch (availableNow), so the second batch decides against
    the snapshot the first one published.  The run terminates on its
    own: the import-side query has no state timeout.

    Everything the run stages is torn down before returning: the
    decisions are collected driver-side FIRST (they must outlive the
    staging dir the lazy plan reads), then the staging dir is removed
    in ``finally``.  The collect is bounded by construction — this is a
    replay harness run at selfcheck scale (sf0.01: 10 k decisions),
    not a registered bench query."""
    import os
    import shutil
    import tempfile

    from currency_market_pulse_spark.streaming.ratelimiter import (
        RateLimitGate,
    )

    staged = tempfile.mkdtemp(prefix="rl_gateway_replay_")
    try:
        events = (load_table(spark, sf_dir, "events")
                  .select(F.col("event_id"),
                          F.col("user_id").cast("string").alias("user_id"),
                          F.unix_millis("ts").alias("ts_ms")))
        cut = events.agg(F.percentile_approx("ts_ms", 0.5)).first()[0]
        src = os.path.join(staged, "in")
        os.makedirs(src)
        # ts-ordered halves: the oracle's RANGE frame sees the whole log
        # at once, the gate one half per batch
        for i, half in enumerate((events.filter(F.col("ts_ms") < cut),
                                  events.filter(F.col("ts_ms") >= cut))):
            part = os.path.join(staged, f"half{i}")
            half.coalesce(1).write.parquet(part)
            (name,) = [n for n in os.listdir(part) if n.endswith(".parquet")]
            os.rename(os.path.join(part, name),
                      os.path.join(src, f"half{i}.parquet"))
            os.utime(os.path.join(src, f"half{i}.parquet"),
                     (1_000_000 + i * 100,) * 2)
        gate = RateLimitGate(os.path.join(staged, "gateway_state"),
                             window_ms=86_400_000, limit=3)
        out = os.path.join(staged, "decisions")

        def each(batch: DataFrame, batch_id: int) -> None:
            with gate.decide(batch, batch_id) as gb:
                (gb.decisions
                 .withColumn("batch_id", F.lit(batch_id))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id").parquet(out))
                gate.publish(gb)

        q = (spark.readStream
             .schema("event_id long, user_id string, ts_ms long")
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.foreachBatch(each)
             .option("checkpointLocation", os.path.join(staged, "_ckpt"))
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(300):
                raise TimeoutError("gateway replay never terminated")
            if q.exception() is not None:
                raise q.exception()
        finally:
            q.stop()
        if gate.snapshot_ids()[-1] < 1:
            raise RuntimeError("gateway replay ran in one batch")
        out_schema = ("event_id long, user_id long, ts_ms long, "
                      "n_in_window long, admitted boolean, "
                      "retry_after_ms long")
        rows = (spark.read.parquet(out)
                .select(F.col("event_id"),
                        F.col("user_id").cast("bigint").alias("user_id"),
                        F.col("ts_ms"),
                        F.col("n_in_window").cast("bigint")
                        .alias("n_in_window"),
                        F.col("admitted"),
                        F.col("retry_after_ms"))
                .orderBy("event_id").collect())
        return spark.createDataFrame(rows, out_schema)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
