"""Session and admission-control operators over event streams.

``sliding_window_admission`` is the BATCH formulation of the
reference's Redis sliding-window rate limiter
(consumer/ratelimit/ratelimit.go:38-62): count requests per user inside
a trailing window (including the current one), admit while
count <= limit, and compute the same retry-after the reference returns
(oldest-in-window + window - now; ratelimit.go:56-59).  The STREAMING
formulation (the same window counts per micro-batch, over a state
snapshot carried between batches) lives in streaming/ratelimiter.py; this one answers "replay the log and find
every request that would have been throttled" at any scale with one
shuffle on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30,
               user_col: str = "user_id", ts_col: str = "ts",
               id_col: str = "event_id") -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds ``gap_minutes``.
    One shuffle on user; linear per-partition window scans."""
    gap_ms = gap_minutes * 60_000
    ms = F.unix_millis(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = (
        events
        .withColumn("_ms", ms)
        .withColumn("_prev_ms", F.lag("_ms").over(w))
        .withColumn("_new", F.when(
            F.col("_prev_ms").isNull()
            | (F.col("_ms") - F.col("_prev_ms") > gap_ms), 1).otherwise(0))
        .withColumn("session_seq", F.sum("_new").over(run))
    )
    return (
        with_sess.groupBy(F.col(user_col), F.col("session_seq"))
        .agg(F.min("_ms").alias("session_start_ms"),
             F.max("_ms").alias("session_end_ms"),
             F.count("*").alias("n_events"))
        # r17: no terminal ORDER BY (presentation only)
    )


def sliding_window_admission(events: DataFrame,
                             window_ms: int = 86_400_000,
                             limit: int = 3,
                             user_col: str = "user_id",
                             ts_col: str = "ts",
                             id_col: str = "event_id") -> DataFrame:
    """Sliding-window rate-limit replay (reference semantics):

    - n_in_window: requests by this user in [t - window, t], current
      included (ZRemRangeByScore + ZAdd + count, ratelimit.go:43-49)
    - admitted: n_in_window <= limit (ratelimit.go:54: reject if >)
    - retry_after_ms: oldest-in-window + window - now, only when
      rejected (ratelimit.go:56-59)
    - limit <= 0 or window <= 0 DISABLES limiting: everything admitted
      with n_in_window echoing the window count=1 convention of a
      no-op pass-through (ratelimit.go:15-19,27-30 — T4)
    """
    if limit <= 0 or window_ms <= 0:
        return (events
                .select(id_col, user_col,
                        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
                        F.lit(1).alias("n_in_window"),
                        F.lit(True).alias("admitted"),
                        F.lit(None).cast("long").alias("retry_after_ms")))
    ms = F.unix_millis(F.col(ts_col))
    frame = (Window.partitionBy(user_col).orderBy(ms)
             .rangeBetween(-window_ms, 0))
    df = (events
          .withColumn("ts_ms", ms)
          .withColumn("n_in_window", F.count("*").over(frame))
          .withColumn("oldest_ms", F.min("ts_ms").over(frame)))
    rejected = F.col("n_in_window") > limit
    return (
        df.select(
            id_col, user_col, "ts_ms", "n_in_window",
            (~rejected).alias("admitted"),
            F.when(rejected,
                   F.col("oldest_ms") + window_ms - F.col("ts_ms")).alias("retry_after_ms"),
        )
        # r17: no terminal ORDER BY (presentation only)
    )
