"""Sliding-window rate limiter — the streaming twin of
operators/sessions.py:sliding_window_admission.

Reference (consumer/ratelimit/ratelimit.go:38-62): per user, a Redis
ZSET of request timestamps; each request atomically trims entries older
than now-duration, adds itself, counts, and rejects with
retry-after = oldest + duration - now when count > limit.

Spark mapping: a STATELESS gate run inside the import query's
``foreachBatch``.  The standing state is a small parquet snapshot
``(user_id, ts_ms, seq)`` — every user's in-window entries, ``seq``
their ZSET insertion order — under ``state_path/batch_id=B``.  Batch B
reads the newest snapshot strictly below B, decides every request with
Catalyst window functions over (snapshot UNION micro-batch), and
publishes its own snapshot (tmp + fsync + rename) only after the
caller has committed the batch's outputs.  A replayed batch never sees
its own earlier publish, so it recomputes identical decisions — the
batch-id discipline of streaming/reservoir_stream.py.  No Python UDF
and no state-store operator: the import query's progress reports no
``stateOperators`` and, with no input, it runs no micro-batches.

Per user, with this batch's rows ordered by (ts_ms, event_id), the
window terms reproduce a sequential ``admit_fold`` replay exactly,
timestamp ties and cross-batch event-time regressions included:

- ``n_in_window`` = snapshot entries with ts >= t - W (no upper bound:
  a regressed request still counts the newer entries it did not trim)
  + the row's rank among this batch's rows - this batch's rows with
  ts < t - W (the trims inside the batch; rows are ts-ordered, so the
  floor only rises);
- ``retry_after_ms`` = oldest + W - t, where oldest is the lowest-seq
  surviving snapshot entry, else the earliest in-window batch row
  (``recent[0]`` of the fold);
- the next snapshot keeps each active user's entries with ts >= that
  user's last ts - W, renumbered (snapshot entries first by seq, then
  batch rows by (ts_ms, event_id)), and drops users whose newest entry
  is below ``batch max ts - 2 W``.  The second window is the late-data
  allowance: a request up to one window behind the batch's newest
  event time, beyond its own window, still finds its user's entries;
  later than that it is admitted against an empty window.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.streaming.segment_store import (
    fsync_path, replace_durably,
)

DEFAULT_WINDOW_MS = 1_000  # --ratelimit.duration 1s (compose.yml:6)
DEFAULT_LIMIT = 100        # --ratelimit.limit 100  (compose.yml:6)

STATE_SCHEMA = "user_id string, ts_ms bigint, seq int"
_PREFIX = "batch_id="


def admit_fold(recent: list[int], ts_ms: int, window_ms: int,
               limit: int) -> tuple[list[int], int, bool, int | None]:
    """One request through the limiter: trim -> add -> count -> decide.
    Pure function = unit-testable without Spark; identical math to
    ratelimit.go:43-60.  The reference the gate is tested against."""
    floor = ts_ms - window_ms
    recent = [t for t in recent if t >= floor]   # ZRemRangeByScore
    recent.append(ts_ms)                         # ZAdd
    n = len(recent)                              # ZRangeWithScores count
    if n <= limit:
        return recent, n, True, None
    return recent, n, False, recent[0] + window_ms - ts_ms


@dataclass
class GateBatch:
    """One micro-batch's decisions.  ``decisions`` is the batch's own
    columns plus ``n_in_window``, ``admitted`` and ``retry_after_ms``;
    ``n_rejected`` and ``max_ts`` come from one aggregate over it.
    Use as a context manager: exit releases the cached relation."""

    batch_id: int
    decisions: DataFrame
    n_rejected: int
    max_ts: "int | None" = None
    read_id: "int | None" = None
    _rows: "DataFrame | None" = None

    def __enter__(self) -> "GateBatch":
        return self

    def __exit__(self, *exc) -> None:
        if self._rows is not None:
            self._rows.unpersist()


@dataclass
class RateLimitGate:
    """The gate over one snapshot directory; see the module docstring.
    ``limit <= 0`` or ``window_ms <= 0`` disables limiting entirely
    (pure pass-through, no snapshot — ratelimit.go:15-19 T4)."""

    state_path: str
    window_ms: int = DEFAULT_WINDOW_MS
    limit: int = DEFAULT_LIMIT

    # -- snapshot ids ---------------------------------------------------
    def snapshot_ids(self) -> list[int]:
        """Published snapshot ids, ascending.  Stray names under the
        prefix (a manual ``batch_id=5 (1)`` copy) are skipped."""
        try:
            names = os.listdir(self.state_path)
        except FileNotFoundError:
            return []
        out = []
        for name in names:
            if name.startswith(_PREFIX):
                try:
                    out.append(int(name[len(_PREFIX):]))
                except ValueError:
                    continue
        return sorted(out)

    def _dir(self, snap_id: int) -> str:
        return os.path.join(self.state_path, f"{_PREFIX}{snap_id}")

    def read_snapshot(self, spark, snap_id: int) -> DataFrame:
        return spark.read.schema(STATE_SCHEMA).parquet(self._dir(snap_id))

    # -- the decision ---------------------------------------------------
    def decide(self, batch: DataFrame, batch_id: int) -> GateBatch:
        """Admission decisions for micro-batch ``batch_id`` (columns
        user_id, event_id, ts_ms, plus any carried payload).  Caches
        the windowed relation until the returned GateBatch exits."""
        if self.limit <= 0 or self.window_ms <= 0:
            return GateBatch(batch_id, batch.withColumns({
                "n_in_window": F.lit(1),
                "admitted": F.lit(True),
                "retry_after_ms": F.lit(None).cast("long")}), 0)
        W = self.window_ms
        prior = [i for i in self.snapshot_ids() if i < batch_id]
        read_id = prior[-1] if prior else None
        rows = batch.withColumn("_src", F.lit(1))
        if read_id is None:
            rows = rows.withColumn("seq", F.lit(None).cast("int"))
        else:
            rows = (self.read_snapshot(batch.sparkSession, read_id)
                    .withColumn("_src", F.lit(0))
                    .unionByName(rows, allowMissingColumns=True))

        user = Window.partitionBy("user_id")
        by_ts = user.orderBy("ts_ms")
        snap_row = F.col("_src") == 0
        batch_row = F.col("_src") == 1
        kept = by_ts.rangeBetween(-W, Window.unboundedFollowing)
        n = (F.count(F.when(snap_row, 1)).over(kept)
             + F.count(F.when(batch_row, 1)).over(
                 user.orderBy("ts_ms", "event_id").rowsBetween(
                     Window.unboundedPreceding, Window.currentRow))
             - F.count(F.when(batch_row, 1)).over(
                 by_ts.rangeBetween(Window.unboundedPreceding, -W - 1)))
        oldest = F.coalesce(
            F.min(F.when(snap_row, F.struct("seq", "ts_ms")))
            .over(kept).getField("ts_ms"),
            F.min(F.when(batch_row, F.col("ts_ms"))).over(
                by_ts.rangeBetween(-W, Window.currentRow)))
        rows = rows.withColumns({
            "n_in_window": n.cast("int"),
            "_oldest": oldest,
            "_last": F.max(F.when(batch_row, F.col("ts_ms"))).over(user),
            "_newest": F.max("ts_ms").over(user),
        })
        rejected = F.col("n_in_window") > self.limit
        rows = rows.withColumns({
            "admitted": ~rejected,
            "retry_after_ms": F.when(
                rejected, F.col("_oldest") + W - F.col("ts_ms")),
        }).persist()
        decisions = rows.filter(batch_row).select(
            *batch.columns, "n_in_window", "admitted", "retry_after_ms")
        stats = decisions.agg(F.max("ts_ms"),
                              F.count_if(~F.col("admitted"))).first()
        return GateBatch(batch_id, decisions, int(stats[1]), stats[0],
                         read_id, rows)

    # -- the snapshot ---------------------------------------------------
    def publish(self, gb: GateBatch) -> None:
        """Write batch ``gb.batch_id``'s snapshot, then drop every
        snapshot older than the one it read.  Call only after the
        batch's outputs are committed: a crash before this point
        replays the batch against the same predecessor."""
        if gb._rows is None:
            return
        W = self.window_ms
        keep = (F.col("_last").isNull()
                | (F.col("ts_ms") >= F.col("_last") - W))
        if gb.max_ts is not None:
            keep &= F.col("_newest") >= gb.max_ts - 2 * W
        order = Window.partitionBy("user_id").orderBy(
            "_src", "seq", "ts_ms", "event_id")
        nxt = gb._rows.filter(keep).select(
            "user_id", "ts_ms",
            F.row_number().over(order).cast("int").alias("seq"))
        self._write(nxt, gb.batch_id)
        for old in self.snapshot_ids():
            if gb.read_id is not None and old < gb.read_id:
                shutil.rmtree(self._dir(old), ignore_errors=True)

    def _write(self, df: DataFrame, batch_id: int) -> None:
        os.makedirs(self.state_path, exist_ok=True)
        final = self._dir(batch_id)
        # underscore-prefixed: invisible to snapshot_ids and to Spark
        tmp = os.path.join(self.state_path, f"_tmp_{_PREFIX}{batch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        # one data file under a fixed name, so a replay publishes the
        # same bytes under the same path; Spark's markers and checksum
        # files go
        parts = sorted(n for n in os.listdir(tmp) if n.endswith(".parquet"))
        for name in os.listdir(tmp):
            if name not in parts:
                os.remove(os.path.join(tmp, name))
        for i, name in enumerate(parts):
            dst = os.path.join(tmp, f"part-{i:05d}.parquet")
            os.rename(os.path.join(tmp, name), dst)
            fsync_path(dst)
        # a replay's earlier publish of this id holds identical content
        shutil.rmtree(final, ignore_errors=True)
        replace_durably(tmp, final)
