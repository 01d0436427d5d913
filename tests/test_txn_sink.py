"""TxnParquetTradesSink: the crash matrix from txn_sink.py's protocol
(stage -> manifest commit -> publish) plus the end-to-end property the
composed pipeline cites (streaming/pipeline.py): a ``readStream.parquet``
live view over the sink equals the batch result bit-for-bit across an
injected mid-batch crash-replay of the import query.

Crash windows proven here (txn_sink.py module docstring):
  (a) crash after staging, BEFORE the manifest commit -> replay
      regenerates; the visible tree was never touched;
  (b) crash MID-PUBLISH (manifest durable, some files renamed) ->
      replay rolls FORWARD from the recorded manifest — final paths
      appear exactly once, with the ORIGINAL attempt's content, even
      when the replayed batch data differs;
  (c) crash after publish, before the checkpoint commit -> the
      replayed write is a byte-level no-op: no new paths, no rewrites.

Also: a tree written by the removed plain parquet sink is refused
untouched, a URI sink path is refused, a root whose first batch is
past 0 checkpoints, and the sink's introspection surface (committed_batches /
visible_files) carries the same evidence the JDBC sink's replay test
does (VERDICT r8 directive 7).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import pytest
from pyspark.sql import Row, functions as F

from currency_market_pulse_spark.streaming import txn_sink as ts
from currency_market_pulse_spark.streaming.ingest import read_trades_files
from currency_market_pulse_spark.streaming.importer import run_import
from currency_market_pulse_spark.streaming.txn_sink import (
    TxnParquetTradesSink,
)

#: what a batch reader sees under the sink (normalized trades +
#: the sink's partition columns)
SINK_SCHEMA = (
    "user_id string, currency_from string, currency_to string, "
    "amount_sell_micros long, amount_buy_micros long, rate double, "
    "originating_country string, time_placed timestamp, "
    "trade_date date, batch_id long")


def _batch(spark, ids, day=1, tag="EUR"):
    """Rows with deterministic content; ``day`` picks the trade_date
    partition so multi-date batches stage >1 final file."""
    return spark.createDataFrame([Row(
        user_id=f"u{i}", currency_from=tag, currency_to="GBP",
        amount_sell_micros=1_000_000 * (i + 1),
        amount_buy_micros=2_000_000,
        rate=2.0 / (i + 1), originating_country="FR",
        time_placed=dt.datetime(2024, 1, day, 12, 0, i)) for i in ids])


def _rows(spark, path):
    return {tuple(r) for r in
            spark.read.schema(SINK_SCHEMA).parquet(path)
            .drop("trade_date", "batch_id").collect()}


def _tree_snapshot(sink):
    """(relpath, size, mtime_ns) of every visible file — any rewrite,
    rename, or re-add changes this."""
    out = []
    for rel in sink.visible_files():
        st = os.stat(os.path.join(sink.path, rel))
        out.append((rel, st.st_size, st.st_mtime_ns))
    return sorted(out)


# ---------------------------------------------------------------------
# window (a): crash after staging, before the manifest commit
# ---------------------------------------------------------------------

def test_crash_before_manifest_commit_replay_regenerates(
        spark, tmp_path, monkeypatch):
    sink = TxnParquetTradesSink(str(tmp_path / "out"))
    real_replace = os.replace

    def crash_on_manifest(src, dst):
        if str(dst).endswith(".json"):
            raise RuntimeError("injected crash before manifest commit")
        return real_replace(src, dst)

    monkeypatch.setattr(ts.os, "replace", crash_on_manifest)
    batch = _batch(spark, range(5))
    with pytest.raises(RuntimeError, match="before manifest commit"):
        sink.write(batch, batch_id=0)

    # nothing committed, nothing visible — the crashed attempt left
    # only invisible staged leftovers
    assert sink.committed_batches() == []
    assert sink.visible_files() == []

    # replay (process restart): regenerates from the batch data
    monkeypatch.undo()
    sink.write(batch, batch_id=0)
    assert sink.committed_batches() == [0]
    assert len(sink.visible_files()) >= 1
    assert _rows(spark, sink.path) == {tuple(r) for r in batch.collect()}
    # staged leftovers cleaned up
    assert not os.path.exists(sink._staged(0))


# ---------------------------------------------------------------------
# window (b): crash mid-publish -> roll forward from the manifest
# ---------------------------------------------------------------------

def test_crash_mid_publish_rolls_forward_original_content(
        spark, tmp_path, monkeypatch):
    sink = TxnParquetTradesSink(str(tmp_path / "out"))
    real_replace = os.replace
    published = {"n": 0}

    def crash_after_first_publish(src, dst):
        if str(dst).endswith(".parquet"):
            if published["n"] >= 1:
                raise RuntimeError("injected crash mid-publish")
            published["n"] += 1
        return real_replace(src, dst)

    # two trade dates -> two final files -> a real mid-publish window
    original = (_batch(spark, range(3), day=1)
                .union(_batch(spark, range(3, 6), day=2)))
    monkeypatch.setattr(ts.os, "replace", crash_after_first_publish)
    with pytest.raises(RuntimeError, match="mid-publish"):
        sink.write(original, batch_id=0)

    # the commit point passed: manifest durable, publish half-done
    assert sink.committed_batches() == [0]
    assert len(sink.visible_files()) == 1
    with open(sink._manifest(0)) as f:
        manifest = json.load(f)
    assert len(manifest["files"]) >= 2

    # replay delivers DIFFERENT data under the same batch id (replays
    # never guarantee identical partitioning/row order) — roll-forward
    # must republish the RECORDED files and ignore the replayed data
    monkeypatch.undo()
    replayed = (_batch(spark, range(3), day=1, tag="USD")
                .union(_batch(spark, range(3, 6), day=2, tag="USD")))
    sink.write(replayed, batch_id=0)

    visible = sink.visible_files()
    assert sorted(visible) == sorted(f for _, f in manifest["files"])
    # content is the ORIGINAL attempt's, exactly once
    got = _rows(spark, sink.path)
    assert got == {tuple(r) for r in original.collect()}
    assert not any(t[1] == "USD" for t in got)
    assert not os.path.exists(sink._staged(0))


def test_mid_publish_with_lost_staged_source_raises(
        spark, tmp_path, monkeypatch):
    """If a committed manifest's unpublished staged source is GONE the
    sink must refuse loudly (txn_sink._publish's invariant) — silently
    regenerating would put a second content under a visible path."""
    import shutil

    sink = TxnParquetTradesSink(str(tmp_path / "out"))
    real_replace = os.replace
    published = {"n": 0}

    def crash_after_first_publish(src, dst):
        if str(dst).endswith(".parquet"):
            if published["n"] >= 1:
                raise RuntimeError("injected crash mid-publish")
            published["n"] += 1
        return real_replace(src, dst)

    original = (_batch(spark, range(2), day=1)
                .union(_batch(spark, range(2, 4), day=2)))
    monkeypatch.setattr(ts.os, "replace", crash_after_first_publish)
    with pytest.raises(RuntimeError, match="mid-publish"):
        sink.write(original, batch_id=0)
    monkeypatch.undo()

    shutil.rmtree(sink._staged(0))  # simulate external data loss
    with pytest.raises(IOError, match="invariant broken"):
        sink.write(original, batch_id=0)


# ---------------------------------------------------------------------
# window (c): crash after publish, before the checkpoint commit
# ---------------------------------------------------------------------

def test_replay_after_full_publish_is_byte_level_noop(spark, tmp_path):
    sink = TxnParquetTradesSink(str(tmp_path / "out"))
    original = (_batch(spark, range(3), day=1)
                .union(_batch(spark, range(3, 6), day=2)))
    sink.write(original, batch_id=0)
    before = _tree_snapshot(sink)
    assert len(before) >= 2

    # checkpoint never committed -> the engine re-delivers batch 0;
    # even with different replayed data the write must be a no-op
    replayed = (_batch(spark, range(3), day=1, tag="USD")
                .union(_batch(spark, range(3, 6), day=2, tag="USD")))
    sink.write(replayed, batch_id=0)

    assert _tree_snapshot(sink) == before  # no new paths, no rewrites
    assert _rows(spark, sink.path) == {tuple(r) for r in original.collect()}


def test_distinct_batches_append_and_introspect(spark, tmp_path):
    """Introspection surface (VERDICT r8 directive 7): the same
    replay-dedup evidence the JDBC sink's test carries, expressed over
    committed_batches()/visible_files()."""
    sink = TxnParquetTradesSink(str(tmp_path / "out"))
    sink.write(_batch(spark, range(3), day=1), batch_id=0)
    sink.write(_batch(spark, range(3, 5), day=1), batch_id=1)
    sink.write(_batch(spark, range(3), day=1), batch_id=0)  # replay
    # a stray manual copy in the log is not a batch (ADVICE r16)
    with open(os.path.join(sink.path, "_txn", "batch=5 (1).json"), "w") as f:
        f.write("{}")

    assert sink.committed_batches() == [0, 1]
    visible = sink.visible_files()
    # every visible path carries its batch in the path (write-once key)
    assert all("batch_id=" in v and v.endswith(".parquet") for v in visible)
    assert len({v.split("/")[1] for v in visible}) == 2
    df = spark.read.schema(SINK_SCHEMA).parquet(sink.path)
    assert df.count() == 5
    assert df.select("user_id").distinct().count() == 5


# ---------------------------------------------------------------------
# upgrade guard: a tree written by the removed plain sink
# ---------------------------------------------------------------------

def _file_bytes(root):
    out = {}
    for d, _dirs, names in os.walk(root):
        for name in names:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_plain_sink_tree_is_refused_untouched(spark, tmp_path):
    """The plain sink wrote trade_date=D/batch_id=B/part-*.parquet with
    no _txn/ log.  Replaying its last uncommitted batch through this
    sink would publish txn-0.parquet beside those part files and store
    the batch twice, so such a root is refused before anything is
    written, and every file in it is byte-for-byte unchanged."""
    out = str(tmp_path / "out")
    (_batch(spark, range(3), day=1)
     .withColumn("trade_date", F.to_date("time_placed"))
     .withColumn("batch_id", F.lit(0))
     .write.partitionBy("trade_date", "batch_id").parquet(out))
    before = _file_bytes(out)
    assert any("trade_date=2024-01-01" in p for p in before)

    with pytest.raises(ValueError, match="fresh --sink-path"):
        TxnParquetTradesSink(out)
    assert _file_bytes(out) == before

    # a write-once tree (trade_date dirs beside its _txn/ log) and a
    # fresh root still open
    sink = TxnParquetTradesSink(str(tmp_path / "txn"))
    sink.write(_batch(spark, range(2), day=1), batch_id=0)
    TxnParquetTradesSink(sink.path)
    TxnParquetTradesSink(str(tmp_path / "missing"))


def test_uri_sink_path_is_refused(tmp_path):
    """The commit is os.replace on a POSIX path; a URI path would stage
    through Spark, publish nothing and let the stream commit its
    offsets, so it is refused up front."""
    for uri in (f"file://{tmp_path}/out", f"file:{tmp_path}/out",
                "s3a://bucket/trades"):
        with pytest.raises(ValueError, match="POSIX path"):
            TxnParquetTradesSink(uri)
    assert os.listdir(tmp_path) == []


def test_first_checkpoint_on_root_starting_past_batch_zero(spark, tmp_path):
    """A stream checkpoint that resumes on a fresh root (the plain-sink
    upgrade) commits its first batch at N > 0.  The first checkpoint
    walks from the lowest manifest, and a replay of the checkpointing
    batch rolls forward instead of failing on a batch=0 manifest that
    never existed."""
    sink = TxnParquetTradesSink(str(tmp_path / "out"), checkpoint_every=2)
    for b in (1, 2, 3):
        sink.write(_batch(spark, range(2 * b, 2 * b + 2), day=b), b)
    assert sink.committed_batches() == [1, 2, 3]
    ptr = sink.read_checkpoint_pointer()
    assert ptr["batch"] == 3
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sink.path, "_txn", ptr["file"]))
    assert sorted(set(t.column("batch_id").to_pylist())) == [1, 2, 3]
    assert sorted(t.column("final_rel").to_pylist()) == \
        sorted(sink.visible_files())
    before = _tree_snapshot(sink)
    sink.write(_batch(spark, range(40, 42), day=9), 3)    # replay
    assert _tree_snapshot(sink) == before
    assert len(_rows(spark, sink.path)) == 6


# ---------------------------------------------------------------------
# end-to-end: live view == batch, bit-for-bit, across a crash-replay
# ---------------------------------------------------------------------

class _CrashOnceMidPublishSink(TxnParquetTradesSink):
    """Publishes exactly one file of ``crash_batch``'s manifest, then
    dies — once.  The restarted query's replay rolls forward."""

    def __init__(self, path: str, crash_batch: int):
        super().__init__(path)
        self.crash_batch = crash_batch
        self.crashes = 0

    def _publish(self, batch_id: int) -> None:
        if int(batch_id) == self.crash_batch and self.crashes == 0:
            self.crashes += 1
            with open(self._manifest(batch_id)) as f:
                recorded = json.load(f)
            if recorded["files"]:
                staged_rel, final_rel = recorded["files"][0]
                dst = os.path.join(self.path, final_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(self.path, staged_rel), dst)
            raise RuntimeError("injected mid-publish crash")
        super()._publish(batch_id)


def _write_ingest_file(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _trade(i, day=18):
    return {"userId": f"u{i}", "currencyFrom": "EUR", "currencyTo": "GBP",
            "amountSell": 1000.0 + i, "amountBuy": 747.1, "rate": 0.747,
            "timePlaced": f"{day:02d}-JAN-24 10:27:{i % 60:02d}",
            "originatingCountry": "FR"}


def _poll(predicate, timeout_s=90):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(0.5)
    return False


def test_live_view_equals_batch_across_crash_replay(spark, tmp_path):
    """The pipeline docstring's claim, verbatim: a readStream.parquet
    live view over the txn sink, RUNNING THROUGH an injected mid-batch
    crash and replay of the import query, ends bit-for-bit equal to a
    batch read of the store.  (With the plain overwrite sink the
    replay's fresh file names double-count in the path-keyed file
    source — the r7 gap this sink closes.)"""
    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    os.makedirs(out, exist_ok=True)
    sink = _CrashOnceMidPublishSink(out, crash_batch=1)

    # live view: file stream OVER THE SINK, running across the crash
    live = (spark.readStream.schema(SINK_SCHEMA).parquet(out)
            .writeStream.format("memory").queryName("txn_live_view")
            .option("checkpointLocation", str(tmp_path / "ckpt_live"))
            .outputMode("append")
            .trigger(processingTime="1 second").start())
    try:
        # batch 0: clean
        _write_ingest_file(src / "f1.json", [_trade(i) for i in range(5)])
        q1 = run_import(read_trades_files(spark, str(src)), sink,
                        str(tmp_path / "ckpt"))
        assert _poll(lambda: 0 in sink.committed_batches())

        # batch 1: two trade dates -> two final files; crashes after
        # publishing the first
        _write_ingest_file(src / "f2.json",
                           [_trade(i + 10, day=19) for i in range(3)]
                           + [_trade(i + 20, day=20) for i in range(3)])
        assert _poll(lambda: q1.exception() is not None)
        assert "injected mid-publish crash" in str(q1.exception())
        assert sink.crashes == 1
        q1.stop()

        # restart from the same checkpoint: batch 1 replays, the sink
        # rolls forward from its manifest; then batch 2 proves the
        # recovered sink keeps working
        q2 = run_import(read_trades_files(spark, str(src)), sink,
                        str(tmp_path / "ckpt"))
        try:
            assert _poll(lambda: sorted(sink.committed_batches()) == [0, 1]
                         and len(sink.visible_files()) >= 3)
            _write_ingest_file(src / "f3.json",
                               [_trade(i + 30, day=21) for i in range(4)])
            assert _poll(lambda: 2 in sink.committed_batches())
        finally:
            q2.stop()

        batch_df = spark.read.schema(SINK_SCHEMA).parquet(out)
        expect = batch_df.count()
        assert expect == 15
        assert _poll(
            lambda: spark.table("txn_live_view").count() == expect)
        # ...and STAYS equal (a double-count would land within a trigger)
        time.sleep(3)
        live_rows = sorted(tuple(r) for r in
                           spark.table("txn_live_view").collect())
        batch_rows = sorted(tuple(r) for r in batch_df.collect())
        assert live_rows == batch_rows        # bit-for-bit
        assert dict(spark.table("txn_live_view").dtypes) == \
            dict(batch_df.dtypes)
    finally:
        live.stop()
