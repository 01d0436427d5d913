"""Streaming import pipeline: file source -> 1 s micro-batches ->
idempotent parquet sink; replay must not duplicate rows."""

from __future__ import annotations

import json
import time

from currency_market_pulse_spark.streaming.importer import run_import
from currency_market_pulse_spark.streaming.ingest import read_trades_files
from currency_market_pulse_spark.streaming.txn_sink import (
    TxnParquetTradesSink,
)


def _write_ingest_file(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _trade(i, ts="24-JAN-18 10:27:44", sell=1000.0, buy=747.1):
    return {"userId": str(i), "currencyFrom": "EUR", "currencyTo": "GBP",
            "amountSell": sell, "amountBuy": buy, "rate": 0.747,
            "timePlaced": ts, "originatingCountry": "FR"}


def _run_until(query, predicate, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(0.5)
    return False


def test_import_pipeline_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    _write_ingest_file(src / "f1.json",
                       [_trade(i) for i in range(10)]
                       + [_trade(99, ts="not-a-timestamp")])  # dead-letter

    stream = read_trades_files(spark, str(src))
    q = run_import(stream, TxnParquetTradesSink(str(out)), str(ckpt))
    try:
        def count_rows():
            # reads race the sink's staged writes — treat transient
            # read failures as "not there yet"
            try:
                return spark.read.parquet(str(out)).count()
            except Exception:
                return -1

        assert _run_until(q, lambda: count_rows() >= 10)
        # second file arrives mid-stream
        _write_ingest_file(src / "f2.json", [_trade(i + 100) for i in range(5)])
        assert _run_until(q, lambda: count_rows() == 15)
    finally:
        q.stop()

    df = spark.read.parquet(str(out))
    assert df.count() == 15  # invalid-timestamp row dropped (400 path)
    row = df.filter(df.user_id == "0").collect()[0]
    assert row.amount_sell_micros == 1_000_000_000
    assert abs(row.rate - 0.7471) < 1e-12
    assert row.trade_date is not None and row.batch_id is not None


def test_restart_from_checkpoint_no_loss_no_dup(spark, tmp_path):
    """Stop the import query, drop more data, restart with the SAME
    checkpoint: recovery must pick up exactly where it left off —
    nothing lost, nothing reprocessed (T6 end-to-end)."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def count_rows():
        try:
            return spark.read.parquet(str(out)).count()
        except Exception:
            return -1

    _write_ingest_file(src / "f1.json", [_trade(i) for i in range(5)])
    q1 = run_import(read_trades_files(spark, str(src)),
                    TxnParquetTradesSink(str(out)), str(ckpt))
    try:
        assert _run_until(q1, lambda: count_rows() == 5)
    finally:
        q1.stop()

    # new data arrives while the query is DOWN
    _write_ingest_file(src / "f2.json", [_trade(i + 10) for i in range(3)])

    q2 = run_import(read_trades_files(spark, str(src)),
                    TxnParquetTradesSink(str(out)), str(ckpt))
    try:
        assert _run_until(q2, lambda: count_rows() == 8)
    finally:
        q2.stop()

    df = spark.read.parquet(str(out))
    assert df.count() == 8                      # no loss
    assert df.select("user_id").distinct().count() == 8  # no duplicates


def test_replay_same_batch_is_idempotent(spark, tmp_path):
    out = tmp_path / "out"
    from pyspark.sql import Row
    import datetime as dt
    batch = spark.createDataFrame([Row(
        user_id="1", currency_from="EUR", currency_to="GBP",
        amount_sell_micros=10, amount_buy_micros=20, rate=2.0,
        originating_country="FR",
        time_placed=dt.datetime(2024, 1, 1, 12, 0, 0))])
    sink = TxnParquetTradesSink(str(out))
    sink.write(batch, batch_id=7)
    sink.write(batch, batch_id=7)  # crash-replay of the same batch
    assert spark.read.parquet(str(out)).count() == 1  # no duplicates
    sink.write(batch, batch_id=8)  # a NEW batch appends
    assert spark.read.parquet(str(out)).count() == 2


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static broadcast join: trades enrich with a currency dim
    inside the micro-batch pipeline (the standard reference-data
    pattern)."""
    from pyspark.sql import Row
    from currency_market_pulse_spark.streaming.ingest import enrich_with_dim

    src = tmp_path / "in2"
    src.mkdir()
    _write_ingest_file(src / "f1.json", [_trade(i) for i in range(4)])

    dim = spark.createDataFrame([
        Row(currency_to="GBP", region="EMEA"),
        Row(currency_to="JPY", region="APAC"),
    ])
    enriched = enrich_with_dim(read_trades_files(spark, str(src)), dim,
                               on="currency_to")
    q = (enriched.writeStream.format("memory")
         .queryName("enriched_trades").outputMode("append")
         .trigger(processingTime="1 second").start())
    try:
        assert _run_until(
            q, lambda: spark.table("enriched_trades").count() >= 4)
    finally:
        q.stop()
    rows = spark.table("enriched_trades").collect()
    assert len(rows) == 4
    assert all(r.region == "EMEA" for r in rows)   # GBP -> EMEA


def test_sink_parquet_roundtrip_through_catalog_normalization(spark, tmp_path):
    """Golden round-trip (VERDICT r4 item 7): the frame written by
    TxnParquetTradesSink, re-read from disk, must equal the pre-write
    frame FIELD FOR FIELD — the fixture-regen incident (round 4:
    TIMESTAMP(NANOS)->MICROS re-encode silently broke every events
    query until the catalog normalized encodings) must be impossible
    on our own sink output.  time_placed is ms-precision before the
    write (catalog contract), so any encoding parquet picks must
    round-trip those instants bit-for-bit."""
    from conftest import SF_DIR
    from currency_market_pulse_spark.sources.catalog import (
        events_as_trades,
    )

    trades = events_as_trades(spark, SF_DIR).limit(200)
    before = {tuple(r) for r in trades.collect()}

    out = tmp_path / "sink"
    TxnParquetTradesSink(str(out)).write(trades, batch_id=0)

    back = (spark.read.parquet(str(out))
            .drop("trade_date", "batch_id")
            .select(*trades.columns))  # original column order
    assert dict(back.dtypes) == dict(trades.dtypes)
    after = {tuple(r) for r in back.collect()}
    assert after == before
